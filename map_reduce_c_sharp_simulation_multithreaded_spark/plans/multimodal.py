"""Multimodal-column queries (LLM-pipeline surface, north star §2.4).

Binary payload metadata is oracle-checked (byte length, sha256, first
byte — all JVM-side). The mapInPandas feature extractor's decode is
sha-digest arithmetic, so it is oracle-checked too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.multimodal import (
    arrow_doc_stats,
    attach_binary_payload,
    extract_features,
)
from .registry import register


@register(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha,
       CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte
FROM documents
""",
    tags=("multimodal", "binary"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over binary payloads: byte length, content hash,
    leading byte — all computed on the ``binary`` column JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
        F.ascii(F.substring("text", 1, 1)).cast("int").alias("first_byte"),
    )


@register(
    "arrow_batch_doc_stats",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e
FROM documents
""",
    tags=("multimodal", "mapInArrow", "custom-operator"),
)
def arrow_batch_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` document stats: byte length, char length,
    substring occurrence count — all vectorized pyarrow.compute
    kernels on RecordBatches, no pandas conversion. Deterministic, so
    it carries a full oracle (unlike the decode stub)."""
    return arrow_doc_stats(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_decode_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha,
       CAST(CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 128 + 1
            AS INT) AS width,
       CAST(CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 128 + 1
            AS INT) AS height,
       CAST(CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 3 + 1
            AS INT) AS channels
FROM documents
""",
    tags=("multimodal", "mapInPandas", "custom-operator"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline: attach binary payload → Arrow
    mapInPandas feature extraction (the real decode is import-gated,
    see operators/multimodal.py). The fake decode's pseudo-dimensions
    are pure sha256-digest-byte arithmetic, so DuckDB reproduces them
    exactly from the hex digest — a full cross-engine oracle over a
    mapInPandas path (the UDF is the implementation, not the
    contract)."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(d, "text", "doc_id")
    return extract_features(with_payload)


@register(
    "multimodal_resize_plan",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 128 + 1 AS w,
         CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 128 + 1 AS h,
         CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 3 + 1 AS c
  FROM documents
)
SELECT doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(c AS INT) AS channels,
       CAST(GREATEST(1, (w * 64) // GREATEST(w, h)) AS INT) AS out_w,
       CAST(GREATEST(1, (h * 64) // GREATEST(w, h)) AS INT) AS out_h
FROM dims
""",
    tags=("multimodal", "mapInPandas", "custom-operator"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-resize planning over binary payloads: fake-decode the
    dimensions, fit them in a 64-box with integer floor scaling by the
    longer edge (clamped ≥1). All integer math on digest-derived dims,
    so DuckDB re-derives the exact plan from the hex digest; the
    pixel-level resample is the import-gated step, the PLAN is the
    tested contract (positive operands, so DuckDB's flooring // and
    Python's // agree)."""
    from ..operators.multimodal import resize_plan

    d = load_table(spark, sf_dir, "documents")
    return resize_plan(attach_binary_payload(d, "text", "doc_id"))


@register(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, (length(text) + 255) // 256)) AS fi
  FROM documents
)
SELECT doc_id,
       CAST(fi AS BIGINT) AS frame_idx,
       md5(substr(text, CAST(fi * 256 + 1 AS INT), 256)) AS frame_md5,
       CAST(length(substr(text, CAST(fi * 256 + 1 AS INT), 256))
            AS BIGINT) AS n_chars
FROM f WHERE fi % 4 = 0
""",
    tags=("multimodal", "mapInPandas", "custom-operator"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe sampling over simulated video payloads: fixed
    256-char frames, every 4th kept, one output row per sampled frame
    (the 1→N fan-out mapInPandas shape video curation needs). The
    frame digest is md5 over the exact char slice — both engines hash
    the same utf-8 bytes of the same substring, so the oracle covers
    the fan-out, the sampling stride, and the ragged tail frame."""
    from ..operators.multimodal import frame_sample

    d = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_binary_payload(d, "text", "doc_id"))


@register(
    "multimodal_pipeline_neardup",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 128 + 1 AS w,
         CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 128 + 1 AS h,
         CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 3 + 1 AS c
  FROM documents
), thumb AS (
  SELECT doc_id, n_bytes, c,
         GREATEST(1, (w * 64) // GREATEST(w, h)) AS ow,
         GREATEST(1, (h * 64) // GREATEST(w, h)) AS oh
  FROM dims
)
SELECT doc_id,
       c || 'x' || ow || 'x' || oh AS fingerprint,
       n_bytes,
       CAST(COUNT(*) OVER bucket AS BIGINT) AS bucket_size,
       CAST(FIRST_VALUE(doc_id) OVER bucket AS BIGINT) AS canonical_doc_id,
       CAST(CASE WHEN ROW_NUMBER() OVER (
              PARTITION BY c, ow, oh ORDER BY n_bytes DESC, doc_id ASC
            ) = 1 THEN 1 ELSE 0 END AS INT) AS keep
FROM thumb
WINDOW bucket AS (
  PARTITION BY c, ow, oh ORDER BY n_bytes DESC, doc_id ASC
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
""",
    tags=("multimodal", "dedup", "pipeline", "mapInPandas"),
)
def multimodal_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal curation pipeline under ONE oracle
    (VERDICT.md r7 stretch #7): decode (Arrow mapInPandas, the fake
    extractor whose pseudo-dims are sha256-digest arithmetic) →
    thumbnail-plan (fit-in-64-box integer resize, JVM-side from the
    decoded dims) → near-dup collapse by PERCEPTUAL FINGERPRINT
    (channels × thumb-shape bucket): within each fingerprint bucket
    keep the highest-resolution copy (max payload bytes, doc_id
    tiebreak) as canonical — the image-dedup keep-best discipline.

    Bucket fan-out is bounded by the fingerprint cardinality
    (≤ 3·64·64), never all-pairs. r12 hot-key restructure (the
    ExactSubstr window law applied registry-wide, SCALE.md "Window
    inventory"): bucket_size/canonical/keep were three window
    expressions over the fingerprint — but ≤ 12,288 distinct buckets
    means ~n/12,288 rows PER bucket, each on one window task at
    corpus scale. Now one ``groupBy(bucket).agg(count,
    min(struct(−n_bytes, doc_id)))`` — combiner-friendly, and the
    result is broadcast-sized BY CONSTRUCTION (≤ 12,288 rows) — with
    a broadcast join annotating each row; keep = (doc_id ==
    canonical). The decoded feature frame is cached as a narrow
    (id, bytes, dims) projection so the Arrow decode pass runs once
    for both consumers — the materialization point every real
    multimodal pipeline has anyway. DuckDB re-derives decode, resize
    plan, and the keep decision from the hex digest, so the composed
    oracle covers the full pipeline end to end (positive operands:
    DuckDB's flooring ``//`` and Spark's ``floor`` agree).
    """
    d = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary_payload(d, "text", "doc_id"))
    longer = F.greatest("width", "height")
    thumb = feats.select(
        "doc_id",
        "n_bytes",
        "channels",
        F.greatest(F.lit(1), F.floor(F.col("width") * 64 / longer))
        .cast("long")
        .alias("out_w"),
        F.greatest(F.lit(1), F.floor(F.col("height") * 64 / longer))
        .cast("long")
        .alias("out_h"),
    )
    thumb = thumb.cache()
    # canonical = first by (n_bytes DESC, doc_id ASC) ⟺ min over
    # (−n_bytes, doc_id); the whole keep decision rides one aggregate
    bucket = thumb.groupBy("channels", "out_w", "out_h").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_size"),
        F.min(
            F.struct(
                (-F.col("n_bytes")).alias("nb"), F.col("doc_id").alias("d")
            )
        ).alias("_c"),
    )
    return thumb.join(
        F.broadcast(bucket), ["channels", "out_w", "out_h"]
    ).select(
        "doc_id",
        F.concat_ws("x", "channels", "out_w", "out_h").alias("fingerprint"),
        "n_bytes",
        "bucket_size",
        F.col("_c.d").cast("long").alias("canonical_doc_id"),
        F.when(F.col("doc_id") == F.col("_c.d"), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )
