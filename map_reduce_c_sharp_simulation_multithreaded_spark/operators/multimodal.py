"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video cells are opaque ``binary`` columns with a typed
metadata struct alongside; decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes never round-trip through Python
row objects. The pipeline ships a deterministic fake decode (no
PIL/torchaudio/av dependency) — the Spark-side plumbing (schema,
partitioning, UDF signature, batch shape) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, payload_sha string, width int, height int, "
    "channels int"
)


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Simulate a media column: utf-8 bytes payload + typed metadata.

    In a real pipeline the payload comes from the lakehouse (parquet
    binary / object-store pointers); everything downstream only assumes
    ``binary`` + metadata, which is why the simulation is faithful.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: pseudo width/height/channels
    derived from the payload hash (stable across runs/executors)."""
    h = hashlib.sha256(payload).digest()
    return (h[0] % 128 + 1, h[1] % 128 + 1, (h[2] % 3) + 1)


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: one pandas batch in, one out, no per-row pickling.
    Columns in: (doc_id, payload, meta); out: FEATURE_SCHEMA.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            dims = [_fake_decode(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                    "payload_sha": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in payloads
                    ],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


ARROW_STATS_SCHEMA = "doc_id long, n_bytes long, n_chars long, n_e long"


def arrow_doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Columnar batch stats via ``mapInArrow`` — the zero-copy sibling
    of mapInPandas: Arrow RecordBatches in and out, no pandas
    materialization at all, every op a vectorized pyarrow.compute
    kernel. This is the shape for Python batch processors that never
    need row objects (tokenizer fleets, feature hashers)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches):
        for batch in batches:
            names = batch.schema.names
            text = batch.column(names.index(text_col))
            doc_id = batch.column(names.index("doc_id"))
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(doc_id, pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, "e"), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars", "n_e"],
            )

    return df.select("doc_id", text_col).mapInArrow(run, ARROW_STATS_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, width int, height int, channels int, out_w int, out_h int"
)


def resize_plan(df: DataFrame) -> DataFrame:
    """Fake-decode + fit-in-a-64-box integer resize plan per payload —
    the thumbnail/preprocess shape: decode dims, compute the target
    size with pure integer math (floor-scaled by the longer edge,
    clamped to ≥1), emit the plan. A real pipeline would run the pixel
    resample (PIL.Image.resize) here too; the plan itself is
    deterministic digest arithmetic, so it carries a full oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "channels", "out_w", "out_h")}
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, c = _fake_decode(bytes(p))
                m = max(w, h)
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["out_w"].append(max(1, (w * 64) // m))
                out["out_h"].append(max(1, (h * 64) // m))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_md5 string, n_chars long"


def frame_sample(
    df: DataFrame, frame_chars: int = 256, every: int = 4
) -> DataFrame:
    """Frame sampling over a simulated video payload: chunk the decoded
    payload into fixed-width frames, keep every ``every``-th (the
    keyframe-sampling shape for video curation), emit one row per
    sampled frame — the 1→N fan-out mapInPandas batch shape. Frame
    digests are md5 over the exact char slice, so an independent
    engine re-derives them from the same slicing rule."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_md5": [], "n_chars": []}
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                text = bytes(p).decode("utf-8")
                n_frames = (len(text) + frame_chars - 1) // frame_chars
                for fi in range(0, n_frames, every):
                    fr = text[fi * frame_chars:(fi + 1) * frame_chars]
                    out["doc_id"].append(did)
                    out["frame_idx"].append(fi)
                    out["frame_md5"].append(
                        hashlib.md5(fr.encode("utf-8")).hexdigest()
                    )
                    out["n_chars"].append(len(fr))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, FRAME_SCHEMA)
