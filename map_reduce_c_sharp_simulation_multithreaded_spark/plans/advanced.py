"""Advanced operators: Pandas-UDF surface, bucketized range join,
iterative algorithms.

Covers the SURVEY.md §2.3 "UDF/UDAF/UDTF surface" with Arrow-batched
implementations whose semantics remain SQL-expressible (so they keep
full DuckDB oracles — the UDF is the implementation, not the contract),
plus the two classic "Spark lacks a primitive" shapes: range joins via
bucketing, and an iterative fixpoint (connected components) built from
joins — each step a bounded shuffle, no driver-side graph state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..operators.text import winnow_fp_pairs
from ..session import pin_session
from .registry import register


@register(
    "pandas_grouped_zscore",
    oracle="""
SELECT c_custkey,
       ROUND((c_acctbal - avg_bal) / NULLIF(sd_bal, 0), 4) AS zscore
FROM (
  SELECT c_custkey, c_acctbal,
         AVG(c_acctbal) OVER (PARTITION BY c_nationkey) AS avg_bal,
         STDDEV_SAMP(c_acctbal) OVER (PARTITION BY c_nationkey) AS sd_bal
  FROM customer
)
""",
    tags=("udf", "pandas", "window"),
)
def pandas_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (``applyInPandas``): per-nation z-score.

    The contract is pure SQL (window mean/std), so the oracle fully
    checks the Arrow path: grouping, batch in/out schema, float math.
    ddof=1 matches STDDEV_SAMP.
    """
    pin_session(spark)
    c = load_table(spark, sf_dir, "customer")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["c_acctbal"].std(ddof=1)
        mean = pdf["c_acctbal"].mean()
        z = (pdf["c_acctbal"] - mean) / sd if sd and sd > 0 else pd.Series([None] * len(pdf))
        return pd.DataFrame(
            {"c_custkey": pdf["c_custkey"], "zscore": z.astype(float).round(4)}
        )

    return (
        c.select("c_custkey", "c_nationkey", "c_acctbal")
        .groupBy("c_nationkey")
        .applyInPandas(zscore, "c_custkey long, zscore double")
    )


@register(
    "pandas_asof_join",
    oracle="""
SELECT e.event_id, p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
    tags=("udf", "pandas", "asof", "custom-operator"),
)
def pandas_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join #2: ``applyInPandas`` + ``pd.merge_asof`` per bucket.

    Alternative implementation of ``asof_join_last_purchase`` (window
    composition) — same oracle, different physical strategy: co-group
    both sides, sort within group, pandas backward-search. The window
    form wins when one side dominates; this form wins when both sides
    are dense per key. Both are one shuffle on the join key.

    The cogroup key is a HASH BUCKET of the user, not the user itself:
    ``merge_asof(..., by="user_id")`` does the per-user backward search
    inside one call, so Python runs once per bucket (64 large Arrow
    batches) instead of once per user (thousands of tiny frames, all
    fixed pandas overhead — measured 8.2 s → ~1 s at sf0.1). Bucket
    count is the parallelism knob at cluster scale; per-task memory is
    bounded by the bucket's rows, and user skew inside a bucket is
    bounded by the same per-user row counts the per-user form had.
    """
    pin_session(spark)
    ev = load_table(spark, sf_dir, "events")
    n_buckets = 64
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("bucket")
    errors = ev.filter(F.col("event_type") == "error").select(
        bucket, "user_id", "ts", "event_id"
    )
    # fresh aliases on the shared columns: both cogroup children derive
    # from the SAME ev frame, so bare "user_id"/"ts" carry identical
    # exprIds on both sides, and under an output-pruning parent (e.g.
    # df.count()) the optimizer deduplicates the cogroup's required
    # attributes — the right child's Arrow batches then arrive in
    # Python MISSING those columns (caught by the round-11 shuffle
    # audit, which counts instead of collecting). Alias mints new
    # exprIds, breaking the collision; collect-shaped evaluation never
    # triggered it, which is why the oracle harness stayed green.
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        bucket,
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts"),
        "value",
    )

    def asof(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # emptiness guards BEFORE the sorts: a cogroup side with no
        # rows for this bucket can arrive as a frame with NO columns
        # (observed in the round-11 shuffle audit session), so
        # sort_values("ts") on it raises KeyError — the guards only
        # protect if they run first
        if len(left) == 0:
            return pd.DataFrame({"event_id": [], "last_purchase_value": []})
        if len(right) == 0:
            return pd.DataFrame(
                {"event_id": left["event_id"], "last_purchase_value": None}
            )
        # merge_asof(by=...) needs both frames sorted by the ON key
        left = left.sort_values("ts")
        right = right.sort_values("ts")
        merged = pd.merge_asof(
            left,
            right,
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        return pd.DataFrame(
            {
                "event_id": merged["event_id"],
                "last_purchase_value": merged["value"],
            }
        )

    return (
        errors.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(asof, "event_id long, last_purchase_value double")
    )


@register(
    "range_join_bucketed",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
""",
    tags=("join", "range", "custom-operator"),
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join (pairs of same-user events within 5 minutes) via
    time bucketing.

    The naive form is a per-user theta join (quadratic per key). The
    scale shape: bucket ts to the range width, join on (user, bucket)
    with the probe side exploded to {bucket-1, bucket, bucket+1}, then
    apply the exact range predicate. Work is bounded by bucket
    occupancy, not per-user event count. The oracle is the naive theta
    join — small enough at test scale.
    """
    pin_session(spark)
    ev = load_table(spark, sf_dir, "events")
    width = 300_000_000  # 5 minutes in microseconds
    base = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    ).withColumn("bucket", (F.col("us") / width).cast("long"))
    probe = base.withColumn(
        "bucket", F.explode(F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1))
    )
    a = base.select(
        F.col("user_id"),
        F.col("bucket"),
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
    )
    b = probe.select(
        F.col("user_id"),
        F.col("bucket"),
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
    )
    return (
        a.join(b, ["user_id", "bucket"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("us_a") - F.col("us_b")) <= width)
        )
        .select("id_a", "id_b")
        .distinct()
    )


def _cc_chain(rare_band: tuple[int, int] | None = None) -> str:
    """The shared recursive-CTE chain deriving exact connected
    components (winnowing-fingerprint star edges + transitive
    min-label closure) — reused by the CC oracle (``rare_band=None``:
    every shared fingerprint is an edge source) and the
    keep-best-in-cluster oracle (``rare_band=(lo, hi)``: edges form
    only over fingerprints shared by lo..hi docs — the boilerplate
    frequency cut)."""
    from .text import WINNOW_FPS_CTE

    if rare_band is None:
        src, extra = "doc_fp", ""
    else:
        lo, hi = rare_band
        src = "rfp"
        extra = f"""
rare AS (
  SELECT fp FROM doc_fp GROUP BY fp HAVING COUNT(*) BETWEEN {lo} AND {hi}
),
rfp AS (SELECT d.doc_id, d.fp FROM doc_fp d JOIN rare USING (fp)),"""
    return f"""{WINNOW_FPS_CTE},
doc_fp AS (
  SELECT DISTINCT doc_id, UNNEST(fps) AS fp FROM w
),{extra}
hubs AS (SELECT fp, MIN(doc_id) AS hub FROM {src} GROUP BY fp),
edges AS (
  SELECT DISTINCT d.doc_id AS a, h.hub AS b
  FROM {src} d JOIN hubs h USING (fp) WHERE d.doc_id <> h.hub
),
undir AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
  UNION
    SELECT u.a, r.lab FROM undir u JOIN reach r ON u.b = r.node
)"""


def _cc_oracle() -> str:
    """Exact connected components in DuckDB: the same winnowing-
    fingerprint star edges, closed with a recursive CTE (transitive
    min-label closure), independent of the engine's iterative loop."""
    return f"""
WITH RECURSIVE {_cc_chain()}
SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
"""


@register(
    "dedup_connected_components",
    oracle=_cc_oracle(),
    tags=("dedup", "iterative", "custom-operator"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components by iterative
    min-label propagation over the shared-winnowing-fingerprint graph
    (docs sharing a MOSS fingerprint are near-dup candidates — the
    same clustering basis MOSS uses).

    Edges are STAR topology — (doc, min-doc-of-fingerprint) instead of
    all pairs within a fingerprint group — so a fingerprint shared by
    k docs contributes k−1 edges, not k², while connecting the same
    components; that linearity is what survives a hot fingerprint at
    100 TB. Each iteration is two joins + a min-aggregate, all
    distributed, no driver-side graph; lineage is localCheckpoint-
    truncated every 3 rounds. Output: every doc with
    cluster_id = min doc_id of its component (singletons = self).

    The fingerprint arithmetic is engine-independent (polynomial
    rolling hash, plans/text.py), so the DuckDB oracle re-derives the
    identical graph and closes it exactly with a recursive CTE — a
    full differential check of an iterative distributed algorithm.
    (Since round 5 the MinHash-LSH pair graph is ALSO fully
    oracle-backed — dedup_minhash_lsh runs the md5-derived oracle-mode
    hash family, so even its banding is replayed by DuckDB.)
    """
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    labels = _fp_cluster_labels(d, sf_dir, band=None)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _winnow_doc_fp(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, winnowing fingerprint) pairs, CACHED — both
    the hub aggregation and the edge join consume it, the winnowing
    explode is the expensive part (branch-reuse discipline, same as
    pagerank/bfs edge inputs), and the frame is the reusable input
    artifact shared by CC and the keep-best query (cache substitution
    matches the identical plan; compact (doc_id, fp) pairs, one block
    set per dataset under LRU)."""
    # The fingerprints come from the vectorized Arrow fold — identical
    # integers (operators.text.winnow_fp_pairs), numpy instead of
    # interpreted per-position HOF evaluation.
    return winnow_fp_pairs(d, "doc_id", "text").distinct().cache()


def _min_label_components(
    nodes: DataFrame, edges: DataFrame, loop_partitions: int | None = 8
) -> DataFrame:
    """Iterative min-label propagation to a fixpoint: ``nodes`` is a
    1-column (node) frame (isolated nodes label as themselves);
    ``edges`` is a directed (id_a, id_b) frame, symmetrized here.
    Returns (node, label) eager-localCheckpoint'ed, with every
    function-internal cache dropped (ADVICE r5 hygiene). The loop
    executes at ``loop_partitions`` shuffle width
    (:func:`_loop_partitions` — label frames are node-sized); the
    caller's node/edge derivations are materialized BEFORE the width
    narrows (the pagerank() pre-materialization discipline, ADVICE r6)
    so a corpus-scale pair derivation never reduces at loop width."""
    if loop_partitions is not None:
        nodes, edges = nodes.cache(), edges.cache()
        nodes.count(), edges.count()
    with _loop_partitions(nodes.sparkSession, loop_partitions):
        return _min_label_body(nodes, edges)


def _min_label_body(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    # undirected adjacency (both directions) once
    adj = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).cache()
    labels = nodes.withColumn("label", F.col("node"))
    prev_cache = None
    for i in range(10):  # diameter cap; dedup components are shallow
        neighbor_min = (
            adj.join(labels, adj.id_b == labels.node)
            .groupBy(adj.id_a)
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("id_a", "node2")
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # cache BEFORE the convergence probe: the probe's take(1) then
        # materializes into the cache (partially, limit-1 early exit),
        # and the next round reads blocks instead of recomputing the
        # round's join a second time. Periodic localCheckpoint
        # truncates the lineage so the optimizer never re-plans the
        # whole iteration history (same posture as pagerank();
        # cluster-scale: checkpoint()). Track the cached handle
        # separately from the (possibly checkpointed) labels so the
        # previous round's cache is ALWAYS dropped — unpersisting the
        # checkpointed frame would miss the cache blocks on every 3rd
        # round.
        cached = new_labels.cache()
        changed = (
            cached.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .take(1)
        )
        labels = cached.localCheckpoint() if (i + 1) % 3 == 0 else cached
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = cached
        if not changed:
            break
    # Pin the result as its own blocks, then drop the function-internal
    # caches (ADVICE r5 / sweep-accumulation hygiene, same as pagerank).
    final = labels.localCheckpoint()
    for frame in (prev_cache, adj):
        if frame is not None:
            frame.unpersist()
    return final


_CLUSTER_LABELS: dict[tuple, DataFrame] = {}


def _documents_fingerprint(sf_dir: str) -> tuple:
    """(path, size, mtime_ns) of every file under documents.parquet —
    the memo key discipline of the trained ANN codebooks (ADVICE r5):
    an in-process rewrite of the corpus invalidates the entry."""
    import os

    root = os.path.join(sf_dir, "documents.parquet")
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(
            os.path.join(dp, f)
            for dp, _, files in os.walk(root)
            for f in files
        )
    out = []
    for pth in paths:
        try:
            st = os.stat(pth)
            out.append((pth, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((pth, -1, -1))
    return tuple(out)


def _fp_cluster_labels(
    d: DataFrame, sf_dir: str, band: tuple[int, int] | None
) -> DataFrame:
    """(node, label) connected components over the winnowing-fp star
    graph — ``band=(lo, hi)`` restricts edges to fingerprints shared
    by lo..hi docs (the rare-fp boilerplate cut keep-best and the
    leakage-safe split use); ``band=None`` is the full shared-fp graph
    (dedup_connected_components). Eager-checkpointed by
    :func:`_min_label_components` and MEMOIZED per (dataset, band):
    the near-dup cluster index is a build-once/use-many artifact —
    keep-best and the split consume the SAME clusters (consistency
    pinned in tests/test_round7_ops.py), and repeat invocations of any
    consumer pay retrieval only — so the iterative loop runs once per
    corpus, not once per consumer. Same build/search split as the
    trained ANN codebooks; at 100 TB the labels frame would be written
    to parquet at curation time and read by every downstream job. The
    memoized frame is a checkpointed RDD (no cache entry to leak), and
    a fresh process always rebuilds, so plan fingerprints are computed
    on the real build, never a memo hit."""
    key = (sf_dir, _documents_fingerprint(sf_dir), band)
    got = _CLUSTER_LABELS.get(key)
    if got is not None:
        return got
    import time as _time

    from ..buildstats import record_build

    t0 = _time.perf_counter()
    doc_fp = _winnow_doc_fp(d)
    if band is not None:
        lo, hi = band
        rare = (
            doc_fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("nfp"))
            .filter((F.col("nfp") >= lo) & (F.col("nfp") <= hi))
            .select("fp")
        )
        doc_fp = doc_fp.join(rare, "fp")
    hubs = doc_fp.groupBy("fp").agg(F.min("doc_id").alias("hub"))
    edges = (
        doc_fp.join(hubs, "fp")
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("doc_id").alias("id_a"), F.col("hub").alias("id_b"))
        .distinct()
        .cache()
    )
    labels = _min_label_components(
        d.select(F.col("doc_id").alias("node")), edges
    )
    edges.unpersist()
    record_build("cluster_index", _time.perf_counter() - t0,
                 f"fp_cluster_labels band={band}")
    _CLUSTER_LABELS[key] = labels
    return labels


def _rare_fp_cluster_labels(d: DataFrame, sf_dir: str) -> DataFrame:
    """The rare-band (2-4) cluster index keep-best and the split share."""
    return _fp_cluster_labels(d, sf_dir, band=(2, 4))


def _keep_best_oracle() -> str:
    """Keep-best composition oracle: the shared CC chain with the
    rare-fingerprint band (:func:`_cc_chain`) + the
    text_quality_score feature SQL + a per-cluster argmax window."""
    return f"""
WITH RECURSIVE {_cc_chain(rare_band=(2, 4))},
cc AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
q AS (
  SELECT doc_id,
         ROUND(CASE WHEN length(text) > 0
               THEN CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
                    / length(text) ELSE 0.0 END, 4) AS punct_ratio,
         ROUND(CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks, t -> lower(t) IN ('the','a','and','of','to'))) AS DOUBLE)
                    / len(toks) ELSE 0.0 END, 4) AS stopword_ratio
  FROM (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
),
ranked AS (
  SELECT cc.cluster_id, cc.doc_id, q.stopword_ratio,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                            ORDER BY q.stopword_ratio DESC,
                                     q.punct_ratio ASC, cc.doc_id ASC) AS rn
  FROM cc JOIN q USING (doc_id)
),
members AS (SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id)
SELECT r.cluster_id, r.doc_id AS kept_doc_id,
       m.n_members, r.stopword_ratio AS kept_stopword_ratio
FROM ranked r JOIN members m USING (cluster_id)
WHERE rn = 1
"""


@register(
    "curation_cluster_keep_best",
    oracle=_keep_best_oracle(),
    tags=("dedup", "curation", "iterative", "custom-operator"),
)
def curation_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST near-dup collapse: cluster docs over RARE shared
    winnowing fingerprints (shared by 2–4 docs — super-frequent
    fingerprints are boilerplate and are DISCARDED, the standard
    shingle-frequency cut near-dup pipelines apply; without it the
    corpus collapses into one giant component, measured at all three
    SFs), then keep each cluster's single highest-quality member
    instead of keep-first — the curation policy production pipelines
    want (CCNet/RefinedWeb keep the best-scoring copy of a duplicate
    family, not the lowest-id one). Quality rank is (stopword_ratio
    DESC, punct_ratio ASC, doc_id) over the rounded
    ``text_quality_score`` features — deterministic and engine-exact.

    Scale shape: the rare-fp cut bounds star-edge fan-out by the
    rarity ceiling (Σ ≤ 4·|rare fps|, linear), the components reuse
    the same iterative min-label loop as CC
    (:func:`_min_label_components`), and the doc_fp explode is shared
    with CC via the cached input artifact. The oracle composes the
    winnowing CTE + rare filter + recursive closure + quality SQL +
    argmax window — differentially testing the COMPOSITION end to end
    (414 clusters / 33 multi-doc at the sf0.01 driver gate).
    """
    pin_session(spark)
    from ..operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    labels = _rare_fp_cluster_labels(d, sf_dir)
    clusters = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    feats = quality_features(F.col("text"))
    q = d.select(
        "doc_id",
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 4).alias("stopword_ratio"),
    )
    joined = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("stopword_ratio").desc(),
        F.col("punct_ratio").asc(),
        F.col("doc_id").asc(),
    )
    members = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(members, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "n_members",
            F.col("stopword_ratio").alias("kept_stopword_ratio"),
        )
    )


def _cluster_split_oracle() -> str:
    """Leakage-safe split oracle: the shared CC chain (rare-fp band)
    + the same first-md5-nibble rule as split_train_test_hash, applied
    to the CLUSTER id."""
    return f"""
WITH RECURSIVE {_cc_chain(rare_band=(2, 4))},
cc AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       CASE WHEN substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3','4','5','6','7','8','9','a','b','c')
            THEN 'train' ELSE 'eval' END AS split
FROM cc
"""


@register(
    "split_cluster_leakage_safe",
    oracle=_cluster_split_oracle(),
    tags=("mlprep", "split", "dedup", "iterative", "custom-operator"),
)
def split_cluster_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-GUARDED train/eval split: hash the near-dup CLUSTER id,
    not the document — every member of a duplicate family lands on the
    same side, so a near-copy of a training document can never leak
    into eval (the contamination mode `split_train_test_hash`'s own
    docstring warns about, and the reason production corpora split on
    canonical/cluster keys — the deduplicate-then-split discipline of
    CCNet/RefinedWeb-style pipelines; generalizes the reference's
    key-partitioned split files, D/Program.cs:63-149, to a
    semantic key).

    Composition: the rare-winnowing-fingerprint connected components
    (identical derivation to ``curation_cluster_keep_best`` —
    singleton docs are their own cluster) + the first-md5-nibble
    ~81/19 rule from ``split_train_test_hash`` applied to
    'split:'||cluster_id. Emits the per-doc verdict
    (doc_id, cluster_id, split).

    Scale shape: everything is the already-argued CC machinery (star
    edges bounded by the rarity band, node-sized min-label loop) plus
    one row-local hash — no new shuffle beyond the cluster join. The
    oracle re-derives clusters via the recursive-CTE closure and the
    split from the same md5, differentially testing the composition
    end to end. Leakage-freedom (no cluster straddles the splits) is
    pinned in tests/test_round7_ops.py.
    """
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    labels = _rare_fp_cluster_labels(d, sf_dir)
    nibble = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("label").cast("string"))), 1, 1
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.when(nibble.isin(*"0123456789abc"), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


@register(
    "udtf_chunk_windows",
    oracle="""
WITH p AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CAST(u.i AS INT) AS chunk_idx,
       CAST(len(w[(CAST(u.i AS INT) * 8 + 1):((CAST(u.i AS INT) + 1) * 8)])
            AS INT) AS n_words,
       CAST(length(array_to_string(
              w[(CAST(u.i AS INT) * 8 + 1):((CAST(u.i AS INT) + 1) * 8)],
              ' ')) AS INT) AS n_chars
FROM p, LATERAL (
  SELECT unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
) u
""",
    tags=("udf", "udtf", "text"),
)
def udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+ table function): chunk each document
    into 8-word windows, one output row per chunk — the table-function
    fan-out the reference's whole worker body approximates (SURVEY.md
    §2.3 UDF/UDAF/UDTF; the C# map body is the 'UDF',
    D/Program.cs:289-344), and the chunking shape every context-window
    pipeline needs.

    The UDTF is invoked laterally per input row; its semantics stay
    SQL-expressible (split + list slices + unnest on the oracle side),
    so the Python surface is differentially tested, not just
    smoke-tested. Built-in posexplode is the faster path for pure
    explosion (scalar_posexplode_words); the UDTF form is the escape
    hatch when the per-row fan-out body is genuinely imperative.
    """
    from pyspark.sql.functions import udtf

    pin_session(spark)

    @udtf(returnType="doc_id bigint, chunk_idx int, n_words int, n_chars int")
    class ChunkWindows:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            words = text.split(" ")
            for i in range(0, (len(words) + 7) // 8):
                chunk = words[i * 8 : (i + 1) * 8]
                yield doc_id, i, len(chunk), len(" ".join(chunk))

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_udtf_docs"
    )
    spark.udtf.register("chunk_windows", ChunkWindows)
    return spark.sql(
        "SELECT s.* FROM _udtf_docs, "
        "LATERAL chunk_windows(doc_id, text) s"
    )


# The loop-width schedule (VERDICT.md r6 stretch #7): one loop-frame
# partition per LOOP_ROWS_PER_PARTITION node rows, floored at 8. A
# rank/label/frontier row is ~two longs plus shuffle framing, so 4M
# rows is tens of MB per reduce task — far inside executor memory,
# wide enough to amortize task launch. At test SFs every graph is
# under the floor, which is why callers pass 8 literally; at the
# 100 TB shape (SCALE.md "RAISE it at 100 TB") a 10B-node graph
# schedules 2500 partitions: loop_width(10_000_000_000) == 2500.
LOOP_ROWS_PER_PARTITION = 4_000_000


def loop_width(n_nodes: int) -> int:
    """Shuffle width for a node-sized iterative loop — the documented
    form of the hard-coded ``loop_partitions=8`` the graph queries use
    (they sit below the floor at every test SF). Callers at scale size
    the loop from an estimated node count instead of inheriting the
    corpus-scan width."""
    return max(8, -(-n_nodes // LOOP_ROWS_PER_PARTITION))


def _loop_partitions(spark, n: int | None):
    """Context manager: size ``spark.sql.shuffle.partitions`` for an
    iterative loop's execution, restoring the session conf afterwards.

    The loop frames (ranks / labels / frontiers) are node-sized, not
    corpus-sized, and the loop pays per-TASK scheduling overhead every
    round — ~20 small stages for 5 pagerank rounds. AQE coalesces the
    reduce side at runtime but cannot shrink the map-side width it
    inherits, so at test scale 32-wide rounds are pure task-launch
    overhead (measured: pagerank 4.2 s → 2.9 s warm at 8). Same
    explicit-capacity posture as the streaming state stores
    (events_stream.run_to_completion): at 100 TB you RAISE it until a
    node-frame partition fits executor memory — the point is that the
    loop's width is an explicit decision tracking node count, not an
    inherited scan setting."""
    import contextlib

    @contextlib.contextmanager
    def _ctx():
        if n is None:
            yield
            return
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return _ctx()


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 1,
    redistribute_dangling: bool = False,
    loop_partitions: int | None = None,
) -> DataFrame:
    """PageRank by power iteration (see :func:`_pagerank_body`); when
    ``loop_partitions`` is set, the loop's execution — everything up to
    and including the final eager checkpoint — runs at that shuffle
    width (:func:`_loop_partitions`: the node-sized iterative tail is
    an explicit capacity decision, not the corpus-scan default).

    The caller's edge derivation is materialized BEFORE entering the
    narrowed context (ADVICE r6): the body's first action
    (nodes.count()) would otherwise run the corpus-scale derivation
    (graph_pagerank_suppliers: lineitem⋈orders → distinct →
    symmetrize) with its reduce stages at the node-sized loop width —
    harmless at test SFs, a straggler at the 100 TB shape. A cheap
    count here fills the cache at the session's corpus-scan width; the
    body's ``.cache()`` on the same plan is then a no-op."""
    if loop_partitions is not None:
        edges = edges.cache()
        edges.count()
    with _loop_partitions(edges.sparkSession, loop_partitions):
        return _pagerank_body(
            edges, n_iter, damping, checkpoint_every, redistribute_dangling
        )


def _pagerank_body(
    edges: DataFrame,
    n_iter: int,
    damping: float,
    checkpoint_every: int,
    redistribute_dangling: bool,
) -> DataFrame:
    """PageRank by power iteration — pure DataFrame ops, no driver graph.

    Per iteration: one join (rank → out-edges), one aggregation
    (contributions per destination), one left join back onto the node
    set. The lineage is truncated with ``localCheckpoint`` every
    ``checkpoint_every`` rounds — without that, iterative plans nest
    exponentially and re-optimize the whole history each round (the
    at-scale practice SCALE.md promises for iterative operators; on a
    cluster this would be reliable ``checkpoint()`` to HDFS).

    The default cadence is EVERY round, measured, not assumed: a lazy
    checkpoint materializes once and every downstream branch reads its
    blocks, so un-checkpointed rounds re-execute per consumer — the
    dangling variant reads ``ranks`` twice per iteration (contribution
    join + dangling-mass aggregate) and cost 5.4 s warm / 13.3 s cold
    at sf0.1 under cadence 2 vs 3.0 s / 3.5 s under cadence 1; the
    symmetrized variant's cold run fell 13.8 s → 2.8 s. The write cost per
    round is one rank-per-node frame to the local block store —
    negligible against re-running a join round.

    With ``redistribute_dangling`` the rank mass parked on sink nodes
    (no out-edges) is spread uniformly each round — full PageRank,
    ranks sum to exactly 1. The dangling total is a one-row aggregate
    cross-joined back into the update (broadcast of a scalar), NOT a
    driver collect, so the loop body stays a single distributed plan.
    Without it, dangling mass leaks (ranks sum to ≤ 1) — fine for
    ranking on graphs with no sinks (e.g. symmetrized ones).

    The INPUT edge frame is persisted before anything derives from it:
    four subtrees consume it (both node-side scans, the out-degree agg,
    and the degree join) and callers typically hand in an expensive
    derivation (graph_pagerank_suppliers: lineitem⋈orders → distinct →
    symmetrize), which otherwise plans and runs once per consumer —
    measured 23.9 s → 15.5 s cold at sf0.1, warm unchanged. Same
    branch-reuse discipline as the minhash/simhash self-joins.
    """
    edges = edges.cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(out_deg, "src").cache()
    dangling = nodes.join(
        out_deg.select(F.col("src").alias("node")), "node", "left_anti"
    ).cache()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(n_iter):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        incoming = F.coalesce(F.col("in_mass"), F.lit(0.0))
        if redistribute_dangling:
            dm = ranks.join(dangling, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dm))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (incoming + F.col("dm") / F.lit(float(n)))
                    ).alias("rank"),
                )
            )
        else:
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (F.lit((1.0 - damping) / n) + F.lit(damping) * incoming).alias(
                    "rank"
                ),
            )
        if (i + 1) % checkpoint_every == 0:
            # eager=False: the logical plan is truncated immediately
            # (bounding re-optimization growth) but the checkpoint RDD
            # materializes inside the final action instead of as its
            # own job per round — measured 0.6 s warm / 13 s cold off
            # graph_pagerank_suppliers at sf0.1. BFS/CC keep eager
            # checkpoints: their loops probe each round's result anyway.
            ranks = ranks.localCheckpoint(eager=False)
    # Materialize the result once, then drop the function-INTERNAL
    # caches (ADVICE r5): the eager checkpoint pins the final ranks as
    # its own blocks, so the returned frame no longer reads nodes/e/
    # dangling — without this, repeated invocations in one session
    # (tools/sweep_times.py runs 178 queries × N passes) accumulate
    # cached blocks and lean on LRU eviction. The INPUT edge cache is
    # deliberately left alive: it is the index-like artifact repeat
    # invocations legitimately reuse (cache substitution matches the
    # caller's re-built derivation plan — dropping it measured 2.8 s →
    # 5.7 s warm at sf0.1), it is compact (distinct id pairs, not
    # documents), one block set per distinct edge derivation,
    # MEMORY_AND_DISK — bounded accumulation under LRU.
    ranks = ranks.localCheckpoint()
    for frame in (dangling, e, nodes):
        frame.unpersist()
    return ranks


def _pagerank_oracle(n_iter: int, damping: float) -> str:
    """PageRank oracle: the fixed iteration count lets the power
    iteration unroll into ``n_iter`` chained CTEs (no recursive-CTE
    aggregation needed). The teleport constant is written as
    ``(1.0 - damping)`` exactly like the engine computes it, so both
    sides start from bit-identical doubles; contribution sums differ
    only in float association order, absorbed by ROUND(...,6) with the
    node-id tiebreak deciding the top-20 cut deterministically."""
    base = (1.0 - damping)
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(f"""r{i} AS (
  SELECT nd.node,
         {base!r} / nn.n + {damping!r} * COALESCE(c.in_mass, 0.0) AS rank
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.deg) AS in_mass
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON c.node = nd.node
)""")
    chain = ",\n".join(iters)
    return f"""
WITH cs AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
{chain}
SELECT node, ROUND(rank, 6) AS rank
FROM r{n_iter}
ORDER BY rank DESC, node
LIMIT 20
"""


def _pagerank_directed_oracle(n_iter: int, damping: float) -> str:
    """Directed-graph PageRank oracle WITH dangling-mass redistribution:
    each unrolled iteration carries a one-row scalar CTE summing the
    rank parked on sink nodes (``node NOT IN (SELECT src FROM deg)``),
    mirroring the engine's broadcast-scalar cross join. Same float
    discipline as ``_pagerank_oracle``: identical literals, identical
    op order, ROUND(...,6) absorbing association-order ulps."""
    base = 1.0 - damping
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(f"""r{i} AS (
  SELECT nd.node,
         {base!r} / nn.n
           + {damping!r} * (COALESCE(c.in_mass, 0.0) + dmv.dm / nn.n) AS rank
  FROM nodes nd CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(rank), 0.0) AS dm
              FROM r{i - 1} WHERE node NOT IN (SELECT src FROM deg)) dmv
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.deg) AS in_mass
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON c.node = nd.node
)""")
    chain = ",\n".join(iters)
    return f"""
WITH edges AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
{chain}
SELECT node, ROUND(rank, 6) AS rank
FROM r{n_iter}
ORDER BY rank DESC, node
LIMIT 20
"""


@register(
    "graph_pagerank_directed",
    oracle=_pagerank_directed_oracle(n_iter=5, damping=0.85),
    tags=("iterative", "graph", "custom-operator"),
)
def graph_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the DIRECTED customer→supplier purchase graph with
    dangling-mass redistribution. Every supplier is a sink (no
    out-edges), so roughly half the total rank is dangling each round —
    the degenerate case the symmetrized variant never exercises — and
    redistribution is what keeps the distribution a distribution
    (ranks sum to exactly 1; pinned in tests). Top 20 by rounded rank.
    """
    pin_session(spark)
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li, o = t["lineitem"], t["orders"]
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # loop width 8 == loop_width(n_nodes) at every test SF (node
    # frames ~16k rows at sf0.1, far under the 4M-rows/partition
    # schedule floor); at scale, size via loop_width(estimated nodes)
    ranks = pagerank(
        edges, n_iter=5, redistribute_dangling=True, loop_partitions=8
    )
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


@register(
    "graph_pagerank_suppliers",
    oracle=_pagerank_oracle(n_iter=5, damping=0.85),
    tags=("iterative", "graph", "custom-operator"),
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier purchase graph
    (edges both directions from distinct lineitem⋈orders pairs), 5
    power iterations. Top 20 nodes by rounded rank, id tiebreak.

    The second iterative algorithm beside connected components: CC
    propagates min-labels to a fixpoint, PageRank redistributes mass a
    fixed number of rounds with lineage checkpointing.
    """
    pin_session(spark)
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li, o = t["lineitem"], t["orders"]
    cs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = cs.union(
        cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # loop width 8: rank frames are node-sized — see _loop_partitions
    ranks = pagerank(edges, n_iter=5, loop_partitions=8)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


def bfs_hops(
    edges: DataFrame, source, max_hops: int,
    loop_partitions: int | None = 8,
) -> DataFrame:
    """Breadth-first shortest hop distances from ``source`` over an edge
    list ``(src, dst)`` — the recursive-CTE shape Spark SQL lacks,
    built as a bounded loop of joins (SURVEY.md §2.3 "no transitive
    closure primitive"). The per-hop stages execute at
    ``loop_partitions`` shuffle width (frontier frames are node-sized;
    see :func:`_loop_partitions`).

    Classic visited-set frontier expansion: each round joins the
    current frontier against the edge list, anti-joins out already-
    visited nodes, and stamps the hop count. Every step is a bounded
    key-shuffle (frontier ⋈ edges on node id); the visited set lives
    as a DataFrame, never on the driver, so the same loop runs on a
    1000-executor cluster unchanged. ``localCheckpoint`` truncates
    lineage growth per round (same discipline as pagerank above); the
    loop exits early when a frontier comes back empty — ``isEmpty``
    is a cheap limit-1 job, not a collect of the frontier.
    """
    # The edge list joins against every hop's frontier; persist it so
    # the caller's derivation (graph_bfs_supplier_hops: distinct →
    # window-rank → pair join → symmetrize) runs once, not once per
    # hop — and materialize it BEFORE the loop context narrows the
    # shuffle width (the pagerank() pre-materialization discipline,
    # ADVICE r6), so the derivation reduces at corpus-scan width.
    edges = edges.cache()
    if loop_partitions is not None:
        edges.count()
    visited = edges.sparkSession.createDataFrame(
        [(source, 0)], "node long, dist int"
    )
    frontier = visited.select("node")
    with _loop_partitions(edges.sparkSession, loop_partitions):
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.join(edges, frontier.node == edges.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("dist", F.lit(hop))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.union(nxt).localCheckpoint()
            frontier = nxt.select("node")
    # visited is already materialized (eager per-round checkpoints).
    # The input edge cache is deliberately left alive for repeat
    # invocations — same reuse-vs-LRU posture as pagerank() above.
    return visited


@register(
    "graph_bfs_supplier_hops",
    oracle="""
WITH RECURSIVE sp AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
ranked AS (
  SELECT p, s, ROW_NUMBER() OVER (PARTITION BY p ORDER BY s) AS rn FROM sp
),
pair AS (
  SELECT a.s AS src, b.s AS dst FROM ranked a JOIN ranked b USING (p)
  WHERE a.rn = 1 AND b.rn = 2
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM pair UNION ALL SELECT dst, src FROM pair)
),
bfs AS (
  -- UNION (not ALL): dedup (node, dist) states per step, else the
  -- recursion enumerates PATHS and goes exponential on dense graphs
  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN edges e ON e.src = bfs.node
  WHERE bfs.dist < 6
)
SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node
""",
    tags=("iterative", "graph", "custom-operator"),
)
def graph_bfs_supplier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop distance from supplier 1 over a sparse co-supply
    graph: each part contributes one edge between its two lowest-key
    suppliers (the raw shared-part graph is near-complete at this SF,
    so the min-2 ranking is what makes distances non-trivial). The
    DuckDB oracle is a genuine WITH RECURSIVE — the one relational
    construct Spark has no primitive for — checked against the
    iterative frontier loop, hop cap 6 on both sides.
    """
    pin_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ranked = sp.withColumn(
        "rn", F.row_number().over(Window.partitionBy("p").orderBy("s"))
    )
    a = ranked.filter(F.col("rn") == 1).select("p", F.col("s").alias("src"))
    b = ranked.filter(F.col("rn") == 2).select("p", F.col("s").alias("dst"))
    pair = a.join(b, "p").select("src", "dst")
    edges = (
        pair.union(pair.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
    )
    return bfs_hops(edges, source=1, max_hops=6)


@register(
    "pandas_udaf_weighted_avg",
    oracle="""
SELECT c_nationkey,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                * CAST(ROUND((c_acctbal + 5000.0) * 100) AS BIGINT)) * 100
            // SUM(CAST(ROUND((c_acctbal + 5000.0) * 100) AS BIGINT))
            AS BIGINT) AS w_avg_e4
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_nationkey
""",
    tags=("udf", "pandas", "udaf", "custom-operator"),
)
def pandas_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (true UDAF surface): per-nation
    order value weighted by shifted account balance. One Arrow batch
    per group feeds a scalar-returning pandas function — the UDAF
    registration Spark exposes for custom aggregates (PandasUDFType
    GROUPED_AGG). Weights are shifted +5000 to keep the denominator
    away from zero on any corpus (c_acctbal >= -1000).

    Numeric discipline: a double ratio rounded to 4 places could
    straddle a round-4 tie between numpy's pairwise summation and the
    oracle's sequential sums (the failure class fixed in
    stream_sliding_avg, commit a603098). Instead both engines work in
    exact cents: prices and weights become integer cents (their true
    values have exactly 2 decimals; one double multiply keeps them
    within ulps of the integer, so nearest-integer rounding is
    unambiguous), the UDAF accumulates Python arbitrary-precision ints,
    DuckDB accumulates HUGEINT, and both emit the floor-scaled ratio
    ``w_avg_e4 = Σ(cp·cw)·100 // Σcw`` — bit-identical int64, immune
    to summation order, engine version, and rounding mode.

    At 100 TB: grouped-agg UDFs shuffle each group to one executor —
    fine for bounded groups (25 nations); for high-cardinality keys
    you'd pre-reduce with builtin partial aggs instead (the pattern
    every other aggregate here uses).
    """
    pin_session(spark)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def w_avg_e4(price: pd.Series, weight: pd.Series) -> int:
        cp = [int(round(v)) for v in (price * 100).tolist()]
        cw = [int(round(v)) for v in (weight * 100).tolist()]
        num = sum(p * w for p, w in zip(cp, cw))  # exact, no overflow
        den = sum(cw)  # > 0 by the +5000 shift
        return (num * 100) // den

    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .withColumn("w", F.col("c_acctbal") + 5000.0)
        .groupBy("c_nationkey")
        .agg(w_avg_e4(F.col("o_totalprice"), F.col("w")).alias("w_avg_e4"))
    )


@register(
    "pysource_synthetic_agg",
    oracle="""
SELECT CAST(i % 7 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(SUM(((i * 2654435761) % 1000) / 10.0), 2) AS sum_v,
       CAST(MIN(i) AS BIGINT) AS min_id,
       CAST(MAX(i) AS BIGINT) AS max_id
FROM range(10000) t(i)
GROUP BY 1
""",
    tags=("source", "datasource", "custom-operator"),
)
def pysource_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PARTITIONED Python Data Source (Spark 4
    ``pyspark.sql.datasource``) — the pluggable-source surface, read
    through the planner's partitions()/read() contract (8 parallel
    splits, executor-side generators, no driver rows) and aggregated.
    The source's deterministic hash stream lets DuckDB reproduce the
    identical rows from ``range()``, so even the extension-API path is
    oracle-checked. Values are exact multiples of 0.1 summed as
    doubles; ROUND(,2) absorbs the binary-fraction accumulation noise
    on both engines identically.

    Reference parity: ``partitions()``/``read(split)`` is the
    reference's split-files + per-worker reader
    (``D/Program.cs:63-149,346-372``) as a formal API.
    """
    pin_session(spark)
    from ..sources.python_source import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("rows", "10000")
        .option("partitions", "8")
        .load()
    )
    return df.groupBy((F.col("id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
