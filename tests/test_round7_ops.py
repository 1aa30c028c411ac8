"""Round-7 operator tests: trained-codebook k∝n SemDeDup and the
composed sessionize → funnel → attribution events pipeline.

Pins the contracts VERDICT.md r6 asked for (next-round #3/#6): the
trained SemDeDup's codebook is replay-equal at the k∝n schedule (so
its generated oracle tests the dedup, not the training), trained
occupancy is tighter than the sha-random codebook it replaces, and
the attribution composition's funnel/attribution arms are genuinely
exercised (non-degenerate) while agreeing with its own stage parts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
    _semdedup_scaled_k,
    _trained_semdedup_codebook,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_semdedup_trained_codebook_replay_equal(spark, sf_dir):
    """Training at the k∝n schedule is replay-deterministic — the same
    contract test_trained_codebook_replay_matches_spark pins at k=8,
    re-asserted at the schedule the trained SemDeDup actually uses so
    its GENERATED oracle exercises the dedup verdict, not training."""
    import duckdb

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        replay_kmeans_codebook,
    )

    k = _semdedup_scaled_k(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    spark_cents = _trained_semdedup_codebook(emb, sf_dir)
    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    replay_cents = replay_kmeans_codebook(
        rows, n_centroids=k, n_iter=3
    )
    assert spark_cents == replay_cents
    assert len(spark_cents) == k


def test_semdedup_trained_occupancy_tighter_than_sha(spark, sf_dir):
    """The reason the trained variant exists (VERDICT.md r6 #3): at the
    same k, k-means centers the cells on the data, so cell occupancy is
    tighter than the sha-random codebook's — fewer empty cells and a
    smaller Σ|cell|² pair-work driver. The effect needs k large
    relative to n (at the k=16 floor both codebooks fill every cell
    and measure within noise of each other — verified), so this pins
    the stress regime k = n/4 on the test corpus; the schedule-level
    8×-scale row lives in tools/semdedup_scaling.py --trained /
    SCALE.md. Measured at 500×64 / k=125: sha 119 cells used, max 13,
    Σ|cell|² 2726 vs trained 125 used, max 8, Σ|cell|² 2330."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        _deterministic_centroids,
        assign_cells_broadcast,
        train_kmeans_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    k = max(16, n // 4)

    def stats(cents):
        counts = (
            assign_cells_broadcast(emb, "embedding", cents)
            .groupBy("cell")
            .count()
        )
        row = counts.agg(
            F.count(F.lit(1)).alias("used"),
            F.sum(F.col("count") * F.col("count")).alias("ssq"),
        ).collect()[0]
        return row["used"], row["ssq"]

    sha_used, sha_ssq = stats(_deterministic_centroids(k, 64))
    trained = train_kmeans_codebook(
        emb, "embedding", n_centroids=k, n_iter=3, dim=64,
        id_col="vec_id",
    )
    tr_used, tr_ssq = stats(trained)
    assert tr_used >= sha_used  # fewer (or equal) empty cells
    assert tr_ssq < sha_ssq  # strictly less pair work


def test_semdedup_trained_verdict_schema_and_partition(spark, sf_dir):
    """The trained query keeps the semantic_clusters contract: one
    verdict row per vector, kept ∈ {0,1}, and the kept set is a
    keep-first — in every cell the lowest vec_id is always kept."""
    df = registry.all_queries()["dedup_semantic_clusters_trained"].fn(
        spark, sf_dir
    )
    rows = df.collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    assert {r["kept"] for r in rows} <= {0, 1}
    by_cell = {}
    for r in rows:
        cur = by_cell.get(r["cell"])
        if cur is None or r["vec_id"] < cur["vec_id"]:
            by_cell[r["cell"]] = r
    assert all(r["kept"] == 1 for r in by_cell.values())


def test_attribution_composition_non_degenerate(spark, sf_dir):
    """Every funnel arm must actually fire on the test corpus —
    sessions split (n_sessions > users with one session each would be
    len==1 degeneracy), some but not all sessions convert, and
    attributed revenue is positive. Guards the 1-day episode-gap
    tuning against silently degenerating if the corpus changes."""
    df = registry.all_queries()["events_session_funnel_attribution"].fn(
        spark, sf_dir
    )
    rows = df.collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    n_sessions = sum(r["n_sessions"] for r in rows)
    n_converted = sum(r["n_converted"] for r in rows)
    assert n_sessions > n_users  # sessions actually split
    assert 0 < n_converted < n_sessions  # funnel selective, not dead
    assert sum(r["attributed_revenue"] for r in rows) > 0.0


def test_attribution_sessionization_matches_sessionize_discipline(
    spark, sf_dir
):
    """The composition's stage-1 session count per user equals the
    standalone lag→flag→cumsum sessionizer run at the same 1-day gap —
    the composition reuses the mechanism, not a lookalike."""
    from pyspark.sql import Window as W

    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.events import (
        _SESSION_GAP_US,
    )

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    base = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    gap = F.col("us") - F.lag("us").over(w)
    expected = (
        base.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
        .agg(F.sum("n_sessions").alias("total"))
        .collect()[0]["total"]
    )
    got = (
        registry.all_queries()["events_session_funnel_attribution"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_sessions").alias("total"))
        .collect()[0]["total"]
    )
    assert got == expected


def test_loop_width_schedule():
    """The documented loop-width schedule (VERDICT.md r6 stretch #7):
    floor 8 below 32M nodes, then one partition per 4M node rows —
    SCALE.md's 'RAISE it at 100 TB' rule as code."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        LOOP_ROWS_PER_PARTITION,
        loop_width,
    )

    assert loop_width(1_000) == 8  # every test-SF graph
    assert loop_width(8 * LOOP_ROWS_PER_PARTITION) == 8  # floor edge
    assert loop_width(8 * LOOP_ROWS_PER_PARTITION + 1) == 9
    assert loop_width(10_000_000_000) == 2500  # the 100 TB shape


def test_loop_partitions_restores_conf(spark):
    """_loop_partitions must restore spark.sql.shuffle.partitions on
    BOTH exits — normal and exceptional — and after a real iterative
    query runs (the restore-after assertion VERDICT.md r6 stretch #7
    asked for)."""
    import pytest as _pytest

    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        _loop_partitions,
        pagerank,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _loop_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before

    with _pytest.raises(RuntimeError):
        with _loop_partitions(spark, 5):
            assert spark.conf.get(key) == "5"
            raise RuntimeError("loop body failed")
    assert spark.conf.get(key) == before

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    ranks = pagerank(edges, n_iter=2, loop_partitions=4)
    assert ranks.count() == 4
    assert spark.conf.get(key) == before


def test_cluster_split_leakage_free(spark, sf_dir):
    """The property the query exists for: no near-dup cluster straddles
    the train/eval boundary, every document is assigned exactly once,
    and both splits are non-empty (the nibble rule actually selects)."""
    df = registry.all_queries()["split_cluster_leakage_safe"].fn(
        spark, sf_dir
    )
    rows = df.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())  # no straddle
    splits = {r["split"] for r in rows}
    assert splits == {"train", "eval"}


def test_cluster_split_agrees_with_keep_best_clusters(spark, sf_dir):
    """The split's clusters ARE keep-best's clusters (shared
    derivation): same (doc -> cluster) map, so curating with keep-best
    and splitting leakage-safe compose consistently."""
    split_map = {
        r["doc_id"]: r["cluster_id"]
        for r in registry.all_queries()["split_cluster_leakage_safe"]
        .fn(spark, sf_dir)
        .collect()
    }
    kb = (
        registry.all_queries()["curation_cluster_keep_best"]
        .fn(spark, sf_dir)
        .collect()
    )
    for r in kb:
        assert split_map[r["kept_doc_id"]] == r["cluster_id"]


def test_build_memos_hit_and_invalidate(spark, sf_dir, tmp_path):
    """The build-once memos (rare-fp cluster index, trained SemDeDup
    codebook) must HIT on unchanged data — same object back, no
    rebuild — and REBUILD when the underlying parquet is rewritten
    (the ADVICE-r5 fingerprint-key contract, here actually exercised:
    a stale index served against fresh data would silently disagree
    with the generated oracle)."""
    import shutil

    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        _rare_fp_cluster_labels,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
        _trained_semdedup_codebook,
    )

    d = load_table(spark, sf_dir, "documents")
    labels1 = _rare_fp_cluster_labels(d, sf_dir)
    labels2 = _rare_fp_cluster_labels(d, sf_dir)
    assert labels1 is labels2  # memo hit on unchanged files

    emb = load_table(spark, sf_dir, "embeddings")
    cents1 = _trained_semdedup_codebook(emb, sf_dir)
    cents2 = _trained_semdedup_codebook(emb, sf_dir)
    assert cents1 is cents2

    # rewrite the corpus under a new dir: same CONTENT, different
    # (path, mtime) fingerprint -> both memos must rebuild
    alt = tmp_path / "sfalt"
    alt.mkdir()
    for t in ("documents.parquet", "embeddings.parquet"):
        shutil.copy(f"{sf_dir}/{t}", alt / t)
    d_alt = load_table(spark, str(alt), "documents")
    emb_alt = load_table(spark, str(alt), "embeddings")
    labels3 = _rare_fp_cluster_labels(d_alt, str(alt))
    assert labels3 is not labels1
    cents3 = _trained_semdedup_codebook(emb_alt, str(alt))
    assert cents3 is not cents1
    # identical content -> identical rebuilt values (determinism)
    assert cents3 == cents1
    got1 = sorted((r["node"], r["label"]) for r in labels1.collect())
    got3 = sorted((r["node"], r["label"]) for r in labels3.collect())
    assert got1 == got3
