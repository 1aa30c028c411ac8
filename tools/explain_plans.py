#!/usr/bin/env python
"""Dump formatted physical plans for the headline queries → PLANS.md.

Evidence artifact: shows pushed filters, pruned read schemas, join
strategies, and partial/final aggregation for the plans the bench
times. Regenerate after plan-affecting changes:

    python tools/explain_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    conf_scope,
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KEEP = re.compile(
    r"^\(\d+\)|PushedFilters|ReadSchema|Arguments: .*Broadcast|"
    r"Functions: |Keys: |partial_"
)
# plan-interesting non-headline queries: the TPC-H shape set (join
# ordering, broadcast choices, semi-join decorrelation)
EXTRAS = (
    "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_volume",
    "tpch_q18_large_orders",
    "tpch_q20_excess_shippers",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q21_waiting_suppliers",
    "contamination_eval_overlap",
    # round-2 late additions
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "text_inverted_index",
    "agg_profile_orders_columns",
    "pipeline_curate_corpus",
    "join_fuzzy_levenshtein",
    "window_rolling_median",
    # round-3: the two families added to the bench extra set
    "graph_pagerank_suppliers",
    "events_funnel_view_click_purchase",
    # round-4: the last two §2.4 families added to the bench extra set
    # (VERDICT.md r3 #6) — two-stage ANN shortlist→rerank and the
    # mapInPandas multimodal decode
    "sim_ivfpq_rerank_topk",
    "multimodal_decode_features",
    # round-4 new surface: cluster-scoped semantic dedup, BPE merge
    # induction, and the write-side layout pair (partition pruning,
    # bucketed no-Exchange join)
    "dedup_semantic_clusters",
    "text_bpe_merges",
    "sink_partitioned_roundtrip",
    "join_bucketed_colocated",
    # round-6 new surface: mega-source two-phase quota (sharded phase-1
    # window), the k∝n SemDeDup configuration, and skew-safe packing
    "dedup_source_quota_two_phase",
    "dedup_semantic_clusters_scaled",
    "pack_sequences_sharded",
    # round-7 new surface: the trained-codebook k∝n SemDeDup (plan
    # byte-identical to the sha variants — the point) and the composed
    # sessionize→funnel→attribution pipeline (two window exchanges +
    # a 5-group final agg)
    "dedup_semantic_clusters_trained",
    "events_session_funnel_attribution",
    "split_cluster_leakage_safe",
    # round-9 new surface: multimodal near-dup pipeline (one shared
    # window exchange), planted-corpus recall measurement, SQ8
    # compressed-domain search (broadcast query side, shortlist join),
    # and BM25 (broadcast corpus stats + TakeOrderedAndProject top-10)
    "multimodal_pipeline_neardup",
    "sim_ann_recall_planted",
    "sim_sq8_topk",
    "text_bm25_topk",
    "retrieval_hybrid_rrf",
    # round-11 new surface: ExactSubstr duplicate spans (gram-hash
    # prune window → candidate-only literal verify → gap-and-island)
    # and span-level decontamination (broadcast eval gram set →
    # map-side semi-join → island merge over matched positions only)
    "dedup_exact_substr_spans",
    "contamination_span_overlap",
    # round-11 third debut: budget-constrained mixture sampling
    # (broadcast per-source allocations + per-source priority window)
    "curation_budget_mixture",
    # round-12 debut: ExactSubstr surgery (detector plan + per-doc
    # span collapse + one id-keyed join + in-row segment zip — the
    # kept-segments complement, no extra shuffle past the detector)
    "dedup_cut_spans",
    # round-12 restructure: first-occurrence as min(struct) aggregate
    # + per-doc count of firsts (the former row_number hot-key window)
    "dedup_span_windows",
    # round-12 second debut: decontamination surgery (bipartite
    # detector + the same cut composition)
    "contamination_cut_spans",
)


def main() -> int:
    spark = get_spark("explain_plans")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/explain_plans.py` at `{SF_DIR}`. Node lists",
        "are abridged to structure + scan details (pushed filters, read",
        "schemas); streaming/pandas queries are omitted (no static plan).",
        "The TPC-H shape set follows the headline plans as join-strategy",
        "evidence (broadcast choices, semi-join decorrelation).",
        "",
    ]
    queries = dict(sorted(registry.headline_queries().items()))
    queries.update(
        (n, registry.all_queries()[n]) for n in EXTRAS
        if n not in queries
    )
    for name, q in queries.items():
        try:
            df = q.fn(spark, SF_DIR)
            if df.isStreaming:
                continue
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # cached/streaming-backed plans
            out += [f"## {name}", "", f"(no static plan: {exc})", ""]
            continue
        lines = [ln for ln in plan.splitlines() if KEEP.search(ln.strip())]
        out += [f"## {name}", "", "```"]
        out += [ln.strip()[:140] for ln in lines]
        out += ["```", ""]
    out += forced_smj_section(spark)
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


SMJ_KEEP = re.compile(
    r"^\(\d+\)|SortMergeJoin|ShuffledHashJoin|Exchange|AQEShuffleRead|"
    r"isFinalPlan|skew|PushedFilters"
)


def forced_smj_section(spark) -> list[str]:
    """Fact⋈fact evidence at simulated scale: broadcast disabled (as if
    both sides exceeded the threshold at 100 TB), AQE skew thresholds
    lowered so the sf0.1 run exhibits the skew-split mechanics. Captures
    the FINAL adaptive plan (isFinalPlan=true) after execution — the
    join strategy AQE actually chose at runtime, not the static guess.
    """
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # sf0.1 shuffle partitions are a few hundred KB; these force the
        # largest ones over the skew bar so the split path executes
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": (
            "131072"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }

    out = [
        "## Forced sort-merge-join section (100 TB fact⋈fact simulation)",
        "",
        "Broadcast disabled + AQE skew thresholds lowered to sf0.1 sizes;",
        "plans below are the FINAL adaptive plans after execution. Evidence",
        "sought: each fact⋈fact join is one Exchange per side feeding",
        "SortMergeJoin (no broadcast fallback), and AQE's skew-split",
        "(`skew=true` on the SMJ operands) engages when a partition",
        "crosses the bar — the mechanics a 1000-executor skewed join",
        "relies on.",
        "",
    ]
    with conf_scope(spark, overrides):
        for name in (
            "flagship_revenue_by_nation",
            "tpch_q18_large_orders",
            "join_composite_key",
        ):
            q = registry.all_queries()[name]
            df = q.fn(spark, SF_DIR)
            df.collect()  # drive AQE to the final plan
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            lines = [
                ln for ln in plan.splitlines() if SMJ_KEEP.search(ln.strip())
            ]
            out += [f"### {name} (forced SMJ)", "", "```"]
            out += [ln.strip()[:140] for ln in lines]
            out += ["```", ""]
        out += skew_split_demo(spark)
    return out


def skew_split_demo(spark) -> list[str]:
    """The test tables are deliberately uniform, so AQE finds no skew in
    the real queries (correct behavior). This demo funnels ~60% of
    lineitem onto one join key — the hot-key profile of a real 100 TB
    log join — and captures the final plan where AQE marks the SMJ
    operand skew=true and splits the hot partition."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table

    import tempfile

    # AQE splits a skewed reducer partition along MAPPER boundaries, and
    # the sf0.1 lineitem parquet is one row group = one mapper =
    # unsplittable — so stage a multi-file copy first (at 100 TB the
    # fact side is thousands of files; this recreates that profile).
    # The payload column keeps the hot partition at real megabytes:
    # column-pruned 8-byte keys compress to almost nothing and stay
    # under the skew threshold (mapStats are compressed sizes).
    staged = os.path.join(
        tempfile.gettempdir(),
        f"mrcs_skew_demo_{spark.sparkContext.applicationId}",
    )
    (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            F.when(F.col("l_orderkey") % 10 < 6, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("hot_key"),
            "l_extendedprice",
            F.md5(F.concat_ws("|", "l_orderkey", "l_partkey", "l_linenumber"))
            .alias("payload"),
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(staged)
    )
    li = spark.read.parquet(staged)
    # plain filtered scan with UNIQUE hot_key values: both join children
    # must be bare shuffle stages or OptimizeSkewedJoin won't split
    # (an aggregate between shuffle and join pins the partitioning)
    dim = (
        load_table(spark, SF_DIR, "orders")
        .filter((F.col("o_orderkey") % 10 >= 6) | (F.col("o_orderkey") == 10))
        .withColumn(
            "hot_key",
            F.when(F.col("o_orderkey") == 10, F.lit(0)).otherwise(
                F.col("o_orderkey")
            ),
        )
        .select("hot_key", "o_orderpriority")
    )
    df = (
        li.join(dim, "hot_key")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("payload").alias("max_payload"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )
    df.collect()
    # simple mode: the runtime skew markers ("skewed" on AQEShuffleRead,
    # the isSkewJoin flag on SortMergeJoin) render here, not in formatted
    plan = df._jdf.queryExecution().executedPlan().toString()
    import shutil

    shutil.rmtree(staged, ignore_errors=True)
    lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"SortMergeJoin|AQEShuffleRead|Exchange|Scan parquet", ln)
    ]
    return [
        "### synthetic hot-key join (AQE skew-split engaged)",
        "",
        "~60% of lineitem mapped to one key, then joined and aggregated;",
        "`skewed` / the SortMergeJoin skew flag below is AQE splitting",
        "the hot partition at runtime (simple-mode executed plan).",
        "",
        "```",
        *[ln.rstrip()[:140] for ln in lines],
        "```",
        "",
    ]


if __name__ == "__main__":
    sys.exit(main())
