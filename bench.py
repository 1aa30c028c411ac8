#!/usr/bin/env python
"""Benchmark: run the headline queries and print ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores in the affinity mask).
Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ...}
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    default_cpus,
    get_spark,
    host_speed_probe,
    host_speed_probe_single,
)


# Join-heavy TPC-H shapes + one streaming query, timed alongside the
# headline set but reported under separate keys so `value` stays
# comparable round-over-round with BENCH_r01.json's 9-query total.
EXTRA_BENCH = (
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_volume",
    "tpch_q18_large_orders",
    "tpch_q20_excess_shippers",
    "stream_tumbling_counts",
    # round-2 join-heavy additions
    "tpch_q8_market_share",
    "tpch_q21_waiting_suppliers",
    "contamination_eval_overlap",
    # late round-2: shuffle-heavy text + bounded-frame window shapes
    "text_inverted_index",
    "window_rolling_median",
    # round-3: the two families previously without bench representation
    "graph_pagerank_suppliers",
    "events_funnel_view_click_purchase",
    # round-4 (VERDICT.md r3 #6): the last two §2.4 families without a
    # timed number — two-stage ANN retrieval and multimodal decode
    "sim_ivfpq_rerank_topk",
    "multimodal_decode_features",
    # round-4 new surface: every family added this round gets a timed
    # number in the same round it lands
    "dedup_semantic_clusters",
    "text_bpe_merges",
    "embed_pca_power_iteration",
    "join_bucketed_colocated",
    "sink_partitioned_roundtrip",
    # round-5: surface that changed this round gets a timed number —
    # the trained-IVF query (now the replayable-training path) and the
    # incremental-dedup probe (now bucketed-index SMJ)
    "sim_ivf_trained_topk",
    "dedup_incremental_index",
    # round-5 new surface: source-quota balancing, temperature mix
    # weights, ORC roundtrip
    "dedup_source_quota",
    "curation_mix_weights",
    "source_orc_roundtrip",
    # round-5 late perf pass: every plan the full-sweep audit changed
    # gets a timed number in the round it changed (SCALE.md "Full-sweep
    # timing audit" table)
    "agg_approx_distinct",
    "text_winnowing_fingerprints",
    "text_char_ngram_stats",
    "graph_pagerank_directed",
    "graph_bfs_supplier_hops",
    "dedup_connected_components",
    "pandas_asof_join",
    # round-6 new surface: mega-source two-phase quota, k∝n SemDeDup,
    # skew-safe sharded packing, keep-best near-dup collapse
    "dedup_source_quota_two_phase",
    "dedup_semantic_clusters_scaled",
    "pack_sequences_sharded",
    "curation_cluster_keep_best",
    # round-7 new surface: trained-codebook k∝n SemDeDup and the
    # composed sessionize→funnel→attribution pipeline
    "dedup_semantic_clusters_trained",
    "events_session_funnel_attribution",
    "split_cluster_leakage_safe",
    # round-8 new surface: composed multimodal near-dup pipeline and
    # the ANN recall@k quality measurement
    "multimodal_pipeline_neardup",
    "sim_ann_recall_at_k",
    # round-9 new surface: planted-cluster recall (the corpus with
    # structure the index can actually exploit) and trained-PQ
    # retrieval (the measured answer to the sha-codebook plateau)
    "sim_ann_recall_planted",
    "sim_ivfpq_trained_topk",
    "sim_ivfpq_residual_topk",
    # round-9 late debuts: SQ8 compressed-domain search (zero-training
    # member of the quantization family) and BM25 retrieval
    "sim_sq8_topk",
    "text_bm25_topk",
    # round-9 late perf pass: the tokenize-once text-retrieval
    # restructure (same-round timed number; text_inverted_index is
    # already above)
    "text_tfidf_topk",
    "text_bigram_lm",
    "text_pmi_collocations",
    # round-9 hybrid-retrieval debut
    "retrieval_hybrid_rrf",
    # round-10 debuts: exact all-pairs Jaccard via prefix filtering,
    # DSIR importance weighting toward the Gopher-pass distribution
    "dedup_jaccard_prefix_join",
    "curation_dsir_importance",
    # late round-10 debuts: fuzzy decontamination (bipartite MinHash
    # with a broadcast eval side) and IVF range search (the
    # shuffle-free cut)
    "contamination_fuzzy_minhash",
    "sim_range_search_planted",
    # round-11 debuts: ExactSubstr duplicate spans (gram-hash prune →
    # literal verify → island merge), span-level decontamination
    # (broadcast eval gram set, zero train-side shuffle), and
    # budget-constrained mixture sampling
    "dedup_exact_substr_spans",
    "contamination_span_overlap",
    "curation_budget_mixture",
    # round-12 debuts: ExactSubstr surgery (the deduplicated corpus as
    # kept segments — detector plan + one id-keyed join) and its
    # bipartite twin (the decontaminated training corpus)
    "dedup_cut_spans",
    "contamination_cut_spans",
)


def sweep_channel(repo: str) -> dict:
    """{"sweep_norm_ratio", "sweep_rounds"} from the two newest
    committed SWEEP_r*.json artifacts: host-normalized common-query
    warm-total ratio (tools.sweep_times.host_norm). Empty dict when
    fewer than two sweeps exist. Pure artifact arithmetic — unit-
    tested in tests/test_bench_contract.py."""
    from tools.sweep_times import host_norm

    sweeps = sorted(glob.glob(os.path.join(repo, "SWEEP_r*.json")))
    if len(sweeps) < 2:
        return {}
    with open(sweeps[-2], encoding="utf-8") as fh:
        sprev = json.load(fh)
    with open(sweeps[-1], encoding="utf-8") as fh:
        scur = json.load(fh)
    common = sorted(set(sprev["queries"]) & set(scur["queries"]))
    prev_sum = sum(sprev["queries"][n]["warm"] for n in common)
    cur_sum = sum(scur["queries"][n]["warm"] for n in common)
    return {
        "sweep_norm_ratio": round(
            (cur_sum / prev_sum) / host_norm(sprev, scur), 3
        ),
        "sweep_rounds": [
            int(re.search(r"_r(\d+)\.json$", p).group(1))
            for p in sweeps[-2:]
        ],
    }


# The two genuinely heavy optimized queries reported per-run on the
# stdout line next to the headline set (VERDICT r14 next-round #10:
# the nine headline queries are sub-second session-floor shapes, so
# the driver's per-query table reads epoch noise; these two give it
# signal). They stay in EXTRA_BENCH — reported under a separate
# "heavy" key, NEVER added into "queries"/"value", so the headline
# total remains comparable with BENCH_r01.json's 9-query sum.
HEAVY_REPORT = ("dedup_exact_substr_spans", "graph_pagerank_suppliers")


def effective_cpus() -> int:
    """The resolved core grant that session.get_spark builds local[N]
    from. Reported as "cpus" in the stdout JSON so a core-scaling probe
    sees the grant it set, not os.cpu_count()."""
    return default_cpus()


def prior_bench_paths(repo: str) -> list[str]:
    """Committed MAIN-channel bench artifacts, sorted by round — the
    headline watch's comparison base. Side artifacts (BENCH_r14_c8.json,
    the driver's 8-core probe) sort after the main file of their round
    and must not be matched."""
    return sorted(
        p for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    cpus = effective_cpus()

    # start-of-run load BEFORE the JVM spins up: the cross-run epoch
    # indicator (SCALE.md "host-speed epoch" — identical code measured
    # 5.3-5.9 s vs 6.8-7.7 s between host windows). loadavg_end below
    # is dominated by bench's own 32-thread tail and disambiguates
    # within-run contention instead.
    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("mrcs_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    # host-speed calibration constant (VERDICT.md r7 next-round #4):
    # a fixed CPU-bound probe whose ratio across rounds lets the perf
    # watch normalize for host-speed epochs (identical code measured
    # uniformly 1.4-1.5x slower in one SCALE.md-documented window)
    # before reading a headline swing as a plan change.
    calibration = host_speed_probe(spark)
    calibration_single = host_speed_probe_single(spark)
    print(f"# host_speed_probe: {calibration}s parallel / "
          f"{calibration_single}s single-thread", file=sys.stderr)

    all_q = registry.all_queries()
    headline = sorted(registry.headline_queries())
    assert not (set(EXTRA_BENCH) & set(headline))

    # INTERLEAVED passes over the whole set: each query is sampled at
    # well-separated points in time, so a host-level contention burst
    # (observed: identical code swinging 5.9s -> 8.1s between runs on
    # this VM) cannot depress every sample of a query the way
    # back-to-back repeats can. First pass pays JIT/page-cache warmup
    # (reported as cold); min across passes is the steady-state number
    # a long-running cluster job would see. The HEADLINE set runs SIX
    # passes (VERDICT.md r6 next-round #2a: round 6's 12% driver-channel
    # drift was uniform +0.05-0.15s noise across unrelated queries —
    # two extra samples per query lower the min's variance at ~15s
    # added wall); the extras set keeps four (40+ queries, the sweep
    # artifact is their real perf record).
    # BUILD ledger (ADVICE r8): EXTRA_BENCH queries can pay one-time
    # memoized builds (e.g. dedup_semantic_clusters_trained's codebook)
    # on their first pass; drain after EVERY timed query so the cold
    # number is labeled, not misread as plan cost — the same split
    # sweep_times.py already records.
    builds: dict[str, list[dict]] = {}
    buildstats.drain()  # clear anything an import-time path left

    def run_set(
        names: list[str], passes: int = 4
    ) -> tuple[dict[str, float], dict[str, float]]:
        runs: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(passes):
            for name in names:
                t0 = time.perf_counter()
                all_q[name].fn(spark, sf_dir).collect()
                runs[name].append(time.perf_counter() - t0)
                paid = buildstats.drain()
                if paid:
                    builds.setdefault(name, []).extend(paid)
        times = {n: round(min(r), 3) for n, r in runs.items()}
        cold = {n: round(r[0], 3) for n, r in runs.items()}
        for name in names:
            tag = (f" (+{sum(b['sec'] for b in builds[name]):.2f}s BUILD)"
                   if name in builds else "")
            print(f"# {name}: {times[name]}s warm / {cold[name]}s cold{tag}",
                  file=sys.stderr)
        return times, cold

    times, cold = run_set(headline, passes=6)
    extra_times, extra_cold = run_set(sorted(EXTRA_BENCH))

    # Full breakdown (cold + extras) goes to STDERR **and** to the
    # committed BENCH_DETAIL.json artifact: round 4's single stdout
    # line grew past the driver's ~2 KB tail capture and came back
    # "parsed": null, and round 5's stderr-only extras were likewise
    # tail-truncated out of BENCH_r05.json (VERDICT.md r5 "What's
    # wrong" #1). The driver parses the LAST stdout line, so stdout
    # carries only the compact headline summary (~400 chars); the repo
    # itself carries the full extras record, diffable round-over-round.
    detail = {
        "sf": sf,
        "cold_queries": cold,
        "extra_total": round(sum(extra_times.values()), 3),
        "extra_queries": extra_times,
        "extra_cold_queries": extra_cold,
        # recorded idle check (VERDICT.md r6 #2a): 1/5/15-min load
        # averages at bench START (pre-JVM — the epoch indicator) and
        # END (bench's own tail — within-run contention). A
        # driver-channel swing with load far above the 32-core budget
        # is host contention, not a plan regression (the r4/r6 drift
        # class; measured magnitude in SCALE.md "host-speed epoch").
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "calibration_sec": calibration,
        "calibration_single_sec": calibration_single,
        "cpu_count": os.cpu_count(),
        "cpus": cpus,
        # one-time memoized builds paid during timed passes (ADVICE r8):
        # labeled here so a cold codebook training is never read as the
        # paying query's plan cost
        "builds": builds,
    }
    print("DETAIL " + json.dumps(detail), file=sys.stderr)
    artifact = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_DETAIL.json")
    with open(artifact, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=0, sort_keys=True)
        fh.write("\n")

    out = {
        "metric": "headline_query_wall_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # fixed CPU-bound probe (session.host_speed_probe): divide a
        # round-over-round headline ratio by the ratio of this field
        # before reading it as a plan change (host-epoch normalizer)
        "calibration_sec": calibration,
        "calibration_single_sec": calibration_single,
        "cpu_count": os.cpu_count(),
        # the resolved SPARK_GRAFT_CPUS grant — the local[N] the
        # session actually ran with (cpu_count stays alongside as the
        # machine topology; VERDICT r14 next-round #3)
        "cpus": cpus,
        # the two heavy optimized plans, timed from EXTRA_BENCH's
        # four interleaved passes (warm min) — additions-only, never
        # folded into "value" (see HEAVY_REPORT)
        "heavy": {n: extra_times[n] for n in HEAVY_REPORT
                  if n in extra_times},
        # quiet-window annotation (VERDICT r12 stretch #9): True when
        # the PRE-JVM 1-min load was under 25% of the core budget —
        # the regime where headline numbers are epoch-comparable.
        # Annotates rather than refuses: the driver channel must
        # always produce an artifact, and calibration_sec already
        # normalizes; this flag just says whether normalization had
        # to do any work. A False here means re-run in a quiet window
        # before reading a swing as a plan change.
        "quiet": loadavg_start[0] <= 0.25 * (os.cpu_count() or 32),
    }

    # PRIMARY perf channel (VERDICT r13 next-round #3): the two newest
    # committed 202-query sweep artifacts, compared host-normalized
    # over their common queries. Round 13 showed the two channels can
    # disagree — headline 1.15x normalized while the sweep read 1.01x
    # with zero per-query flags — because nine sub-second queries give
    # the single-task calibration probe almost nothing to normalize
    # (the parallel and single-thread probes even disagreed on the
    # r12->r13 host DIRECTION: 0.94 vs 1.02). ~150 s of measured work
    # across 202 queries swamps that noise, so the sweep ratio rides
    # the driver-parsed stdout line and future rounds read ONE number.
    try:
        out.update(sweep_channel(os.path.dirname(os.path.abspath(__file__))))
    except Exception as e:  # advisory only — never fail the bench
        print(f"# sweep channel unavailable: {e}", file=sys.stderr)

    # Calibrated headline watch (VERDICT.md r8 next-round #3): compare
    # this run's total against the newest committed BENCH_r{N}.json with
    # the SAME host_norm division compare_sweeps applies — round 8
    # committed a 1.36× "regression" that was entirely a host epoch, and
    # the headline channel had no normalizer to say so. Stderr-only:
    # advisory context for the human/judge, never a changed exit code.
    repo = os.path.dirname(os.path.abspath(__file__))
    prior_paths = prior_bench_paths(repo)
    if prior_paths:
        try:
            from tools.sweep_times import host_norm

            with open(prior_paths[-1], encoding="utf-8") as fh:
                prev = (json.load(fh).get("parsed") or {})
            if prev.get("value"):
                ratio = out["value"] / prev["value"]
                norm = host_norm(prev, out)
                print(
                    f"# headline watch vs {os.path.basename(prior_paths[-1])}: "
                    f"raw {ratio:.2f}x, host_norm {norm:.2f}, "
                    f"normalized {ratio / norm:.2f}x", file=sys.stderr,
                )
        except Exception as e:  # advisory only — never fail the bench
            print(f"# headline watch unavailable: {e}", file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
