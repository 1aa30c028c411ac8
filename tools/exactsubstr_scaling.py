#!/usr/bin/env python
"""ExactSubstr scaling evidence (round 11): measure the prune→verify
funnel across SFs, and prove the hash-shape decision on documents long
enough to expose the asymptotics.

    python tools/exactsubstr_scaling.py [--json OUT.json]

Two experiments:

1. FUNNEL — at each testdata SF: total positions, prune survivors
   (64-bit gram-hash window), verified duplicated positions, merged
   spans, plus wall time for the prune-only (``verify=False``) and
   full operator. Shows the candidate fraction the verify join
   actually pays for as the corpus grows.

2. LONG-DOC A/B — the committed rejection of the dynamic-position
   ``substr`` prune (SCALE.md round-11 note) gets measured proof: on
   synthetic corpora of FIXED total characters but growing document
   length (≈300 → 20 000 chars/doc), time the adopted
   ``xxhash64(slice(chars, i, L))`` prune against the
   ``xxhash64(text.substr(i, L))`` form. UTF8String.substring walks to
   the char offset, so the substr form is O(position) per gram —
   O(len²) per document — and should degrade with document length at
   constant total work, while the slice form stays ~flat. (The same
   experiment design as the winnow_fps lesson, applied to this
   round's operator.)

3. LONG-DOC FULL PIPELINE (round 12, VERDICT r11 advice #5) — the
   round-11 A/B only measured the PRUNE stage's hash shape; this runs
   the whole prune→verify→merge operator on the same fixed-budget
   corpora and records the verify-stage and island-merge rows,
   including the per-doc candidate-list bound: the verify stage
   regroups candidate positions per doc with ``collect_list``, so a
   20 000-char doc that is ALL duplicate (the synthetic corpora here
   are ~100 % duplicated by construction — the worst case) holds
   ~20 000 entries in one array. Measured ``max_cand_per_doc`` makes
   that bound a number: the array is O(doc_len) longs — bounded by
   the document's own width, i.e. no worse than the text column the
   same row already carries.

4. WINDOW-vs-GROUPBY A/B (round 12, VERDICT r11 wrong #1) — the
   occurrence counts moved from ``Window.partitionBy(hash)`` (one hot
   boilerplate gram = one task, no combiner, no AQE relief) to
   ``groupBy(hash).count().filter(≥2)`` + left-semi join (partial agg
   combines the hot key map-side; AQE broadcasts the small
   duplicated-hash tail, so positions reach verify with zero
   shuffle). Answers are identical (asserted here; the hypothesis
   suite pins the semantics) — this experiment records the sf0.1 wall
   A/B. Expect ~flat locally: the point is the 100 TB shape, where
   the window's single-task hot key straggles and the aggregate
   doesn't.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
    exact_substr_spans,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    get_spark,
)

L = 50
SFS = ("sf0.001", "sf0.01", "sf0.1")


def _prune_counts(d, make_hashes) -> tuple[int, int]:
    """(total positions, prune survivors) for a given hash builder."""
    pos = d.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(make_hashes()).alias("_p0", "_h"),
    )
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("_h"))
    cand = pos.withColumn("_n", n_occ).filter(F.col("_n") >= 2)
    return pos.count(), cand.count()


def _slice_hashes():
    chars_src = F.split(F.col("text"), "")

    def hash_array(chars):
        n_pos = F.size(chars) - (L - 1)
        hs = F.transform(
            F.sequence(F.lit(1), F.greatest(n_pos, F.lit(1))),
            lambda i: F.xxhash64(F.slice(chars, i, L)),
        )
        return F.when(n_pos > 0, hs).otherwise(
            F.array().cast("array<bigint>")
        )

    return F.element_at(F.transform(F.array(chars_src), hash_array), 1)


def _substr_hashes():
    n_pos = F.length("text") - (L - 1)
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(n_pos, F.lit(1))),
        lambda i: F.xxhash64(F.col("text").substr(i, F.lit(L))),
    )
    return F.when(n_pos > 0, hs).otherwise(F.array().cast("array<bigint>"))


def funnel(spark) -> dict:
    out = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        d = d.cache()
        d.count()
        n_pos, n_cand = _prune_counts(d, _slice_hashes)

        t0 = time.perf_counter()
        n_spans_prune = exact_substr_spans(d, verify=False).count()
        t_prune = time.perf_counter() - t0

        full = exact_substr_spans(d)
        t0 = time.perf_counter()
        n_spans = full.count()
        t_full = time.perf_counter() - t0
        n_dup_pos = int(
            full.agg(F.sum("n_windows")).collect()[0][0] or 0
        )
        d.unpersist()
        out[sf] = {
            "positions": n_pos,
            "prune_survivors": n_cand,
            "survivor_pct": round(100.0 * n_cand / max(n_pos, 1), 2),
            "verified_dup_positions": n_dup_pos,
            "spans": n_spans,
            "spans_prune_only": n_spans_prune,
            "wall_prune_only_sec": round(t_prune, 3),
            "wall_full_sec": round(t_full, 3),
        }
        print(f"{sf}: {out[sf]}")
    return out


def synth_corpus(spark, doc_len: int, total_chars: int):
    """Deterministic word-soup docs of ~doc_len chars with planted
    repetition (16-word vocabulary → shared 50-grams guaranteed), at a
    fixed corpus-wide character budget."""
    n_docs = max(2, total_chars // doc_len)
    words = F.array(*[F.lit(f"w{i:02d}") for i in range(16)])
    n_words = doc_len // 4  # "wNN " = 4 chars
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_words)),
            lambda j: F.element_at(
                words,
                (F.pmod(F.xxhash64(F.col("id") * 7 + j), F.lit(16)) + 1)
                .cast("int"),
            ),
        ),
        " ",
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), body.alias("text")
    )


def longdoc_ab(spark, total_chars: int = 1_500_000) -> dict:
    out = {}
    for doc_len in (300, 2_000, 20_000):
        d = synth_corpus(spark, doc_len, total_chars).cache()
        d.count()
        rows = {}
        for label, mk in (("slice", _slice_hashes), ("substr", _substr_hashes)):
            # warm once, then measure
            _prune_counts(d, mk)
            t0 = time.perf_counter()
            n_pos, n_cand = _prune_counts(d, mk)
            rows[label] = {
                "sec": round(time.perf_counter() - t0, 3),
                "positions": n_pos,
                "survivors": n_cand,
            }
        d.unpersist()
        assert rows["slice"]["survivors"] == rows["substr"]["survivors"]
        rows["substr_over_slice"] = round(
            rows["substr"]["sec"] / max(rows["slice"]["sec"], 1e-9), 2
        )
        out[str(doc_len)] = rows
        print(f"doc_len={doc_len}: {rows}")
    return out


def longdoc_full(spark, total_chars: int = 1_500_000) -> dict:
    """Full prune→verify→merge pipeline at fixed character budget
    across document lengths, plus the verify stage's per-doc
    candidate-list bound (experiment 3 in the module docstring)."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        _hashed_gram_positions,
    )

    out = {}
    for doc_len in (300, 2_000, 20_000):
        d = synth_corpus(spark, doc_len, total_chars).cache()
        n_docs = d.count()
        full = exact_substr_spans(d)
        full.count()  # warm
        t0 = time.perf_counter()
        n_spans = full.count()
        t_full = time.perf_counter() - t0
        n_dup_pos = int(full.agg(F.sum("n_windows")).collect()[0][0] or 0)
        # the verify stage's collect_list bound: candidate positions
        # per doc (the synthetic corpus is ~all-duplicate, so this is
        # the worst case the advice names)
        pos = _hashed_gram_positions(d, "doc_id", "text", L)
        dup_h = (
            pos.groupBy("_h").count().filter(F.col("count") >= 2).select("_h")
        )
        cand = pos.join(F.broadcast(dup_h), "_h", "left_semi")
        per_doc = cand.groupBy("_id").count()
        stats = per_doc.agg(
            F.max("count").alias("mx"), F.avg("count").alias("av")
        ).collect()[0]
        d.unpersist()
        out[str(doc_len)] = {
            "docs": n_docs,
            "wall_full_sec": round(t_full, 3),
            "spans": n_spans,
            "verified_dup_positions": n_dup_pos,
            "max_cand_per_doc": int(stats["mx"] or 0),
            "avg_cand_per_doc": round(float(stats["av"] or 0.0), 1),
        }
        print(f"full doc_len={doc_len}: {out[str(doc_len)]}")
    return out


def _ab_shapes(d) -> dict:
    """Wall A/B of the retired Window-occurrence-count prune against
    the shipped groupBy+semi-join shape on corpus ``d`` (cached for
    the duration), same answers asserted."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        _candidate_literal_grams,
        _hashed_gram_positions,
        _span_islands,
    )

    d = d.cache()
    n_docs = d.count()

    def window_variant():
        # the round-11 shape, reconstructed for the A/B: occurrence
        # counts as windows over the gram hash / literal gram
        pos = _hashed_gram_positions(d, "doc_id", "text", L)
        n_occ = F.count(F.lit(1)).over(Window.partitionBy("_h"))
        cand = (
            pos.withColumn("_n", n_occ)
            .filter(F.col("_n") >= 2)
            .select("_id", "_p")
        )
        wg = _candidate_literal_grams(d, cand, "doc_id", "text", L)
        n_lit = F.count(F.lit(1)).over(Window.partitionBy("_g"))
        dup = (
            wg.withColumn("_nl", n_lit)
            .filter(F.col("_nl") >= 2)
            .select("_id", "_p")
        )
        return _span_islands(dup, L)

    def groupby_variant():
        return exact_substr_spans(d)

    rows = {"n_docs": n_docs}
    try:
        for label, mk in (
            ("window", window_variant), ("groupby", groupby_variant)
        ):
            mk().count()  # warm
            t0 = time.perf_counter()
            n = mk().count()
            rows[label] = {"sec": round(time.perf_counter() - t0, 3),
                           "spans": n}
            print(f"{label}: {rows[label]}")
        assert rows["window"]["spans"] == rows["groupby"]["spans"]
    finally:
        # blocking, and on the assert path too (ADVICE r13): the
        # ladder calls this once per rung, and a lingering cached
        # corpus (sf0.01 + sf0.1 + 2x + 4x ≈ 7x sf0.1 text) would
        # put GC/eviction pressure on exactly the upper-rung timings
        # the ladder exists to compare
        d.unpersist(blocking=True)
    rows["groupby_over_window"] = round(
        rows["groupby"]["sec"] / max(rows["window"]["sec"], 1e-9), 2
    )
    return rows


def window_vs_groupby(spark, sf: str = "sf0.1") -> dict:
    """Experiment 4: the sf0.1 A/B (see :func:`_ab_shapes`)."""
    d = load_table(spark, f"/root/testdata/{sf}", "documents").select(
        "doc_id", "text"
    )
    return _ab_shapes(d)


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _multiply_corpus(d, k: int):
    """K disjoint copies of corpus ``d`` with the i-th copy's text
    passed through an i-rotated alphabet substitution: each copy keeps
    the ORIGINAL's internal duplicate structure exactly (substitution
    is a bijection on characters, so gram equality within a copy is
    preserved), while cross-copy grams differ wherever they contain a
    letter — position volume scales by K at a ~constant duplicate
    fraction, instead of the everything-duplicates degenerate corpus
    naive replication would produce."""
    copies = []
    for i in range(k):
        rot = _ALPHA[i:] + _ALPHA[:i]
        copies.append(
            d.select(
                (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
                F.translate(F.lower(F.col("text")), _ALPHA, rot).alias("text"),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    return out


def recompute_trade_ladder(spark) -> dict:
    """Experiment 5 (round 13, VERDICT r12 next-round #6): the
    groupBy+semi shape costs ~2× the window shape at sf0.1 because the
    semi join evaluates the position scan twice — a CONSTANT factor of
    embarrassingly-parallel map work — while the window shape's cost
    carries the full position-width shuffle plus the hot-key straggler,
    which grow with the corpus. This ladder shows the curves: time
    both shapes at sf0.01 → sf0.1 → 2× and 4× synthetic multiples of
    sf0.1 (see :func:`_multiply_corpus`); the groupby/window ratio
    should flatten or fall as position volume grows, even at
    local[32] where the straggler is only 32-way."""
    rungs = {}
    d01 = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    d1 = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    for label, df in (
        ("sf0.01", d01),
        ("sf0.1", d1),
        ("sf0.1x2", _multiply_corpus(d1, 2)),
        ("sf0.1x4", _multiply_corpus(d1, 4)),
    ):
        print(f"--- ladder rung {label}")
        rungs[label] = _ab_shapes(df)
    return rungs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--ladder-only",
        action="store_true",
        help="run only the recompute-trade ladder (experiment 5) and "
        "merge it into the existing --json artifact",
    )
    args = ap.parse_args()

    spark = get_spark("mrcs_exactsubstr_scaling")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    if args.ladder_only:
        artifact = {}
        if args.json and os.path.exists(args.json):
            with open(args.json, encoding="utf-8") as fh:
                artifact = json.load(fh)
        artifact["recompute_trade_ladder"] = {
            "rungs": recompute_trade_ladder(spark),
        }
    else:
        artifact = {
            "cpu_count": os.cpu_count(),
            "min_len": L,
            "funnel": funnel(spark),
            "longdoc_ab_fixed_total_chars": longdoc_ab(spark),
            "longdoc_full_pipeline": longdoc_full(spark),
            "window_vs_groupby_sf0.1": window_vs_groupby(spark),
            "recompute_trade_ladder": {
                "rungs": recompute_trade_ladder(spark),
            },
        }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
