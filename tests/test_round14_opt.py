"""Round-14 optimization internals: the vectorized rolling gram hash.

The span family's prune stage moved from per-position JVM HOF hashing
(``xxhash64`` over a 50-element char-array slice — O(L) interpreted
work per position, and the scan subtree appears 4x in the physical
plan) to ONE vectorized numpy pass per Arrow batch inside
``mapInArrow`` (optimization guide §4.2). The hash family swap is
result-invariant because every consumer literal-verifies the candidate
tail (``verify=True``; contamination's matched-tail equality join) —
the semantic properties stay pinned by test_round11/12_properties and
the DuckDB oracles. What THESE tests pin is the new machinery's own
contract: the window hashes the batched prefix-sum form emits are
exactly the per-gram hashes ``gram_hash`` computes, positions are
1-based character positions (unicode-safe), and the emitted row set
matches the old form's (every position of every doc with
len >= min_len, nothing for null/short texts).
"""

from __future__ import annotations

import functools

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.arrow_fold import (
    fold_batches,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
    _GRAM_B,
    _GRAM_BINV,
    _HASH_FIELDS,
    _hashed_gram_positions,
    _prefix_window_hashes,
    _rolling_hash_rows,
    gram_hash,
)

M = 1 << 64


def _mix_py(z: int) -> int:
    z &= M - 1
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (M - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (M - 1)
    return (z ^ (z >> 31)) & (M - 1)


def _ref_hash(gram: str) -> int:
    """Pure-python reference: h = mix(sum_t cp[t] * Binv^t mod 2^64),
    signed-64 view."""
    acc = 0
    for t, c in enumerate(gram):
        acc = (acc + ord(c) * pow(_GRAM_BINV, t, M)) % M
    h = _mix_py(acc)
    return h - M if h >= 1 << 63 else h


def test_base_is_invertible():
    assert _GRAM_B % 2 == 1
    assert (_GRAM_B * _GRAM_BINV) % M == 1


def test_prefix_window_hashes_match_reference_per_gram():
    texts = ["abcdefabcdef hello abcdef", "héllo wörld héllo wörld", "ab"]
    L = 5
    row_idx, p0, hashes = _prefix_window_hashes(texts, L)
    out = {}
    for r, p, h in zip(row_idx, p0, hashes):
        out[(int(r), int(p))] = int(h.view("int64") if hasattr(h, "view") else h)
    expected = {}
    for r, t in enumerate(texts):
        for p in range(max(len(t) - L + 1, 0)):
            expected[(r, p)] = _ref_hash(t[p : p + L])
    # same (row, position) set, same hash values — doc boundaries in the
    # concatenated pass leak nothing, and "ab" (shorter than L) emits 0
    assert {(r, p): (h - M if h >= 1 << 63 else h) for (r, p), h in out.items()} == expected


def test_equal_grams_hash_equal_across_documents():
    texts = ["XXprefix SHARED-GRAM suffix", "other SHARED-GRAM tail", "no match here"]
    L = 11  # "SHARED-GRAM"
    _, _, hashes = _prefix_window_hashes(texts, L)
    g = "SHARED-GRAM"
    h_ref = _ref_hash(g)
    occurrences = [texts[r][p : p + L] for r, p, h in zip(*_prefix_window_hashes(texts, L))]
    hs = [int(h) - M if int(h) >= 1 << 63 else int(h)
          for r, p, h in zip(*_prefix_window_hashes(texts, L))
          if texts[r][p : p + L] == g]
    assert g in occurrences
    assert len(hs) == 2 and all(h == h_ref for h in hs)


def test_rolling_hash_batches_rows_and_nulls():
    L = 4
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2, 3, 4], pa.int64()),
            pa.array(["abcdef", None, "xyz", ""]),
        ],
        names=["_id", "_text"],
    )
    rows = []
    fold = functools.partial(_rolling_hash_rows, L)
    for out in fold_batches([batch], "_id", _HASH_FIELDS, fold):
        for i in range(out.num_rows):
            rows.append(
                (
                    out.column(0)[i].as_py(),
                    out.column(1)[i].as_py(),
                    out.column(2)[i].as_py(),
                )
            )
    # only doc 1 is long enough: positions 1..3, 1-based
    assert [(r[0], r[1]) for r in rows] == [(1, 1), (1, 2), (1, 3)]
    assert rows[0][2] == _ref_hash("abcd")
    assert rows[2][2] == _ref_hash("cdef")


@pytest.mark.usefixtures("spark")
def test_winnow_vectorized_matches_column_form(spark):
    """The r14 vectorized winnowing forms must emit BIT-IDENTICAL
    integers to the column-expression form (whose arithmetic the
    DuckDB oracle replays): same fingerprints in the same per-doc
    first-occurrence order, same summary rows — across the edge cases
    (null/empty/short text, n_hashes < window, all-equal grams,
    non-printable-ASCII stripping)."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
        winnow_fp_pairs,
        winnow_fp_summary,
        winnow_fps,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog the quick fox"),
        (2, None),
        (3, ""),
        (4, "abcd"),  # shorter than k=5 -> no fingerprints
        (5, "abcde"),  # exactly k -> 1 gram, n_h=1 < window
        (6, "abcdefg"),  # n_h=3 < window -> one window over all
        (7, "abcdefgh"),  # n_h=4 == window
        (8, "a" * 20),  # all-equal grams -> distinct collapses to 1
        (9, "héllo wörld strip\x01\x02 me " * 3),  # non-ascii strip
        (10, "mixed \t whitespace\nand punctuation!?"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = {
        r["doc_id"]: list(r["fps"] or [])
        for r in df.select(
            "doc_id", winnow_fps(F.col("text")).alias("fps")
        ).collect()
    }
    new: dict[int, list[int]] = {}
    for r in winnow_fp_pairs(df, "doc_id", "text").collect():
        new.setdefault(r["doc_id"], []).append(r["fp"])
    assert {i: new.get(i, []) for i, _ in rows} == old
    summ = {
        r["doc_id"]: (r["n_fp"], r["fp_min"], r["fp_check"])
        for r in winnow_fp_summary(df, "doc_id", "text").collect()
    }
    assert summ == {
        i: (len(o), min(o) if o else None, sum(o) % 1000000007)
        for i, o in old.items()
    }


@pytest.mark.usefixtures("spark")
def test_gopher_and_ngram_vectorized_match_column_forms(spark):
    """The r14 vectorized Gopher measures / DSIR bucket counts /
    char-trigram stats must be value-identical to the column-fold
    forms they replaced — including the tiebreak (first maximal run of
    the sorted 2-gram array == max count, lexicographically smallest),
    the md5 bucket hash, and the null/short-text contracts."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        md5hash60,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
        char_ngram_stats_rows,
        char_ngrams,
        dsir_bucket_counts_rows,
        gopher_measures_rows,
        tokens,
        top_repeated_shingle,
        word_shingles,
    )

    rows = [
        (1, "a b a b a b c c c"),  # tie between 'a b' (3) and ... runs
        (2, "b a b a b a"),  # 'b a' 3 vs 'a b' 2
        (3, "x"),  # single token -> no bigrams
        (4, ""),  # no tokens
        (5, "one two three four five six one two three four five"),
        (6, "t t t t t t t t"),  # all-equal tokens
        (7, "héllo wörld héllo wörld héllo"),  # non-ascii tokens
        (8, "ab"),  # shorter than 3 chars -> (0, 0) trigrams
        # r15 hardening pins (ADVICE r14): a NULL text row (the column
        # form emits NULL token counts but ('', 0) top2 and 0 5-gram
        # counts — word_shingles' otherwise-branch is an empty array),
        # and a count-tied bigram pair whose TUPLE order and ' '-joined
        # STRING order disagree ('a\x01' < 'a c' joined, ('a','c') <
        # ('a\x01','b') as tuples — \x01 survives the \s+ tokenizer)
        (9, None),
        (10, "a\x01 b a c a\x01 b a c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = df.select(
        "doc_id", F.length("text").alias("nc"), tokens(F.col("text")).alias("tk")
    )
    # old column-fold Gopher frame
    g5 = word_shingles(F.col("tk"), 5)
    old = {
        r["doc_id"]: (
            r["nc"], r["n_tokens"], r["n_distinct_tokens"],
            (r["top2"]["bestg"], r["top2"]["best"]),
            r["n_5grams"], r["n_distinct_5grams"],
        )
        for r in toks.select(
            "doc_id", "nc",
            F.size("tk").alias("n_tokens"),
            F.size(F.array_distinct("tk")).alias("n_distinct_tokens"),
            top_repeated_shingle(
                F.array_sort(word_shingles(F.col("tk"), 2))
            ).alias("top2"),
            F.size(g5).alias("n_5grams"),
            F.size(F.array_distinct(g5)).alias("n_distinct_5grams"),
        ).collect()
    }
    new = {
        r["doc_id"]: (
            r["nc"], r["n_tokens"], r["n_distinct_tokens"],
            (r["top2"]["bestg"], r["top2"]["best"]),
            r["n_5grams"], r["n_distinct_5grams"],
        )
        for r in gopher_measures_rows(toks).collect()
    }
    assert new == old
    # DSIR bucket counts vs the explode + md5hash60 + groupBy form
    old_tf = {
        (r["doc_id"], r["b"]): r["tf"]
        for r in toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("tk"), 2)).alias("gram"),
        )
        .select(
            "doc_id", F.pmod(md5hash60(F.col("gram")), F.lit(64)).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    }
    new_tf = {
        (r["doc_id"], r["b"]): r["tf"]
        for r in dsir_bucket_counts_rows(toks, 64).collect()
    }
    assert new_tf == old_tf
    # char-trigram stats vs the char_ngrams column form
    ng = char_ngrams(F.col("text"), 3)
    old_ng = {
        r["doc_id"]: (r["a"], r["b"])
        for r in df.select(
            "doc_id",
            F.size(ng).alias("a"),
            F.size(F.array_distinct(ng)).alias("b"),
        ).collect()
    }
    new_ng = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct_ngrams"])
        for r in char_ngram_stats_rows(df, "doc_id", "text").collect()
    }
    assert new_ng == old_ng


@pytest.mark.usefixtures("spark")
def test_term_counts_rows_match_explode_groupby(spark):
    """term_counts_rows must equal explode(tokens(lower(text))) +
    groupBy(doc, term).count() exactly, including the zero-token
    row-drop contract and case folding."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
        term_counts_rows,
        tokens,
    )

    rows = [
        (1, "The the THE quick Quick fox"),
        (2, ""),
        (3, "   "),
        (4, "héllo wörld héllo"),
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in df.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    }
    new = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in term_counts_rows(df, "doc_id", "text").collect()
    }
    assert new == old
    assert {1, 4, 5} == {k[0] for k in new}


@pytest.mark.usefixtures("spark")
def test_simhash_md5_vectorized_matches_aggregate_form(spark):
    """The r14 vectorized md5-mode simhash must emit the identical
    longs as the 60-way ±1-vote aggregation, including the zero-token
    row-drop contract."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators import (
        dedup as D,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        _sig_bits,
        _token_hash,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
        tokens,
    )

    rows = [
        (1, "the quick brown fox the quick"),
        (2, ""),  # zero tokens -> no output row
        (3, "   "),  # whitespace only -> no output row
        (4, "single"),
        (5, "a b c d e f g h i j a a a"),
        (6, "héllo wörld héllo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # reference: the original explode + 60-way aggregate, inlined
    n_bits = _sig_bits("md5")
    tok = df.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("_t")
    ).select("doc_id", _token_hash(F.col("_t"), "md5").alias("_h"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("_h"), i).bitwiseAND(F.lit(1))
                    != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        sim = sim + F.when(
            F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    old = {
        r["doc_id"]: r["simhash"]
        for r in bit_sums.select("doc_id", sim.alias("simhash")).collect()
    }
    new = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash64(df, "doc_id", "text", "md5").collect()
    }
    assert new == old
    assert set(new) == {1, 4, 5, 6}  # empty-token docs emit no row


@pytest.mark.usefixtures("spark")
def test_spark_positions_match_old_contract_and_gram_hash(spark):
    df = spark.createDataFrame(
        [(1, "abcabcabc"), (2, None), (3, "ab"), (4, "öabcö")],
        "doc_id long, text string",
    )
    L = 3
    pos = _hashed_gram_positions(df, "doc_id", "text", L)
    got = {(r["_id"], r["_p"]): r["_h"] for r in pos.collect()}
    # old contract: every 1-based position of every long-enough doc
    assert sorted(got) == [(1, p) for p in range(1, 8)] + [(4, 1), (4, 2), (4, 3)]
    # equal grams ("abc" at 1,4,7) share a hash; unicode offsets exact
    assert got[(1, 1)] == got[(1, 4)] == got[(1, 7)] == got[(4, 2)]
    assert got[(4, 1)] != got[(4, 2)]
    # gram_hash (the eval-side literal bridge) agrees with window hashes
    grams = spark.createDataFrame([("abc",), ("öab",)], "g string").select(
        gram_hash(F.col("g")).alias("h")
    )
    hs = [r["h"] for r in grams.collect()]
    assert hs[0] == got[(1, 1)]
    assert hs[1] == got[(4, 1)]
