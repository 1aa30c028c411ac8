"""Text-analysis operators for large-scale training-data pipelines.

Mostly column expressions (JVM-side, codegen'd): tokenize, token/char
statistics, word and character shingles, stopword-based language ID,
quality scoring, and normalization fingerprints. Each is a building
block used by ``plans/text.py`` and ``plans/dedup.py`` with DuckDB
oracles where SQL can express the same computation. The ``*_rows``
and ``winnow_fp_*`` forms fold per document in Python through
:mod:`.arrow_fold` and compute the IDENTICAL values their column
forms do (the winnowing polynomial is plain int64 arithmetic, so
numpy reproduces it bit-for-bit).
"""

from __future__ import annotations

import functools
import hashlib
from collections import Counter

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .arrow_fold import arrow_fold, per_doc

# Stopword lists for the heuristic language-ID scorer. Deliberately tiny:
# the point is the operator shape (fully vectorized scoring + argmax with
# deterministic tie-break), not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "los"),
    "fr": ("le", "les", "des"),
    "de": ("der", "und", "das"),
}


# md5 memo bound per Python worker: ~1M entries ≈ low hundreds of MB
# worst case (key strings dominate) — big enough that the Zipf head of
# any real vocabulary stays resident, small enough that one long-lived
# worker over adversarial input cannot grow without ceiling.
_MEMO_CAP = 1 << 20


@functools.lru_cache(maxsize=_MEMO_CAP)
def md5hash60_py(s: str) -> int:
    """``dedup.md5hash60`` in Python (first 15 md5 hex chars of the
    utf-8 bytes as an int), memoized with LRU eviction so the Zipf head
    stays resident. Module-level so folds ship it by reference."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_shingles(tok: Column, k: int = 3) -> Column:
    """k-word shingles from a token array (empty when fewer than k).

    Built from k aligned slices folded with ``zip_with`` — linear work
    per document. (The obvious ``transform(sequence, i -> concat_ws(' ',
    slice(tok, i, k)))`` form is O(n·k) with a per-position slice and
    benchmarked ~3× slower at sf0.1.)
    """
    n = F.size(tok)
    m = n - (k - 1)
    out = F.slice(tok, 1, m)
    for j in range(2, k + 1):
        out = F.zip_with(
            out, F.slice(tok, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(n >= k, out).otherwise(F.array().cast("array<string>"))


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Character n-grams (empty when the string is shorter than n).

    Splits into a char array once and concats n adjacent elements per
    gram instead of ``col.substr(i, n)``: UTF8String.substring walks to
    the char offset, so the substr form costs O(position) per gram →
    O(len²) per document (the winnow_fps lesson; measured 3.4 s →
    ~1 s for text_char_ngram_stats at sf0.1, identical output)."""
    ln = F.length(col)

    def grams(chars):
        return F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.concat(
                *[F.element_at(chars, i + F.lit(j)) for j in range(n)]
            ),
        )

    return F.when(
        ln >= n,
        F.element_at(F.transform(F.array(F.split(col, "")), grams), 1),
    ).otherwise(F.array().cast("array<string>"))


def char_ngram_stats_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(``id_col``, n_ngrams, n_distinct_ngrams) per document — the
    summary :func:`char_ngrams` + size/array_distinct computes, in
    numpy: each n-gram is encoded as a single uint64 from its code
    points (code points < 2^21, so 3 fit exactly), and distinct-counting
    is ``np.unique`` — a bijection of the distinct-gram-string count, so
    the integers are identical to the column form's. Null or
    shorter-than-n texts yield (0, 0) exactly like ``size(array())``."""
    assert n == 3, "encoding packs exactly 3 code points"
    shift = np.uint64(21)

    def stats(t):
        if t is None or len(t) < 3:
            return [0], [0]
        cps = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
            np.uint64
        )
        tri = (cps[:-2] << (shift + shift)) | (cps[1:-1] << shift) | cps[2:]
        return [len(tri)], [len(np.unique(tri))]

    return arrow_fold(
        df.select(id_col, text_col),
        id_col,
        [("n_ngrams", IntegerType()), ("n_distinct_ngrams", IntegerType())],
        per_doc(stats, 2),
    )


def gopher_measures_rows(toks: DataFrame) -> DataFrame:
    """The Gopher measurement frame — (doc_id, nc, n_tokens,
    n_distinct_tokens, top2 struct, n_5grams, n_distinct_5grams) from a
    pre-tokenized (doc_id, nc, tk) frame — computed per doc in Python
    over the JVM-TOKENIZED arrays: tokenization semantics stay exactly
    ``tokens()``'s, and the array folds (distinct counts, 2-gram
    run-length mode with the first-maximal/lexicographically-smallest
    tiebreak, 5-gram distinct count) are value-identical to the
    column-fold forms because tokens cannot contain whitespace, making
    the ``' '``-join gram encoding injective."""

    def measures(nc, tk):
        if tk is None:
            # the column form's null-tk row: size(null) is NULL for the
            # token counts, but word_shingles' otherwise-branch is an
            # EMPTY array, so top2 is ('', 0) and the 5-gram counts are 0
            return [nc], [None], [None], [("", 0)], [0], [0]
        n = len(tk)
        top2 = ("", 0)
        if n >= 2:
            cnt = Counter(zip(tk, tk[1:]))
            # first maximal run of the SORTED gram array == max count,
            # lexicographically smallest JOINED gram STRING — the tie
            # must be keyed on the ' '-joined gram, not the token tuple:
            # tokens may contain code points below U+0020 (the \s+
            # tokenizer only strips whitespace), and for ('a\x01','b')
            # vs ('a','c') tuple order and joined-string order disagree
            g, c = min(
                cnt.items(),
                key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]),
            )
            top2 = (g[0] + " " + g[1], c)
        k5 = max(n - 4, 0)
        nd5 = len({tuple(tk[i : i + 5]) for i in range(k5)})
        return [nc], [n], [len(set(tk))], [top2], [k5], [nd5]

    top2_type = StructType(
        [
            StructField("bestg", StringType(), True),
            StructField("best", IntegerType(), True),
        ]
    )
    return arrow_fold(
        toks.select("doc_id", "nc", "tk"),
        "doc_id",
        [
            ("nc", toks.schema["nc"].dataType),
            ("n_tokens", IntegerType()),
            ("n_distinct_tokens", IntegerType()),
            ("top2", top2_type),
            ("n_5grams", IntegerType()),
            ("n_distinct_5grams", IntegerType()),
        ],
        per_doc(measures, 6),
    )


def dsir_bucket_counts_rows(toks: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, b, tf) — per-doc hashed-bigram bucket counts from a
    pre-tokenized (doc_id, nc, tk) frame: md5hash60(gram) % buckets,
    counted per doc in Python with :func:`md5hash60_py`. Per-doc Counter
    folding replaces the explode + groupBy(doc, b) shuffle with
    map-side-complete rows (≤ ``buckets`` per doc by construction)."""

    def counts(tk):
        if not tk or len(tk) < 2:
            return None
        cnt = Counter(
            md5hash60_py(a + " " + b) % buckets for a, b in zip(tk, tk[1:])
        )
        return tuple(zip(*sorted(cnt.items())))

    return arrow_fold(
        toks.select("doc_id", "tk"),
        "doc_id",
        [("b", LongType()), ("tf", LongType())],
        per_doc(counts, 2),
    )


def term_counts_rows(
    df: DataFrame, id_col: str, text_col: str, lower: bool = True
) -> DataFrame:
    """(``id_col``, term, tf) — one row per (doc, distinct term) with
    its occurrence count, i.e. exactly
    ``explode(tokens(...)).groupBy(id, term).count()`` with the
    explode + (doc, term) Exchange replaced by a per-doc Counter fold
    over JVM-tokenized arrays: the rows leave Python already
    aggregated. Docs with zero tokens emit no rows, like the explode
    form."""

    def counts(tk):
        if not tk:
            return None
        return tuple(zip(*sorted(Counter(tk).items())))

    tok = tokens(F.lower(F.col(text_col)) if lower else F.col(text_col))
    return arrow_fold(
        df.select(F.col(id_col), tok.alias("_tk")),
        id_col,
        [("term", StringType()), ("tf", LongType())],
        per_doc(counts, 2),
    )


def doc_term_stats_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    lower: bool = True,
) -> DataFrame:
    """(``id_col``, dl, _tf0.._tfk) — one row per document with ≥ 1
    token: document length plus the term frequency of each fixed query
    term, i.e. exactly ``explode(tokens(...)).groupBy(id).agg(count,
    sum(term == t_i)...)`` folded before the Python boundary. One
    ``Counter`` per document gives the exact integer
    ``sum((term == t).cast long)`` for every term in O(dl + |terms|);
    docs with zero tokens emit no row, like the explode+groupBy form."""

    def stats(tk):
        if not tk:
            return None
        counts = Counter(tk)
        return ([len(tk)], *([counts[t]] for t in terms))

    tok = tokens(F.lower(F.col(text_col)) if lower else F.col(text_col))
    return arrow_fold(
        df.select(F.col(id_col), tok.alias("_tk")),
        id_col,
        [("dl", LongType())]
        + [(f"_tf{i}", LongType()) for i in range(len(terms))],
        per_doc(stats, 1 + len(terms)),
    )


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    """How many of ``words`` occur as whole tokens (padded contains)."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    hit = lambda w: F.when(padded.contains(f" {w} "), 1).otherwise(0)  # noqa: E731
    out = hit(words[0])
    for w in words[1:]:
        out = out + hit(w)
    return out


def lang_guess(col: Column) -> Column:
    """Argmax of per-language stopword scores, deterministic tie-break
    in LANG_STOPWORDS order; 'unknown' when all scores are zero."""
    scores = {lang: stopword_hits(col, ws) for lang, ws in LANG_STOPWORDS.items()}
    langs = list(LANG_STOPWORDS)
    expr = F.lit("unknown")
    # build backwards so earlier languages win ties
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs[: langs.index(lang)]:
            cond = cond & (scores[lang] > scores[other])
        for other in langs[langs.index(lang) + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features.

    Everything is computed with length-difference tricks so the whole
    feature set stays inside whole-stage codegen.
    """
    n_chars = F.length(col).cast("double")
    toks = tokens(col)
    n_toks = F.size(toks).cast("double")
    punct = (n_chars - F.length(F.regexp_replace(col, r"[.!?,;:]", ""))).cast(
        "double"
    )
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin("the", "a", "and", "of", "to"))
    ).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_toks > 0, stop / n_toks).otherwise(F.lit(0.0)),
        "mean_token_len": F.when(n_toks > 0, tok_chars / n_toks).otherwise(
            F.lit(0.0)
        ),
    }


def top_repeated_shingle(grams_sorted: Column) -> Column:
    """Most frequent element of a SORTED string array, with its count:
    struct(bestg, best). One linear fold — equal elements are adjacent
    after the sort, so a run-length scan finds the mode without a
    shuffle or a per-doc groupBy. Strict ``>`` keeps the FIRST maximal
    run, i.e. the lexicographically smallest winner — the same row an
    oracle's ``ORDER BY cnt DESC, gram ASC LIMIT 1`` picks.

    The struct accumulator is the idiom for "argmax inside a row":
    state = (prev element, current run, best run, best element).
    """

    def merge(acc, g):
        run = F.when(acc["prev"] == g, acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, g).otherwise(acc["bestg"]).alias("bestg"),
        )

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("bestg"),
    )
    return F.aggregate(
        grams_sorted,
        init,
        merge,
        lambda acc: F.struct(acc["bestg"].alias("bestg"), acc["best"].alias("best")),
    )


def token_poly_hash(tok: Column, max_chars: int = 12) -> Column:
    """Cross-engine string hash: positional base-257 polynomial over the
    first ``max_chars`` characters, mod 1000003 — plain integer
    arithmetic any engine reproduces bit-for-bit (same family as
    :func:`winnow_fps`; engine hashes like xxhash64 have no DuckDB
    equivalent). The cap keeps every weight*char product < 2^31 so the
    sum can never overflow int64; truncating long tokens is standard
    sketch-hash practice and applied identically on both sides."""
    p = 1000003
    acc = F.lit(0).cast("long")
    for i in range(1, max_chars + 1):
        w = pow(257, i - 1, p)
        acc = acc + F.when(
            F.length(tok) >= i,
            F.ascii(tok.substr(i, 1)).cast("long") * F.lit(w),
        ).otherwise(F.lit(0))
    return F.pmod(acc, F.lit(p))


# (a, b) rows of the count-min hash family h_j(x) = ((a*h + b) mod p)
# mod width — literal constants so oracles can re-derive every bucket.
CM_HASH_FAMILY: tuple[tuple[int, int], ...] = (
    (1, 0),
    (31, 17),
    (97, 29),
    (257, 41),
)


# PII patterns shared by the engine and (dialect-compatible: no
# lookarounds, no back-references) the DuckDB/RE2 oracle.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"
PII_IP_RE = r"10\.[0-9]{1,3}\.0\.1"


def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: lowercase, strip punctuation, collapse
    whitespace, trim, md5. The batch analogue of a rolling-hash doc
    signature. The final trim matters: punctuation-only text must
    normalize to "" not " " (found by property testing)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[.!?,;:]", ""), r"\s+", " "
        )
    )
    return F.md5(norm)


def winnow_fps(text: Column, k: int = 5, window: int = 4) -> Column:
    """Winnowing fingerprints (MOSS scheme): polynomial k-gram rolling
    hash (base 257 mod 1000003 — plain arithmetic, so any engine can
    recompute the identical integers), sliding-window minima,
    deduplicated. Returns array<bigint>; empty for docs shorter than k.

    Shared by ``plans/text.py`` (per-doc summary) and the winnowing-
    based dedup clustering in ``plans/advanced.py``; the matching
    DuckDB CTE lives in ``plans/text.py:WINNOW_FPS_CTE``.

    Both engines hash the printable-ASCII projection of the text (the
    same ``[^\\x20-\\x7e]`` strip, Java regex here / RE2 in the CTE) so
    ``ascii``/``substr``/``length`` agree bit-for-bit regardless of
    either engine's unicode-handling version drift. The corpus is pure
    printable ASCII at every SF, so the strip is a no-op today.
    """
    text = F.regexp_replace(text, r"[^\x20-\x7e]", "")
    # base-257 positional weights; literals match WINNOW_FPS_CTE
    B = [1, 257, 66049, 16974593, 4362470401][:k]

    # Character codes as an ARRAY, built in one split pass and bound
    # once per row (single-element array trick, level 1 of 3). The
    # per-gram hash then reads codes via element_at — O(1) — instead of
    # text.substr(i+j, 1): UTF8String.substring walks the string to the
    # char offset, so the substr form cost O(position) per character →
    # O(n²) per document (measured 25.3 s → 1.5 s at sf0.1 for the
    # fingerprint query, bit-identical output).
    codes_expr = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))

    def compute(codes):
        n_grams = F.greatest(F.size(codes) - k + 1, F.lit(0))

        def gram_hash(i):
            acc = F.lit(0).cast("long")
            for j, b in enumerate(B):
                acc = acc + F.element_at(codes, i + F.lit(j)) * b
            return F.pmod(acc, F.lit(1000003))

        hashes = F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))), gram_hash
        )
        hashes = F.when(n_grams > 0, hashes).otherwise(
            F.array().cast("array<bigint>")
        )

        # Bind the O(n) hash array ONCE per row (level 2): referencing
        # `hashes` inside the per-position window-minimum lambda
        # re-evaluates the whole gram-hash chain per position — O(n²·w).
        def winnow(hs):
            n_h = F.size(hs)
            fps = F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_h - window + 1, F.lit(1))),
                    lambda s: F.array_min(F.slice(hs, s, window)),
                )
            )
            return F.when(n_h > 0, fps).otherwise(
                F.array().cast("array<bigint>")
            )

        return F.element_at(F.transform(F.array(hashes), winnow), 1)

    return F.element_at(F.transform(F.array(codes_expr), compute), 1)


def _winnow_fps_np(text: str | None, k: int, window: int, B, strip_rx):
    """One document's winnowing fingerprints as an int64 numpy array —
    the BIT-IDENTICAL integers :func:`winnow_fps` computes (polynomial
    base-257 mod 1000003 gram hashes, window minima, first-occurrence
    dedup), produced by vectorized numpy instead of interpreted JVM
    HOF evaluation. Every edge case of the column form is replicated:
    null/short text → empty; 0 < n_hashes < window → one window over
    whatever exists (the ``slice`` semantics of the JVM form)."""
    if text is None:
        return np.empty(0, np.int64)
    t = strip_rx.sub("", text)
    n = len(t)
    if n < k:
        return np.empty(0, np.int64)
    codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    n_grams = n - k + 1
    hs = np.zeros(n_grams, np.int64)
    for j in range(k):
        hs += codes[j : j + n_grams] * int(B[j])
    hs %= 1000003
    if n_grams >= window:
        mins = np.lib.stride_tricks.sliding_window_view(hs, window).min(
            axis=1
        )
    else:
        mins = hs.min(keepdims=True)
    # array_distinct: first-occurrence order
    _, first = np.unique(mins, return_index=True)
    return mins[np.sort(first)]


def _winnow_setup(k: int, window: int):
    import re

    B = [pow(257, j, 1000003) for j in range(k)]
    return B, re.compile(r"[^\x20-\x7e]")


def winnow_fp_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """(``id_col``, fp) rows — :func:`winnow_fps` exploded, computed
    vectorized (identical integers, identical row multiset: per-doc
    first-occurrence-deduped fingerprints, docs with none emit no
    rows)."""
    B, strip_rx = _winnow_setup(k, window)

    def fold(texts):
        fps = [_winnow_fps_np(t, k, window, B, strip_rx) for t in texts]
        counts = np.fromiter((len(f) for f in fps), np.int64, len(fps))
        return np.repeat(np.arange(len(fps)), counts), [np.concatenate(fps)]

    return arrow_fold(
        df.select(id_col, text_col),
        id_col,
        [("fp", LongType())],
        fold,
    )


def winnow_fp_summary(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """(``id_col``, n_fp, fp_min, fp_check) — the per-doc summary
    text_winnowing_fingerprints emits, same values as summarizing
    :func:`winnow_fps` (n_fp = count of deduped fingerprints, fp_min
    their min or NULL when none, fp_check their sum mod 1000000007)."""
    B, strip_rx = _winnow_setup(k, window)

    def summary(t):
        f = _winnow_fps_np(t, k, window, B, strip_rx)
        return (
            [len(f)],
            [int(f.min()) if len(f) else None],
            [int(f.sum()) % 1000000007],
        )

    return arrow_fold(
        df.select(id_col, text_col),
        id_col,
        [
            ("n_fp", IntegerType()),
            ("fp_min", LongType()),
            ("fp_check", LongType()),
        ],
        per_doc(summary, 3),
    )


def bpe_initial_words(docs, text_col: str = "text"):
    """Word-frequency table with char-level symbol sequences — the BPE
    training working set.

    BPE never iterates over the corpus: it iterates over the DISTINCT
    word table weighted by frequency (the standard formulation, and the
    100 TB story — one corpus-sized shuffle up front, then every merge
    round touches vocab-sized data only). Symbols start as single
    characters plus a terminal ``</w>`` marker so merges can't cross
    word boundaries.
    """
    words = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = F.concat(
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        F.array(F.lit("</w>")),
    )
    return words.select("word", "freq", syms.alias("syms"))


# Greedy left-to-right application of ONE merge (s1, s2) to a symbol
# array, as a sequential fold: if the accumulator's last element is s1
# and the incoming symbol is s2, replace the last element with s1||s2,
# else append. The fold IS exact greedy BPE: a merge product is always
# strictly longer than s1, so it can never be re-consumed as the left
# half of an overlapping match ("aaa" + (a,a) -> ["aa","a"]).
# try_element_at: NULL (not an ANSI error) on the empty accumulator.
_BPE_APPLY = """
aggregate(
  syms,
  cast(array() as array<string>),
  (acc, x) -> CASE
    WHEN try_element_at(acc, -1) = s1 AND x = s2
      THEN concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2)))
    ELSE concat(acc, array(x))
  END)
"""

# Adjacent symbol pairs with positions; the size guard matters because
# Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty.
_BPE_PAIRS = """
CASE WHEN size(syms) >= 2
  THEN transform(sequence(1, size(syms) - 1),
       i -> struct(element_at(syms, i) AS s1, element_at(syms, i + 1) AS s2))
  ELSE cast(array() as array<struct<s1:string,s2:string>>)
END
"""


def bpe_merge_rounds(words, n_rounds: int = 3, return_words: bool = False):
    """``n_rounds`` of distributed BPE merge induction over a
    (word, freq, syms) table; returns the learned merge table
    (merge_rank, left_sym, right_sym, pair_count) — or, with
    ``return_words``, the post-merge (word, freq, syms) table (the
    "apply" half: the tokenized vocabulary after training).

    Each round: count adjacent symbol pairs weighted by word frequency
    (one vocab-sized shuffle), pick the argmax pair with a
    (count DESC, pair ASC) tiebreak as a 1-row DataFrame, broadcast it
    back, and rewrite every word's symbols with the greedy fold — the
    winning pair never visits the driver, mirroring the k-means
    codebook discipline (``operators/similarity.py``). At production
    scale each round's ``words`` frame would be checkpointed to
    truncate lineage, exactly like the pagerank iterations.
    """
    merges = None
    # lazy localCheckpoint, NOT cache(): every round's pair count AND
    # rewrite branch re-derives wf's lineage, which unshared doubles
    # the documents scans per round (~2^rounds scans total — PLANS.md
    # showed 8 corpus scans for 3 rounds). The checkpoint blocks give
    # the same branch sharing (corpus touched once, each round reads
    # vocab-sized data) but are reference-tracked: ContextCleaner frees
    # every round's blocks when the result frame is dropped, where the
    # previous per-round cache() chain pinned initial + n_rounds copies
    # until executor eviction (ADVICE.md r4). Same discipline as the
    # pagerank rounds (plans/advanced.py).
    wf = words.localCheckpoint(eager=False)
    for r in range(1, n_rounds + 1):
        pairs = wf.select(
            "freq", F.explode(F.expr(_BPE_PAIRS)).alias("p")
        ).select("freq", "p.s1", "p.s2")
        best = (
            pairs.groupBy("s1", "s2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "s1", "s2")
            .limit(1)
        )
        m = best.select(
            F.lit(r).alias("merge_rank"),
            F.col("s1").alias("left_sym"),
            F.col("s2").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
        merges = m if merges is None else merges.unionByName(m)
        wf = (
            wf.crossJoin(F.broadcast(best.select("s1", "s2")))
            .select("word", "freq", F.expr(_BPE_APPLY).alias("syms"))
            # each round feeds the NEXT round's two branches; see the
            # localCheckpoint-vs-cache note above
            .localCheckpoint(eager=False)
        )
    return wf if return_words else merges
