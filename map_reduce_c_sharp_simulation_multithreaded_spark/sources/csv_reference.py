"""Reference-dialect CSV source/sink + the reference's flagship query.

Reproduces the reference's CSV semantics (SURVEY.md §1.4, FIXTURES.md
§A) as declarative reader options plus explicit expressions:

* delimiter ``,``; NO quote/escape handling (``D/Program.cs:550-573``)
  → ``quote=""`` disables quoting;
* empty fields preserved; empty/missing Donation Amount → 0.0
  (``D/Program.cs:451,580-588``) → coalesce after a permissive cast;
* blank lines skipped (``D/Program.cs:555-561``) → Spark's CSV reader
  drops blank lines natively;
* header row (``D/Program.cs:411-419``) → ``header=True``;
* sink renders amounts F2 invariant-culture without grouping
  separators (``D/Program.cs:483``) → ``format_string('%.2f')``;
* duplicate Donor ID keeps the LAST occurrence (``D/Program.cs:296``)
  → keep-last window over file position;
* per-worker partial aggregation (``DonationAggregator``,
  ``D/Program.cs:273``) → per-donor partial sums computed before the
  join, so the probe is one row per Donor ID;
* missing Donor ID on the probe side THROWS (``D/Program.cs:310``)
  → strict mode via ``strict_join_agg``: one evaluation computes the
  per-state sums and the missing-key check together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import dedup_dim_last_wins, strict_join_agg
from ..schemas import DONATIONS_CSV, DONORS_CSV


def _asciify(df: DataFrame) -> DataFrame:
    """.NET ``Encoding.ASCII`` decode semantics: every byte >= 0x80
    becomes ``'?'`` (one '?' PER BYTE — 'é' in UTF-8 is two bytes and
    decodes to "??"). Byte-faithful because callers decode the file as
    ISO-8859-1 (1 byte ↔ 1 char) before this per-char replacement."""
    out = df
    for f in df.schema.fields:
        if f.dataType.simpleString() == "string":
            out = out.withColumn(
                f.name, F.regexp_replace(F.col(f.name), r"[^\x00-\x7F]", "?")
            )
    return out


def read_donors(
    spark: SparkSession, path: str, ascii_mode: bool = False
) -> DataFrame:
    """Donors CSV (5 positional columns, only ID + State consumed).

    ``path="-"`` reads stdin, the reference's console-pipe mode
    (``inputFile == null`` → ``Console.OpenStandardInput()``,
    ``D/Program.cs:520-523``).

    ``ascii_mode=True`` reproduces the reference's hard-coded
    ``Encoding.ASCII`` readers (``D/Program.cs:65,114`` — the author's
    own ``//TODO: Encoding``): the file is decoded byte-per-char
    (ISO-8859-1) and every non-ASCII byte becomes ``'?'``, exactly the
    .NET ASCII-decoder replacement. Default is UTF-8, the non-bug
    behavior.
    """
    reader = spark.read.schema(DONORS_CSV).options(
        header=True, quote="", sep=","
    )
    if ascii_mode:
        reader = reader.option("encoding", "ISO-8859-1")
    if path == "-":
        df = reader.csv(_stdin_lines(spark))
    else:
        df = reader.csv(path)
    return _asciify(df) if ascii_mode else df


def _stdin_lines(spark: SparkSession):
    """Stdin as an RDD of lines. Console input is driver-bounded by
    nature; the file path is the scale path."""
    import sys

    return spark.sparkContext.parallelize(
        [ln.rstrip("\r\n") for ln in sys.stdin]
    )


def read_donations(
    spark: SparkSession, path: str, ascii_mode: bool = False
) -> DataFrame:
    """Donations CSV; Donation Amount parses permissively (bad/empty →
    NULL → coalesced to 0.0 downstream, matching ReadNextDouble).
    ``ascii_mode`` as in :func:`read_donors` (string columns only; a
    mangled numeric field parses to NULL → 0.0, same end state as the
    reference's failed double.Parse path)."""
    reader = spark.read.schema(DONATIONS_CSV).options(
        header=True, quote="", sep=",", mode="PERMISSIVE"
    )
    if ascii_mode:
        reader = reader.option("encoding", "ISO-8859-1")
    df = reader.csv(path)
    return _asciify(df) if ascii_mode else df


def dedup_donors_last_wins(donors: DataFrame) -> DataFrame:
    """Last-occurrence-wins on duplicate Donor ID.

    The reference's build dictionary overwrite keeps the last row in
    FILE order (``D/Program.cs:296``); a single-file CSV read preserves
    that order per partition, surfaced via monotonically increasing ids.
    """
    return dedup_dim_last_wins(
        donors.withColumn("_pos", F.monotonically_increasing_id()),
        "Donor ID",
        [F.col("_pos")],
    ).drop("_pos")


def donations_by_state(
    donors: DataFrame, donations: DataFrame, strict: bool = True
) -> DataFrame:
    """The reference's one query (``D/Program.cs:228-248``):

    donations ⋈ donors on Donor ID → GROUP BY Donor State →
    SUM(coalesce(amount, 0.0)). The donations are first summed per
    Donor ID, below the join (eager aggregation): the reference's
    per-worker partial aggregation (``DonationAggregator``,
    ``D/Program.cs:273``) moved ahead of the probe, so the join sees one
    row per donor and the partial sums are computed map-side in the
    scan stage. Both sides then arrive hash-partitioned on Donor ID.
    ``strict=True`` reproduces the missing-key throw: it evaluates the
    join and aggregate here, once, and raises before returning; the
    result is read back from that evaluation. An unknown Donor ID is
    still an unmatched probe row, so the smallest missing key is
    reported.
    ``strict=False`` is the lazy inner-join-drop mode.
    """
    dim = dedup_donors_last_wins(donors).select("Donor ID", "Donor State")
    fact = donations.groupBy("Donor ID").agg(
        F.sum(F.coalesce(F.col("Donation Amount"), F.lit(0.0))).alias("_amount")
    )
    by_state = [F.col("Donor State").alias("State")]
    total = [F.sum("_amount").alias("Total Donation Amount")]
    if strict:
        return strict_join_agg(fact, dim, "Donor ID", by_state, total)
    return fact.join(dim, "Donor ID", "inner").groupBy(*by_state).agg(*total)


def read_reference_tokenstream(
    spark: SparkSession, path: str, n_cols: int
) -> DataFrame:
    """Bug-compatible token-stream read of the reference's tokenizer
    (``IOHelper.ReadNextToken``, ``D/Program.cs:549-571``).

    The reference does NOT parse lines into records — it pulls one
    token at a time from a line-buffered stream and fills fixed-arity
    records. Two quirks follow (both reproduced here, both absent from
    the fast ``read_donors``/``read_donations`` path):

    * "skip at most one blank line": on a blank line it reads exactly
      one more line; if that is also blank, ``"".Split`` yields a
      single EMPTY TOKEN. So each PAIR of consecutive blank lines
      injects one empty token (a run of k blanks injects k // 2), and
      a lone blank is silently skipped.
    * token misalignment: an injected empty token shifts every
      subsequent field by one — record boundaries stop respecting line
      boundaries, exactly as in the reference.

    Implementation: lines in file order → blank-run bookkeeping →
    per-line token arrays → posexplode to a global token sequence →
    re-chunk into records of ``n_cols`` string columns (named c0..cN;
    callers alias/cast). The global sequence number makes this a
    single-partition sort — inherently so, because the quirk is
    sequential tokenizer state; this reader exists for dialect parity,
    the declarative CSV reader is the 100 TB path.
    """
    lines = (
        spark.read.text(path)
        .withColumn("_pos", F.monotonically_increasing_id())
        .withColumn("_trim", F.trim("value"))
    )
    w = Window.orderBy("_pos")
    blanks = (F.col("_trim") == "").cast("int")
    runs = (
        lines.withColumn("_blank", blanks)
        # index within a run of consecutive blanks: cumsum of blanks
        # minus cumsum at the last non-blank
        .withColumn("_cb", F.sum("_blank").over(w))
        .withColumn(
            "_run_idx",
            F.col("_cb")
            - F.max(F.when(F.col("_blank") == 0, F.col("_cb")).otherwise(0)).over(w),
        )
    )
    kept = runs.filter(
        # non-blank lines always; blank lines only at even positions in
        # their run (the 2nd, 4th, ... blank injects the empty token)
        (F.col("_blank") == 0) | (F.col("_run_idx") % 2 == 0)
    )
    tokens = (
        kept.select(
            "_pos",
            F.split(F.col("_trim"), ",|\t", -1).alias("_toks"),
        )
        .select("_pos", F.posexplode("_toks").alias("_tpos", "_tok"))
        .withColumn("_seq", F.row_number().over(Window.orderBy("_pos", "_tpos")) - 1)
    )
    rec = tokens.withColumn("_rec", (F.col("_seq") / n_cols).cast("long")).withColumn(
        "_field", F.col("_seq") % n_cols
    )
    cols = [
        F.max(F.when(F.col("_field") == i, F.col("_tok"))).alias(f"c{i}")
        for i in range(n_cols)
    ]
    return (
        rec.groupBy("_rec")
        .agg(*cols)
        # drop the header record and any trailing partial record
        .filter((F.col("_rec") > 0) & F.col(f"c{n_cols - 1}").isNotNull())
        .drop("_rec")
    )


def write_result_csv(result: DataFrame, path: str) -> None:
    """Reference sink: header + F2-rendered amounts, unordered rows
    (``D/Program.cs:475-484``; order was hash-map iteration order)."""
    (
        result.select(
            "State",
            F.format_string("%.2f", F.col("Total Donation Amount")).alias(
                "Total Donation Amount"
            ),
        )
        .write.mode("overwrite")
        .options(header=True, quote="", sep=",")
        .csv(path)
    )
