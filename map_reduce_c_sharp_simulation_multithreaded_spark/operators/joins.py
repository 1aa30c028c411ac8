"""Join operators, including the reference's two non-Spark semantics.

The reference implements one join — a co-partitioned build-probe equi
hash join (``D/Program.cs:63-149`` partitioning, ``:289-318`` build and
probe). Two of its semantics differ from Spark's and are provided here
as explicit, tested modes rather than accidents (SURVEY.md §7.3):

* duplicate build keys: the reference's dictionary assignment keeps the
  LAST row per key (``D/Program.cs:296``); Spark's join multiplies on
  duplicates → ``dedup_dim_last_wins``.
* unmatched probe keys: the reference THROWS (``D/Program.cs:310``,
  referential-integrity assumption); Spark's inner join silently drops
  → ``strict_join_agg``, a join feeding an aggregate (the reference's
  only use), which folds the check into the aggregate so the join is
  evaluated once, as the reference's single probe pass is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_dim_last_wins(
    dim: DataFrame, key: str | list[str], order_by: list[Column]
) -> DataFrame:
    """Keep one row per key: the LAST under ``order_by`` ascending.

    Mirrors the reference's dictionary overwrite semantics
    (``D/Program.cs:296``), where "last" is file order; here last is
    defined by an explicit, deterministic ordering (the reference's file
    order is not reproducible in a distributed read). Scales: a single
    window shuffle on the key, no driver-side state.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_by])
    return (
        dim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def strict_join_agg(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str],
    group_by: list[Column],
    aggs: list[Column],
) -> DataFrame:
    """``probe ⋈ build`` grouped by ``group_by`` into ``aggs``; FAILS if
    any probe row has no build match.

    Reproduces the reference's referential-integrity assumption — its
    probe throws ``KeyNotFoundException`` on a missing dimension key
    (``D/Program.cs:310``) — for an inner join followed by
    ``groupBy(*group_by).agg(*aggs)``, in one evaluation: the probe is
    left-joined to ``build`` carrying a constant ``_hit`` marker, and the
    aggregate also groups by whether the marker matched, keeping the
    smallest unmatched key. That aggregate has at most two rows per
    group, so it is materialized once (``localCheckpoint``);
    the violation probe reads one row of it, and the returned matched
    groups are read from it too, so the caller's action does not scan
    or join again. Raises before returning, so a sink written from the
    result never runs on a violation.
    """
    keys = [on] if isinstance(on, str) else list(on)
    matched = F.col("_hit").isNotNull()
    agg = (
        probe.join(build.withColumn("_hit", F.lit(True)), keys, "left")
        .groupBy(*group_by, matched.alias("_matched"))
        .agg(*aggs, F.min(F.when(~matched, F.struct(*keys))).alias("_missing"))
        .localCheckpoint()
    )
    missing = agg.filter(~F.col("_matched")).select("_missing").take(1)
    if missing:
        raise ValueError(
            f"strict join: probe row without build match: {missing[0][0]}"
        )
    return agg.filter(F.col("_matched")).drop("_matched", "_missing")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof equi join: salt the fact side, replicate the dim side.

    A hot join key sends all its fact rows to one reducer; salting
    splits each key's rows across ``n_salts`` sub-partitions
    (deterministic salt = hash of ``salt_col``, a fact column unique-ish
    per row, NOT the join key) and replicates each dim row n_salts
    times so every sub-partition still finds its match. Join result is
    IDENTICAL to the unsalted join — proven by the oracle — at the cost
    of an n_salts× dim blow-up (fine: dim ≪ fact is the skew scenario;
    the generalization of the reference's 1M-row chunk splitting,
    ``D/Program.cs:131-139``).

    AQE's skew-join handles most cases at runtime; explicit salting is
    the deterministic fallback for pathological single-key skew that
    even split partitions can't balance (one key > one executor).
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts))
    )
    replicated_dim = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salts)])),
    )
    return salted_fact.join(replicated_dim, [key, "_salt"]).drop("_salt")
