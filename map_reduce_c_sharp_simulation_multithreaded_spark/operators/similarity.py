"""Similarity-search operators over ``array<float>`` embedding columns.

* brute-force cosine top-k — the correctness baseline; per-query scan,
  exact. Fine when the query set is small (broadcast) and candidates
  are a full scan.
* LSH-bucketed ANN (random hyperplanes) — the 100 TB path: bucket join
  instead of cross join; planes are deterministic literals so results
  are reproducible across runs/executors.

All vector math is JVM-side (``zip_with`` + ``aggregate`` fold in
doubles); no Python UDFs.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _dsql(v: float) -> str:
    """Shortest-roundtrip double literal for Spark SQL (the D suffix —
    an unsuffixed 0.1 parses as DECIMAL)."""
    return repr(float(v)).upper() + "D"


def _array_lit(values) -> Column:
    """A (possibly nested) double-array literal built as ONE SQL string
    parsed JVM-side.

    The naive form — ``F.array(*[F.lit(v) ...])`` per row, per code,
    per plane — costs one py4j round-trip per scalar; for the PQ
    codebooks (8×16×8 doubles) plus the per-code unrolled fold
    expressions that was 9-15 s of DRIVER-side plan construction per
    query build and a giant tree that blew past whole-stage codegen
    limits (measured round 4; the bench showed sim_ivfpq_rerank_topk
    at 11 s warm for 2 000×20 vectors — all constant overhead). One
    ``F.expr`` string is a single round-trip, and the data-driven
    lambdas below keep the generated code small and loopy."""

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        return _dsql(v)

    return F.expr(render(values))


def _fold_sum(arr: Column) -> Column:
    """Sequential double fold (deterministic order, same as the
    unrolled form it replaced — and as every generated oracle)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in doubles
    (sequential fold → deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    The query side is broadcast (small by contract); similarity is
    rounded BEFORE ranking so float ulp noise cannot flip ranks between
    runs/engines; ties break on candidate id.

    Norms are computed ONCE PER SIDE before the join, not inside the
    pair expression: ``cosine(q, c)`` re-folds ``l2_norm(q)`` for every
    candidate and ``l2_norm(c)`` for every query — at |Q|×|C| pairs
    that is 3 array folds per pair where 1 (the dot product) suffices.
    Same arithmetic, same fold order, so sims are bit-identical; at
    sf0.1 this measured 0.99 s → 0.63 s warm, and at 100 TB candidate
    scale it removes two O(|Q|·|C|·dim) fold passes entirely.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def _deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes derived from sha256 — stable
    across processes (no RNG state), so LSH buckets are reproducible."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"plane:{p}:{d}".encode()).digest()[:8]
            (u,) = struct.unpack(">q", h)
            row.append((u / float(1 << 63)))  # uniform-ish in [-1, 1)
        planes.append(row)
    return planes


def hyperplane_bucket(
    vec: Column, n_planes: int = 12, dim: int = 64
) -> Column:
    """Random-hyperplane LSH bucket id (int in [0, 2^n_planes)).

    Data-driven form: the planes ride as ONE array literal and a
    transform computes every projection; bit p contributes 2^p when the
    projection is non-negative — value-identical to the unrolled
    ``sum(when(proj_p >= 0, 1 << p))`` it replaced (same per-plane fold
    order, same >= 0 threshold, same int sum)."""
    planes = _deterministic_planes(n_planes, dim)
    projs = F.transform(
        _array_lit(planes),
        lambda pl: _fold_sum(
            F.zip_with(vec, pl, lambda x, y: x.cast("double") * y)
        ),
    )
    powers = F.expr(
        "array(" + ",".join(str(1 << p) for p in range(n_planes)) + ")"
    )
    return F.aggregate(
        F.zip_with(
            projs,
            powers,
            lambda pr, pw: F.when(pr >= 0, pw).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _deterministic_centroids(n_centroids: int, dim: int) -> list[list[float]]:
    """Coarse-quantizer centroid directions derived from sha256 — the
    IVF analogue of :func:`_deterministic_planes`. A trained k-means
    codebook would adapt to the data distribution; fixed pseudo-random
    directions keep the partition reproducible with zero training pass,
    which is the right trade for a correctness-first baseline (swap in
    a trained codebook without changing the query plan)."""
    cents = []
    for c in range(n_centroids):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"centroid:{c}:{d}".encode()).digest()[:8]
            (u,) = struct.unpack(">q", h)
            row.append(u / float(1 << 63))
        cents.append(row)
    return cents


def centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of <vec, centroid_c> projections, one per centroid.

    One codebook literal + a transform — value-identical to the
    unrolled per-centroid folds it replaced (same element order, same
    sequential double accumulation), but built in O(1) py4j calls and
    executed as a loop instead of 16 inlined folds."""
    return F.transform(
        _array_lit(centroids),
        lambda cent: _fold_sum(
            F.zip_with(vec, cent, lambda x, y: x.cast("double") * y)
        ),
    )


def assign_cells_broadcast(
    emb: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Argmax-centroid cell assignment via a BROADCAST codebook join —
    the production path once k outgrows a literal expression.

    :func:`centroid_scores` inlines the codebook as an array literal:
    ideal for oracle replay and small k, but a k=2000×64 codebook is a
    128 000-literal expression — plan size and codegen grow with k.
    Here the codebook is a k-row DataFrame broadcast to executors, the
    per-(vector, cell) dot is one zip_with fold, and the argmax is the
    first-max row_number window (ties → lowest cell id, matching
    ``array_position(scores, array_max(scores))`` exactly — equality
    with the literal path is pytest-pinned). Scale shape: n·k dots,
    embarrassingly parallel, no shuffle until the argmax window on
    vec_id (at 100 TB: replace the window with a max_by aggregation
    per vec_id — same one shuffle).

    Returns (vec_id, cell).
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(c, [float(x) for x in row]) for c, row in enumerate(centroids)],
        "cell int, cv array<double>",
    )
    dot = _fold_sum(
        F.zip_with(vec_col, "cv", lambda x, y: x.cast("double") * y)
    )
    scored = emb.join(F.broadcast(cdf)).select(
        "vec_id", "cell", dot.alias("s")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def _renormalize_cells(
    prev: list[list[float]], acc: list[list[float]], touched: list[bool]
) -> list[list[float]]:
    """Codebook update step shared by the distributed trainer and the
    pure-Python oracle replay: unit-normalize each touched cell's sum
    vector; empty cells keep their previous centroid. One shared
    function so both paths apply bit-identical driver-side arithmetic.
    """
    new_cents = []
    for c in range(len(prev)):
        if not touched[c]:
            new_cents.append(prev[c])
            continue
        norm = sum(v * v for v in acc[c]) ** 0.5 or 1.0
        new_cents.append([v / norm for v in acc[c]])
    return new_cents


BROADCAST_ASSIGN_CUTOVER_K = 256
"""Lloyd-assignment cutover: above this many centroids the trainer
defaults to the broadcast-codebook join instead of the codebook-literal
expression. SCALE.md's occupancy study measured the literal path's
plan/codegen growth with k (a k=2000×64 codebook is a 128 000-literal
expression); tools/semdedup_scaling.py has routed k>256 through the
broadcast join since round 8. 256×64 = 16 384 literals is comfortably
inside codegen limits; the next schedule step (500+) is not."""


_SUM_GRID = 1e-6
"""Grid every per-(cell, position) codebook sum snaps to, in the Spark
trainers and their pure-Python replays alike: partial-aggregation merge
order cannot leak ulp drift into a codebook, so training is a
deterministic function of the (id, vector) multiset (grid-boundary
caveat: a sum landing within ulps of a half-grid point could round
apart; same accepted risk as the quantized-NLL oracle in
plans/text.py)."""


def _snap_sum(s: float) -> float:
    return round(s / _SUM_GRID) * _SUM_GRID


def _resolve_assign_mode(n_centroids: int, broadcast: bool | None) -> bool:
    """True → broadcast-codebook join, False → codebook-literal
    expression. ``None`` picks by k: literal up to
    BROADCAST_ASSIGN_CUTOVER_K, broadcast above it; an explicit bool
    overrides (``False`` is the escape hatch to the literal plan)."""
    if broadcast is None:
        return n_centroids > BROADCAST_ASSIGN_CUTOVER_K
    return broadcast


def seed_kmeans_scalable(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    rounds: int = 5,
    id_col: str = "vec_id",
    broadcast_score: bool | None = None,
) -> list[list[float]]:
    """Deterministic batched farthest-point seeding — the k-means||
    shape (Bahmani et al., VLDB 2012) with the probabilistic
    oversampling draw replaced by a deterministic batched k-center
    step, so training stays a pure function of the (id, vector)
    multiset.

    Sequential k-means++/farthest-point seeding needs k DEPENDENT
    passes over the data (each new seed depends on the last) — the
    exact pattern that dies at k = n/64 on a 100 TB corpus. This
    operator follows k-means||'s two-phase structure per round, with
    ℓ = ⌈(k−1)/rounds⌉:
    OVERSAMPLE — one scan scores every vector against the current
    seed set (per-row expression, no shuffle) and a distributed
    top-4ℓ (TakeOrdered — per-partition heads, never a full sort)
    pulls the vectors farthest from their nearest seed, ties broken
    by the md5("seed:" || id) key; REDUCE — a driver-side greedy
    k-center pass over that ≤4ℓ-row pool picks the ℓ actual seeds,
    re-scoring
    candidates against seeds added WITHIN the batch (the step plain
    batched farthest-point lacks — without it one round spends its
    whole batch on near-duplicate extremes of a single uncovered
    region; measured on the planted corpus at the default 5 rounds:
    block coverage 8/16 without the reduction, 14/16 with it, vs
    10/16 for the uniform md5 sample — and after ONE Lloyd round the
    farthest-seeded codebook covers 15/16 blocks with a better
    spherical objective than the uniform seed reaches in three
    rounds, i.e. the init buys back two full passes over the corpus;
    tools/seed_quality.py reproduces the table). O(rounds) scans total
    instead of O(k) — the k-means|| trade — and the reduction pool is
    4ℓ vectors of dim floats, driver-bounded the same way the
    codebook itself is.

    Spherical geometry (matches the Lloyd trainer): vectors are
    l2-normalized and distance-to-seed-set is ``1 − max dot``. Seeds
    are returned normalized, ready as ``train_kmeans_codebook``
    initial centroids (``init="farthest"``). Identical duplicate
    vectors can enter one batch together (same distance, adjacent
    tie keys); the duplicate centroid then just trains into an empty
    cell, which Lloyd's empty-cell rule already handles. Scoring
    selects its plan by k exactly like the trainer: the centroid-
    literal expression up to BROADCAST_ASSIGN_CUTOVER_K, a broadcast
    seed-frame join above it (the same max-dot fold, regrouped on the
    id key), so seeding k=2000 never builds a 128 000-literal
    expression. The driver-side reduction is numpy-
    vectorized (one rank-1 max update per pick), sub-second even at
    the broadcast scales.

    Already-picked rows are excluded from every subsequent oversample
    pool by their ``_k`` key (a broadcast ≤k-row anti-join, matching
    the operator's broadcast discipline) — a picked row counts as
    covered by construction, which closes the degenerate-input hole
    where a zero vector (norm floored at 1e-12, so its "unit" form is
    all-zeros and its self-dot is 0) otherwise scores as permanently
    farthest and is greedily re-picked forever, starving genuinely
    uncovered directions. When exclusion exhausts the corpus before k
    seeds exist (n < k rows), the seed list pads deterministically by
    cycling the picks already made — every pad is still a normalized
    input vector, and the duplicate centroid trains into an empty
    cell exactly like the duplicate-vector case above.

    Precondition: ``id_col`` values must be unique. The broadcast
    scoring path groups rows by ``_k = md5(id)`` and takes
    ``F.first(_uv)`` per group, so duplicate ids would silently collapse
    distinct vectors into one arbitrarily-represented group.
    """
    seed_key = F.md5(F.concat(F.lit("seed:"), F.col("_id").cast("string")))
    vecs = (
        df.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_id"))
        .withColumn("_n", F.greatest(l2_norm(F.col("_v")), F.lit(1e-12)))
        .withColumn(
            "_uv", F.transform("_v", lambda x: x.cast("double") / F.col("_n"))
        )
        .select("_uv", seed_key.alias("_k"))
        .cache()
    )
    first = vecs.orderBy("_k").limit(1).collect()
    if not first:
        vecs.unpersist()
        return []
    cents = [list(map(float, first[0]["_uv"]))]
    picked_keys = {first[0]["_k"]}
    # scoring path mirrors the trainer's cutover: the per-row
    # distance-to-seed-set expression embeds every seed as a literal,
    # which past BROADCAST_ASSIGN_CUTOVER_K is the documented wrong
    # plan — route it through a broadcast seed-frame join instead,
    # regrouping the cross-joined rows on the id-keyed _k
    broadcast_score = _resolve_assign_mode(n_centroids, broadcast_score)
    spark = df.sparkSession
    batch = max(1, -(-(n_centroids - 1) // max(1, rounds)))
    while len(cents) < n_centroids:
        need = min(batch, n_centroids - len(cents))
        # a picked row is covered by definition: anti-join it out of
        # the pool on its _k key (broadcast — the exclusion frame is
        # at most k rows) so the greedy loop can never re-pick it,
        # even when its self-dot is degenerate (zero vectors)
        excl = spark.createDataFrame(
            [(k_,) for k_ in sorted(picked_keys)], "_k string"
        )
        live = vecs.join(F.broadcast(excl), "_k", "left_anti")
        if broadcast_score:
            sdf = spark.createDataFrame(
                list(enumerate(cents)), "cell int, cv array<double>"
            )
            dot_c = _fold_sum(F.zip_with("_uv", "cv", lambda x, y: x * y))
            scored = (
                live.join(F.broadcast(sdf))
                .select("_k", "_uv", dot_c.alias("_d"))
                .groupBy("_k")
                .agg(
                    F.max("_d").alias("_s"),
                    F.first("_uv").alias("_uv"),  # identical per group
                )
            )
        else:
            nearest = F.array_max(centroid_scores(F.col("_uv"), cents))
            scored = live.select("_uv", nearest.alias("_s"), "_k")
        pool = (
            scored.orderBy(F.col("_s").asc(), F.col("_k").asc())
            .limit(4 * need)
            .collect()
        )
        if not pool:
            break
        # greedy k-center reduction over the ≤4ℓ-row pool, numpy-
        # vectorized: running max-dot vs the seed set updates with one
        # (pool × dim) @ dim product per pick, so the reduction stays
        # sub-second even at k=2000 (the pure-python fold was
        # O(pool·k·dim) PER PICK — prohibitive exactly at the scales
        # the broadcast path exists for)
        import numpy as np

        cand = np.array([list(map(float, r["_uv"])) for r in pool])
        run_max = (cand @ np.array(cents).T).max(axis=1)
        alive = list(range(len(cand)))
        for _ in range(min(need, len(cand))):
            best_i = min(alive, key=lambda i: (run_max[i], i))
            picked = cand[best_i]
            cents.append([float(x) for x in picked])
            picked_keys.add(pool[best_i]["_k"])
            alive.remove(best_i)
            upd = cand @ picked
            np.maximum(run_max, upd, out=run_max)
    vecs.unpersist()
    # corpus exhausted before k seeds (n < k rows): pad by cycling the
    # picks already made — deterministic, membership-preserving, and
    # each pad trains into an empty Lloyd cell like any duplicate seed
    base = len(cents)
    while len(cents) < n_centroids:
        cents.append(list(cents[len(cents) % base]))
    return cents


def train_kmeans_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    broadcast_assign: bool | None = None,
    init: str = "md5",
) -> list[list[float]]:
    """Spherical k-means (Lloyd) codebook for the IVF coarse quantizer.

    Distributed the way FAISS-style training actually is: the DATA never
    leaves the cluster — each round is one scan assigning every vector
    to its argmax-dot centroid plus one aggregation of per-(cell,
    position) sums — while the CODEBOOK (k×dim doubles, a few KB) is
    collected to the driver, renormalized, and rebroadcast as literals.
    That driver round-trip is the textbook pattern for iteratively
    refined small state; it is NOT a driver-side loop over data.

    Determinism: seeds are the data vectors with the k smallest
    md5("seed:" || id) digests — a pure function of the row id that
    any engine recomputes; argmax assignment is order-free, each
    per-(cell, position) sum snaps to ``_SUM_GRID``, and empty cells
    keep their previous centroid. Training is therefore a
    deterministic function of the (id, vector) multiset, and
    :func:`replay_kmeans_codebook` reproduces it bit-for-bit outside
    Spark — which is what lets the trained-IVF query carry a generated
    DuckDB oracle.

    ``broadcast_assign`` (default ``None`` = select by k, see
    :func:`_resolve_assign_mode`) routes each Lloyd round's assignment
    through the broadcast-codebook join of
    :func:`assign_cells_broadcast` instead of the codebook-literal
    expression — mandatory once k×dim outgrows a literal (a k=2000×64
    codebook is a 128 000-literal expression; plan size and codegen
    grow with k). Dot arithmetic and first-max tiebreak are identical
    to the literal path (the same sequential ``zip_with`` fold; max_by
    over (score, −cell)), and the sum grid absorbs the only remaining
    difference, partial-aggregation merge order in the per-(cell,
    position) sums, so both paths train the IDENTICAL codebook
    (pytest-pinned, tests/test_round8_ops.py).
    """
    if init not in ("md5", "farthest"):
        raise ValueError(f"init must be 'md5' or 'farthest', got {init!r}")
    broadcast_assign = _resolve_assign_mode(n_centroids, broadcast_assign)
    # bind the norm to its own column BEFORE the per-position lambda —
    # an aggregate referenced inside transform() re-evaluates per
    # position (the O(dim^2) trap)
    vecs = (
        df.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_id"))
        .withColumn("_n", F.greatest(l2_norm(F.col("_v")), F.lit(1e-12)))
        .withColumn(
            "_uv", F.transform("_v", lambda x: x.cast("double") / F.col("_n"))
        )
        .select("_uv", "_id")
        .cache()
    )
    if init == "farthest":
        # ``init="farthest"``: batched farthest-point seeds (the
        # k-means|| scan shape — see seed_kmeans_scalable). The
        # default stays "md5" (uniform deterministic sample): every
        # registered trained query's codebook — and therefore its
        # generated oracle and plan fingerprint — is unchanged.
        cents = seed_kmeans_scalable(
            df, vec_col, n_centroids, id_col=id_col
        )
    else:
        seed_key = F.md5(F.concat(F.lit("seed:"), F.col("_id").cast("string")))
        seeds = [
            r["_uv"]
            for r in vecs.select("_uv", seed_key.alias("_k"))
            .orderBy("_k")
            .limit(n_centroids)
            .collect()
        ]
        cents = [list(map(float, s)) for s in seeds]
    per_pos_sums = [
        F.sum(F.element_at("_uv", i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    spark = df.sparkSession
    for _ in range(n_iter):
        if broadcast_assign:
            # broadcast-codebook assignment (assign_cells_broadcast's
            # join shape): k-row codebook frame → n·k dots, argmax per
            # _id via max_by over (score, −cell) — no ties possible
            # (−cell is unique within a group), first-max == the
            # literal path's array_position-on-array_max. Only (id,
            # cell, score) triples shuffle; the _uv arrays rejoin by
            # id for the sums.
            cdf = spark.createDataFrame(
                list(enumerate(cents)), "cell int, cv array<double>"
            )
            dot_c = _fold_sum(
                F.zip_with("_uv", "cv", lambda x, y: x * y)
            )
            assign = (
                vecs.join(F.broadcast(cdf))
                .select("_id", "cell", dot_c.alias("_s"))
                .groupBy("_id")
                .agg(
                    F.max_by(
                        "cell",
                        F.struct(
                            F.col("_s"), (-F.col("cell")).alias("_nc")
                        ),
                    ).alias("_cell")
                )
            )
            cells = vecs.join(assign, "_id").select("_cell", "_uv")
        else:
            assigned = F.array_position(
                centroid_scores(F.col("_uv"), cents),
                F.array_max(centroid_scores(F.col("_uv"), cents)),
            ).cast("int") - 1
            cells = vecs.select(assigned.alias("_cell"), "_uv")
        # 64 per-position sum aggregates over the intact array — NOT
        # posexplode + groupBy(cell, pos): Generate re-evaluates the
        # argmax expression against its fan-out (measured 4.8 s vs
        # 0.7 s per round on 2000×64 at sf0.1), and the k×dim-row
        # shuffle becomes a k-row one
        sums = cells.groupBy("_cell").agg(*per_pos_sums).collect()
        acc = [[0.0] * dim for _ in range(n_centroids)]
        touched = [False] * n_centroids
        for r in sums:
            for i in range(dim):
                acc[r["_cell"]][i] = _snap_sum(r[f"s{i}"])
            touched[r["_cell"]] = True
        cents = _renormalize_cells(cents, acc, touched)
    vecs.unpersist()
    return cents


def replay_kmeans_codebook(
    rows: list[tuple],
    n_centroids: int = 8,
    n_iter: int = 3,
) -> list[list[float]]:
    """Pure-Python replay of :func:`train_kmeans_codebook`, used to
    GENERATE the trained-IVF DuckDB oracle without a SparkSession:
    re-derive the codebook from the raw (id, vector) rows, then render
    it as SQL literals.

    Mirrors the engine step for step with matching float semantics:
    sequential index-ordered folds (Spark's zip_with/aggregate),
    ``math.sqrt`` (correctly rounded, same as JVM Math.sqrt), first-max
    argmax (Spark's array_position-on-array_max), the same grid snap,
    and the SHARED :func:`_renormalize_cells` update. Sum order differs
    from Spark's partial aggregation, which is exactly what the grid
    snap absorbs.
    """
    import hashlib
    import math

    uvs = []
    for vid, vec in rows:
        acc = 0.0
        for x in vec:
            x = float(x)
            acc = acc + x * x
        n = max(math.sqrt(acc), 1e-12)
        uvs.append((vid, [float(x) / n for x in vec]))
    seeds = sorted(
        uvs, key=lambda r: hashlib.md5(f"seed:{r[0]}".encode()).hexdigest()
    )[:n_centroids]
    cents = [list(map(float, s[1])) for s in seeds]
    if not cents:
        return []
    # mirror the trainer on corpora smaller than k: limit(k) returns
    # fewer seeds and every loop below runs over the actual cells
    n_centroids = len(cents)
    dim = len(cents[0])
    for _ in range(n_iter):
        acc = [[0.0] * dim for _ in range(n_centroids)]
        touched = [False] * n_centroids
        for _vid, uv in uvs:
            best, bi = None, 0
            for c in range(n_centroids):
                s = 0.0
                cen = cents[c]
                for d in range(dim):
                    s = s + uv[d] * cen[d]
                if best is None or s > best:
                    best, bi = s, c
            cell = acc[bi]
            for d in range(dim):
                cell[d] += uv[d]
            touched[bi] = True
        acc = [[_snap_sum(v) for v in row] for row in acc]
        cents = _renormalize_cells(cents, acc, touched)
    return cents


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k via IVF-style cluster pruning (the inverted-file
    scheme): every candidate belongs to its argmax centroid, every
    query probes its ``n_probe`` best centroids, exact cosine reranks
    within the probed cells.

    The cross join becomes an equi join on the cell id, so the work is
    |Q| · n_probe/n_centroids of the corpus on average — the same
    recall/cost dial as FAISS's nprobe. Cell assignment is a per-row
    array expression (no shuffle to build the index); at 100 TB the
    candidate side would be written bucketed by cell id so repeated
    query batches join shuffle-free.

    ``centroids`` overrides the default sha256-derived codebook with a
    trained one (see :func:`train_kmeans_codebook`) — the query plan is
    identical either way, only the literals change.
    """
    scored = _ivf_scored(
        df, queries, id_col, vec_col, n_centroids, n_probe, dim, centroids
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def ivf_range_search(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Range search — FAISS's OTHER first-class query: ALL neighbors
    with cosine >= ``threshold``, not a fixed top-k. The right
    primitive when the caller needs every near-duplicate / every
    retrieval candidate above a quality bar and the answer size is
    data-dependent (dedup sweeps, recall-oriented retrieval), where
    top-k either truncates dense neighborhoods or pads sparse ones.

    Shares the ENTIRE candidate pipeline with :func:`ivf_topk`
    (:func:`_ivf_scored`: argmax-cell assignment, n_probe cell
    pruning, cell equi-join, exact rounded cosine) — only the cut
    differs: a stateless ``sim >= threshold`` filter instead of the
    per-query row_number window, which removes the one shuffle the
    top-k cut needs. At 100 TB that matters twice: the filter is
    map-side (no per-query state at all), and the result is naturally
    skew-proof — a query in a dense neighborhood emits more rows
    without ever concentrating them on one partition.
    """
    scored = _ivf_scored(
        df, queries, id_col, vec_col, n_centroids, n_probe, dim, centroids
    )
    return scored.filter(F.col("sim") >= threshold)


def _ivf_scored(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    n_probe: int,
    dim: int,
    centroids: list[list[float]] | None,
) -> DataFrame:
    """The IVF candidate pipeline shared by top-k and range search:
    (query_id, neighbor_id, sim) for every corpus row in a probed
    cell, sim = exact cosine rounded to 6 (the cross-engine float
    discipline). Verbatim extraction from ivf_topk — its analyzed
    plan is unchanged."""
    if centroids is None:
        centroids = _deterministic_centroids(n_centroids, dim)
    n_centroids = len(centroids)
    scores = centroid_scores(F.col(vec_col), centroids)
    # argmax centroid: array_position compares the same expression's own
    # value — exact float equality on identical bits is deterministic
    assigned = (
        F.array_position(scores, F.array_max(scores)).cast("int") - 1
    )
    cand = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        assigned.alias("_cell"),
    )
    idx = F.sequence(F.lit(0), F.lit(n_centroids - 1))
    ranked_cells = F.reverse(
        F.array_sort(
            F.zip_with(
                scores,
                idx,
                lambda s, i: F.struct(s.alias("s"), i.alias("i")),
            )
        )
    )
    probe = F.transform(
        F.slice(ranked_cells, 1, n_probe), lambda p: p["i"]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(probe).alias("_cell"),
    )
    # each candidate lives in exactly one cell and probe cells are
    # distinct → a (query, neighbor) pair surfaces at most once
    return (
        q.join(cand, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("sim"),
        )
    )


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: multi-probe LSH bucket join + exact rerank.

    At scale this replaces the O(|Q|·|C|) cross join with a bucket join.
    Multi-probe (query side also probes all buckets within
    ``probe_hamming`` bit flips of its own) trades a bounded fan-out
    (1 + C(n,1) + C(n,2) probe keys) for much higher recall — the
    standard trick, since a near neighbor differs in few sign bits.
    """
    b = hyperplane_bucket(F.col(vec_col), n_planes, dim)
    cand = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        b.alias("_bucket"),
    )
    # enumerate probe masks: all bucket-bit flips of weight <= probe_hamming
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << p) | (1 << q2)
            for p in range(n_planes)
            for q2 in range(p + 1, n_planes)
        ]
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            b.alias("_b0"),
        )
        .withColumn("_mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .select(
            "query_id",
            "_qv",
            F.col("_b0").bitwiseXOR(F.col("_mask")).alias("_bucket"),
        )
    )
    scored = (
        q.join(cand, "_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("sim"),
        )
        .distinct()  # a pair can surface via several probe buckets
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def _pq_codebooks(
    m_sub: int = 8, k_codes: int = 16, sub_dim: int = 8, scale: float = 0.1
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks derived from sha256 (books[m][k] is a
    sub_dim vector) — deterministic like :func:`_deterministic_planes`,
    so encodes are reproducible across processes AND engines. A trained
    variant would run :func:`train_kmeans_codebook` per subspace.

    ``scale`` matches the centroid magnitude to the data: unit-norm
    64-dim vectors have ~1/√64 ≈ 0.125 components, while raw uniform
    [-1,1) draws sit at 0.58 — unscaled centroids are all nearly
    equidistant from every sub-vector and the codes degrade to noise
    (measured on this corpus: 11% recall-vs-IVF unscaled, 31% at
    scale 0.1, the swept optimum; random picking would be ~0.3%).
    Near-random embeddings are PQ's worst case — real clustered
    embeddings, or per-subspace trained codebooks, recover far more."""
    books = []
    for m in range(m_sub):
        book = []
        for k in range(k_codes):
            row = []
            for d in range(sub_dim):
                h = hashlib.sha256(f"pq:{m}:{k}:{d}".encode()).digest()[:8]
                (u,) = struct.unpack(">q", h)
                row.append(u / float(1 << 63) * scale)
            book.append(row)
        books.append(book)
    return books


def _sub_l2(sub: Column, cent: Column) -> Column:
    """Squared L2 distance between a sub-vector and a centroid array,
    index-ordered (both engines fold the same sequence)."""
    return _fold_sum(
        F.zip_with(
            sub,
            cent,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        )
    )


def _sub_dists(vec: Column, books_lit: Column, m: Column, sub_dim: int) -> Column:
    """Per-code squared distances of sub-vector ``m`` against its book:
    ``array<double>`` of length k_codes."""
    sub = F.slice(vec, m * sub_dim + 1, F.lit(sub_dim))
    return F.transform(
        F.element_at(books_lit, m + 1), lambda cent: _sub_l2(sub, cent)
    )


def pq_encode(vec: Column, books: list[list[list[float]]]) -> Column:
    """PQ code array (one argmin code per subspace, first-min tiebreak
    — matches the oracle's ORDER BY dist, k).

    The codebooks are ONE nested-array literal; codes come from a
    transform over the subspace index. Value-identical to the unrolled
    8×16 fold expressions this replaced (same slice, same fold order,
    same array_position-on-array_min first-occurrence tiebreak) but
    O(1) py4j calls and loopy generated code — the unrolled form cost
    ~10 s of driver-side plan build per query (round-4 bench)."""
    sub_dim = len(books[0][0])
    books_lit = _array_lit(books)
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(books) - 1)),
        lambda m: (
            F.array_position(
                _sub_dists(vec, books_lit, m, sub_dim),
                F.array_min(_sub_dists(vec, books_lit, m, sub_dim)),
            )
            - 1
        ).cast("int"),
    )


def pq_adc_tables(vec: Column, books: list[list[list[float]]]) -> Column:
    """Asymmetric-distance lookup tables for a query vector:
    array<array<double>> — tables[m][k] = ||query_sub_m - books[m][k]||²."""
    sub_dim = len(books[0][0])
    books_lit = _array_lit(books)
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(books) - 1)),
        lambda m: _sub_dists(vec, books_lit, m, sub_dim),
    )


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    m_sub: int = 8,
    k_codes: int = 16,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS-standard composition): IVF cells prune the
    candidate set to ~n_probe/n_centroids of the corpus, and product-
    quantization codes replace full vectors for scoring — each
    candidate is ranked by the sum of per-subspace asymmetric distances
    (one table lookup per code) instead of a dim-length dot product.

    At 100 TB this is the memory story, not just a speed story: 64
    floats (256 B) compress to 8 nibble codes, so the scored candidate
    set ships 64× less data through the shuffle, and the codes column
    can be precomputed and bucketed by cell at write time. Exact rerank
    of the PQ top-k' (k' > k) would recover most residual recall; here
    the PQ ranking itself is the contract, differentially tested
    against a DuckDB oracle built from the same codebook literals.

    ``residual=True`` is FAISS's actual IVFPQ encoding: codes quantize
    the RESIDUAL ``x − centroid[cell]`` instead of the raw vector, so
    the sub-codebooks only have to cover what the coarse quantizer
    left unexplained — a much tighter distribution per cell. The query
    side then needs one ADC table per PROBED cell (the query residual
    differs per cell), n_probe× more table-build work per query but
    the same per-candidate lookup cost; FAISS pays exactly this.
    """
    if centroids is None:  # same override contract as ivf_topk
        centroids = _deterministic_centroids(n_centroids, dim)
    n_centroids = len(centroids)
    if books is None:  # sha default; or train_pq_codebooks output
        books = _pq_codebooks(m_sub, k_codes, dim // m_sub)
    scores = centroid_scores(F.col(vec_col), centroids)
    assigned = F.array_position(scores, F.array_max(scores)).cast("int") - 1
    # The encoded candidate frame (cell assignment + PQ codes over the
    # whole corpus) is the index-BUILD half of the FAISS split —
    # production precomputes it at write time (codes column bucketed by
    # cell). Cached here so repeat searches against the same corpus pay
    # retrieval only: Spark's cache manager substitutes semantically
    # equal plans, so the rerank variant's internal shortlist (same
    # cand expression) and later invocations all hit one entry — the
    # pagerank input-edge discipline. Invisible to the analyzed plan
    # (fingerprint-stable); measured 2.2 s → ~1.3 s warm at sf0.1.
    cents_lit = _array_lit(centroids)

    def _residual(vec: Column, cell: Column) -> Column:
        # (float→double widen, then one double subtraction) per element
        # — the oracle's CAST(x) − cv[d] reproduces it bit-for-bit
        return F.zip_with(
            vec,
            F.element_at(cents_lit, cell + 1),
            lambda x, y: x.cast("double") - y,
        )

    if residual:
        # Bind the residual vector ONCE per row (single-element-array
        # trick, same as winnowing's code-array binding in
        # operators/text.py): pq_encode's per-subspace slices reference
        # their input 2×m_sub times, and an unbound residual expression
        # re-evaluates the full coarse assignment (the n_centroids×dim
        # fold inside ``assigned``) on every reference — measured 130 s
        # → seconds for the cold sf0.1 encode, bit-identical codes.
        enc_codes = F.element_at(
            F.transform(
                F.array(_residual(F.col(vec_col), assigned)),
                lambda rv: pq_encode(rv, books),
            ),
            1,
        )
    else:
        enc_codes = pq_encode(F.col(vec_col), books)
    cand = df.select(
        F.col(id_col).alias("neighbor_id"),
        assigned.alias("_cell"),
        enc_codes.alias("_codes"),
    ).cache()
    idx = F.sequence(F.lit(0), F.lit(n_centroids - 1))
    ranked_cells = F.reverse(
        F.array_sort(
            F.zip_with(
                scores, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
            )
        )
    )
    probe = F.transform(F.slice(ranked_cells, 1, n_probe), lambda p: p["i"])
    if residual:
        # ADC tables are per (query, probed cell): explode first, then
        # build the table from that cell's query residual
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.explode(probe).alias("_cell"),
        ).select(
            "query_id",
            "_cell",
            pq_adc_tables(
                _residual(F.col("_qv"), F.col("_cell")), books
            ).alias("_tabs"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            pq_adc_tables(F.col(vec_col), books).alias("_tabs"),
            F.explode(probe).alias("_cell"),
        )
    adc = F.aggregate(
        F.zip_with(
            F.col("_codes"),
            F.col("_tabs"),
            lambda c, t: F.element_at(t, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        q.join(cand, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", F.round(adc, 6).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adist", "rn")
    )


def ivfpq_rerank_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    k_prime: int = 20,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    m_sub: int = 8,
    k_codes: int = 16,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """Two-stage FAISS-style retrieval: IVF-PQ shortlists k' candidates
    by asymmetric code distance (cheap, compressed domain), then only
    those k' rows fetch their full vectors for an exact-cosine rerank
    down to k. The expensive exact math runs on k'/corpus of the data —
    at 100 TB the full-precision vectors are read per-candidate via the
    shortlist join, never scanned. Recovers most of the recall PQ
    quantization loses (pinned in pytest)."""
    cand = ivfpq_topk(
        df, queries, id_col, vec_col,
        k=k_prime, n_centroids=n_centroids, n_probe=n_probe,
        dim=dim, m_sub=m_sub, k_codes=k_codes, centroids=centroids,
        books=books, residual=residual,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    n = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    sims = (
        cand.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_nv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    n_iter: int = 3,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Per-subspace TRAINED PQ codebooks (classic L2 Lloyd, not the
    spherical variant — PQ assigns by squared L2 and updates by MEAN,
    so :func:`train_kmeans_codebook`'s normalize-everything contract
    would be wrong here).

    Round 9's four-family frontier measured WHY this exists: with
    sha-derived sub-codebooks, IVF-PQ recall on the planted corpus
    plateaus at ~0.61 regardless of n_probe — magnitude-mismatched
    codes are the documented PQ worst case, and no amount of probing
    recovers neighbors the compressed domain cannot rank. Training the
    sub-codebooks on the data closes that gap (pinned in pytest).

    Execution shape: subspaces train in LOCKSTEP, not sequentially —
    the (m, seed-key, sub-vector) explosion is cached once, seeds for
    all m_sub books come from ONE job (per-m row_number over the seed
    digest, identical ranking to the old per-m orderBy+limit), and
    each Lloyd round is ONE aggregation for ALL subspaces: per-row
    argmin assignment against ``element_at(books, _m+1)`` → per-(m,
    cell, position) sums + counts. m_sub × (1 + n_iter) scans collapse
    to 1 + n_iter (measured 14–22 s → ~4 s at sf0.1, bit-identical
    books); only the m_sub × k_codes × sub_dim codebook floats visit
    the driver. FAISS trains PQ on a bounded sample regardless of
    corpus size; at 100 TB the caller passes a sampled ``df`` and this
    stays O(sample) per round.

    Replayable like the spherical trainer: id-derived seeds plus the
    ``_SUM_GRID`` snap of each per-(cell, position) sum (counts are
    exact integers and the mean is one double division) make the books
    a deterministic function of the (id, vector) multiset —
    :func:`replay_pq_codebooks` reproduces them bit-for-bit outside
    Spark, which is what lets the trained-PQ query carry a generated
    DuckDB oracle.
    """
    sub_dim = dim // m_sub
    # one (m, seed-key, sub-vector) row per (vector, subspace): the
    # explode input is the only projected column, so Generate does not
    # re-evaluate anything against its fan-out (the posexplode trap)
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("_m"),
                F.col("_id").alias("_sid"),
                F.slice(F.col("_v"), m * sub_dim + 1, sub_dim).alias("_s"),
            )
            for m in range(m_sub)
        ]
    )
    subs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "_v"
            ),
        )
        .select(F.explode(sub_structs).alias("_e"))
        .select("_e._m", "_e._sid", "_e._s")
        .cache()
    )
    # seeds for ALL subspaces in one job; per-m rank over the digest is
    # the same ordering the old per-m orderBy+limit produced (md5 keys
    # are unique per (m, id)). The digest is projected only HERE — the
    # cached frame carries the 8-byte id, not a 32-char md5 string that
    # every Lloyd scan would otherwise drag along dead.
    seed_key = F.md5(
        F.concat(
            F.lit("pqseed:"),
            F.col("_m").cast("string"),
            F.lit(":"),
            F.col("_sid").cast("string"),
        )
    )
    w_seed = Window.partitionBy("_m").orderBy("_k")
    seed_rows = (
        subs.withColumn("_k", seed_key)
        .withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= k_codes)
        .select("_m", "_rn", "_s")
        .collect()
    )
    books: list[list[list[float]]] = [[] for _ in range(m_sub)]
    for r in sorted(seed_rows, key=lambda r: (r["_m"], r["_rn"])):
        books[r["_m"]].append([float(x) for x in r["_s"]])
    per_pos = [
        F.sum(F.element_at("_s", d + 1)).alias(f"s{d}")
        for d in range(sub_dim)
    ]
    for _ in range(n_iter):
        # same per-code fold ``pq_encode``'s _sub_dists runs at query
        # time (index-ordered (x−y)·(x−y)), with each row's book picked
        # by its subspace index from the one nested literal
        books_lit = _array_lit(books)
        dists = F.transform(
            F.element_at(books_lit, F.col("_m") + 1),
            lambda cent: _fold_sum(
                F.zip_with("_s", cent, lambda x, y: (x - y) * (x - y))
            ),
        )
        assigned = (
            F.array_position(dists, F.array_min(dists)).cast("int") - 1
        )
        rows = (
            subs.select("_m", assigned.alias("_cell"), "_s")
            .groupBy("_m", "_cell")
            .agg(F.count(F.lit(1)).alias("_n"), *per_pos)
            .collect()
        )
        new_books = [[list(c) for c in bk] for bk in books]
        for r in rows:
            new_books[r["_m"]][r["_cell"]] = [
                _snap_sum(r[f"s{d}"]) / r["_n"] for d in range(sub_dim)
            ]
        books = new_books
    subs.unpersist()
    return books


def replay_pq_codebooks(
    rows: list[tuple],
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 3,
) -> list[list[list[float]]]:
    """Pure-Python replay of :func:`train_pq_codebooks` — the PQ
    analogue of :func:`replay_kmeans_codebook`, used to GENERATE the
    trained-PQ DuckDB oracle from raw (id, vector) rows.

    Float-semantics mirror: sub-vector elements go through
    float32→double exactly as Spark's cast (the parquet read already
    yields those doubles), distances fold ``(x − y)·(x − y)`` in index
    order, assignment is first-min (Spark's
    array_position-on-array_min), per-(cell, position) sums snap to
    the same grid (absorbing partial-aggregation order), counts are
    exact ints, and the mean is the same single double division.
    Empty cells keep their previous centroid, matching the trainer's
    merge of only-observed cells.
    """
    import hashlib

    books = []
    for m in range(m_sub):
        subs = []
        for vid, vec in rows:
            lo = m * (len(vec) // m_sub)
            hi = lo + (len(vec) // m_sub)
            subs.append((vid, [float(x) for x in vec[lo:hi]]))
        seeds = sorted(
            subs,
            key=lambda r: hashlib.md5(
                f"pqseed:{m}:{r[0]}".encode()
            ).hexdigest(),
        )[:k_codes]
        book = [list(s[1]) for s in seeds]
        k_actual = len(book)
        sub_dim = len(book[0]) if book else 0
        for _ in range(n_iter):
            sums = [[0.0] * sub_dim for _ in range(k_actual)]
            counts = [0] * k_actual
            for _vid, sv in subs:
                best, bi = None, 0
                for c in range(k_actual):
                    cen = book[c]
                    s = 0.0
                    for d in range(sub_dim):
                        diff = sv[d] - cen[d]
                        s = s + diff * diff
                    if best is None or s < best:
                        best, bi = s, c
                cell = sums[bi]
                for d in range(sub_dim):
                    cell[d] += sv[d]
                counts[bi] += 1
            new_book = [list(c) for c in book]
            for c in range(k_actual):
                if not counts[c]:
                    continue
                new_book[c] = [
                    _snap_sum(sums[c][d]) / counts[c] for d in range(sub_dim)
                ]
            book = new_book
        books.append(book)
    return books


def residual_frame(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, residual) frame for residual-PQ training: each vector minus
    its argmax-assigned coarse centroid — the distribution FAISS trains
    its IVFPQ sub-codebooks on. Pure expression (no shuffle, no
    training state); the assignment is the same first-max
    ``array_position(scores, array_max(scores))`` every IVF path uses,
    so the replay (:func:`replay_residual_rows`) agrees bit-for-bit."""
    scores = centroid_scores(F.col(vec_col), centroids)
    assigned = F.array_position(scores, F.array_max(scores)).cast("int") - 1
    cents_lit = _array_lit(centroids)
    resid = F.zip_with(
        F.col(vec_col),
        F.element_at(cents_lit, assigned + 1),
        lambda x, y: x.cast("double") - y,
    )
    return df.select(F.col(id_col).alias(id_col), resid.alias(vec_col))


def replay_residual_rows(
    rows: list[tuple], centroids: list[list[float]]
) -> list[tuple]:
    """Pure-Python mirror of :func:`residual_frame` over raw (id,
    vector) rows — scores are index-ordered sequential double folds,
    assignment is first-max (Spark's array_position-on-array_max), the
    residual is one double subtraction per element. Feeds
    :func:`replay_pq_codebooks` so the residual-trained oracle is
    generated without Spark."""
    out = []
    for vid, vec in rows:
        v = [float(x) for x in vec]
        best_s, best_c = None, 0
        for c, cent in enumerate(centroids):
            s = 0.0
            for d in range(len(cent)):
                s = s + v[d] * cent[d]
            if best_s is None or s > best_s:
                best_s, best_c = s, c
        cen = centroids[best_c]
        out.append((vid, [v[d] - cen[d] for d in range(len(cen))]))
    return out


def sq8_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    k_prime: int = 15,
    sim_decimals: int = 6,
) -> DataFrame:
    """Scalar-quantized (SQ8) two-stage search — the FAISS
    ``IndexScalarQuantizer`` composition alongside the PQ family:
    candidates are stored as per-vector symmetric int8 codes
    (scale = max|v|/127, code = clamp(floor(v/scale + 0.5), ±127));
    the shortlist is ranked by COMPRESSED-domain cosine; only the k'
    survivors fetch full-precision vectors for the exact rerank.

    The per-vector scale cancels out of cosine, so the approximate
    score is literally ``cosine(int8_codes, float_query)`` — one fold
    over the codes, no dequantization step at all. At 100 TB the scan
    side touches only the 4×-smaller code column; full-precision
    vectors are read k'-per-query through the shortlist join (the same
    discipline as :func:`ivfpq_rerank_topk`, without the codebook
    training the PQ path needs — SQ8 is the zero-training member of
    the compression family). All math is JVM-side fold expressions;
    codes are exact integers on any engine (floor(x+0.5) rounding, as
    ``quantize_embeddings_int8``), so the shortlist is bit-reproducible.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias(
            "_qv"
        ),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    scale = (
        F.array_max(
            F.transform(F.col(vec_col), lambda v: F.abs(v.cast("double")))
        )
        / F.lit(127.0)
    )
    cand = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        scale.alias("_scale"),
    ).filter(F.col("_scale") > 0)
    codes = F.transform(
        F.col("_cv"),
        lambda v: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(v.cast("double") / F.col("_scale") + F.lit(0.5)),
            ),
        ),
    )
    coded = cand.select("neighbor_id", codes.alias("_code")).withColumn(
        "_cn", l2_norm(F.col("_code"))
    )
    approx = (
        F.broadcast(q)
        .crossJoin(coded)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_code"), F.col("_qv"))
                / (F.col("_cn") * F.col("_qn")),
                sim_decimals,
            ).alias("approx_sim"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    short = (
        approx.withColumn("_arn", F.row_number().over(w1))
        .filter(F.col("_arn") <= k_prime)
        .drop("_arn")
    )
    full = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_fv")
    )
    rer = (
        short.join(full, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "approx_sim",
            F.round(
                dot(F.col("_qv"), F.col("_fv"))
                / (F.col("_qn") * l2_norm(F.col("_fv"))),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "approx_sim", "sim", "rn")
    )
