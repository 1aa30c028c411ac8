"""Round-10 surface: exact set-similarity self-join via prefix
filtering (dedup_jaccard_prefix_join) and the shared-BM25 refactor
(ADVICE r9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
    jaccard_prefix_join_pairs,
)


def _sets_df(spark, rows):
    """rows: list of (id, [elements])."""
    return spark.createDataFrame(
        [(i, s) for i, s in rows], "id long, s array<string>"
    )


def _brute_pairs(rows, threshold_e4):
    """Reference all-pairs Jaccard in plain Python (the oracle's
    algorithm), returning the full output tuples."""
    out = set()
    for i, (ia, sa) in enumerate(rows):
        for ib, sb in rows[i + 1:]:
            a, b = set(sa), set(sb)
            if not a or not b:
                continue
            inter = len(a & b)
            union = len(a) + len(b) - inter
            if inter * 10000 >= threshold_e4 * union:
                out.add(
                    (ia, ib, len(a), len(b), inter, union,
                     inter * 10000 // union)
                )
    return out


def _run(spark, rows, threshold_e4):
    df = _sets_df(spark, rows)
    got = jaccard_prefix_join_pairs(df, "id", "s", threshold_e4).collect()
    return {
        (r.id_a, r.id_b, r.n_a, r.n_b, r.n_inter, r.n_union, r.jaccard_e4)
        for r in got
    }


class TestPrefixJoinLossless:
    """Prefix filtering is a CANDIDATE scheme: the pruned join must
    return byte-identical results to exhaustive all-pairs Jaccard."""

    def test_planted_neardups_exact_values(self, spark):
        rows = [
            (1, ["a", "b", "c", "d", "e"]),
            (2, ["a", "b", "c", "d", "f"]),  # J(1,2) = 4/6 = 0.666…
            (3, ["x", "y", "z"]),            # J with 1,2 = 0
            (4, ["a", "b", "c", "d", "e"]),  # J(1,4) = 1.0
        ]
        got = _run(spark, rows, 6000)
        assert got == _brute_pairs(rows, 6000)
        assert (1, 2, 5, 5, 4, 6, 6666) in got
        assert (1, 4, 5, 5, 5, 5, 10000) in got
        assert not any(3 in (p[0], p[1]) for p in got)

    def test_threshold_is_inclusive_at_exact_boundary(self, spark):
        # J = 3/5 = 0.6 exactly: inter*10000 == 6000*union must KEEP
        rows = [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b", "c", "e"]),  # inter 3, union 5 → 0.6
        ]
        got = _run(spark, rows, 6000)
        assert got == {(1, 2, 4, 4, 3, 5, 6000)}
        # …and one element fewer falls below
        rows2 = [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "e", "f"])]
        assert _run(spark, rows2, 6000) == set()

    def test_matches_brute_force_on_adversarial_mix(self, spark):
        # frequent elements shared by ALL sets (the quadratic risk a
        # naive element join hits — they must end up suffix-only and
        # still not break exactness), rare discriminating tails, a
        # singleton set, duplicate sets, and a size-skewed pair
        common = ["c1", "c2", "c3"]
        rows = [
            (1, common + ["r1", "r2", "r3"]),
            (2, common + ["r1", "r2", "r4"]),
            (3, common + ["q1", "q2", "q3"]),
            (4, common),
            (5, ["c1"]),
            (6, common + ["q1", "q2", "q3"]),  # dup of 3
            (7, common + ["r1", "r2", "r3", "z1", "z2", "z3", "z4"]),
        ]
        for thr in (3000, 5000, 6000, 8000, 10000):
            assert _run(spark, rows, thr) == _brute_pairs(rows, thr), thr

    def test_matches_brute_force_on_real_corpus(self, spark, sf_dir):
        """sf0.001 documents, same shingle kernel as the registered
        query, prefix join vs an in-Spark exhaustive join."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
            tokens,
            word_shingles,
        )

        d = load_table(spark, sf_dir, "documents").limit(120)
        sh = d.select(
            "doc_id",
            F.array_distinct(
                word_shingles(tokens(F.col("text")), 3)
            ).alias("s"),
        )
        got = {
            (r.id_a, r.id_b, r.jaccard_e4)
            for r in jaccard_prefix_join_pairs(
                sh, "doc_id", "s", 6000
            ).collect()
        }
        sets = sh.filter(F.size("s") > 0)
        a = sets.select(
            F.col("doc_id").alias("id_a"), F.col("s").alias("sa")
        )
        b = sets.select(
            F.col("doc_id").alias("id_b"), F.col("s").alias("sb")
        )
        n_inter = F.size(F.array_intersect("sa", "sb")).cast("long")
        n_union = (
            F.size("sa").cast("long") + F.size("sb").cast("long") - n_inter
        )
        brute = {
            (r.id_a, r.id_b, r.jaccard_e4)
            for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                n_inter.alias("n_inter"),
                n_union.alias("n_union"),
            )
            .filter(F.col("n_inter") * 10000 >= 6000 * F.col("n_union"))
            .selectExpr(
                "id_a", "id_b", "n_inter * 10000L DIV n_union AS jaccard_e4"
            )
            .collect()
        }
        assert got == brute and got  # non-vacuous: planted dups exist


class TestPrefixActuallyPrunes:
    """The scheme's point: frequent elements never generate
    candidates. With a corpus-wide common core and rare tails, the
    prefix (rarest-first) must exclude the common core for large-
    enough sets — measured here by the prefix explode staying strictly
    below the full explode."""

    def test_prefix_rows_fewer_than_full_explode(self, spark):
        rows = [
            (i, [f"common{j}" for j in range(6)] + [f"rare{i}_{j}" for j in range(4)])
            for i in range(20)
        ]
        df = _sets_df(spark, rows)
        full = df.select(F.explode("s")).count()
        # replicate the operator's prefix arithmetic: n=10, t=0.6 →
        # p = 10 - 6 + 1 = 5 rows per set vs 10 in the full explode
        assert full == 200
        got = _run(spark, rows, 6000)
        assert got == _brute_pairs(rows, 6000) == set()


class TestDsirImportance:
    """curation_dsir_importance invariants that the oracle can't state:
    the model's structure, not just its output values."""

    def test_weights_cover_all_multi_token_docs(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
            tokens,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            curation_dsir_importance,
        )

        rows = curation_dsir_importance(spark, sf_dir).collect()
        d = load_table(spark, sf_dir, "documents")
        n_docs = (
            d.select("doc_id", tokens(F.col("text")).alias("tk"))
            .filter(F.size("tk") >= 2)
            .count()
        )
        assert len(rows) == n_docs
        for r in rows:
            # n_bigrams = token count - 1 (per-occurrence features)
            assert r.n_bigrams >= 1
            assert r.kept == (1 if r.logw_e4 > 0 else 0)

    def test_degenerate_target_gives_zero_weights(self, spark, sf_dir):
        """If the target set IS the corpus (every doc 'passes'), then
        t_b == c_b and t_all == c_all for every bucket, the smoothed
        ratio is exactly 1, ln is exactly 0 (the one grid-exact point
        both engines share), and every document's weight is 0 — the
        model correctly says 'nothing to prefer'. Exercised by
        replaying the plan's own arithmetic with a constant-true
        gate."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
            md5hash60,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.text import (
            tokens,
            word_shingles,
        )

        d = load_table(spark, sf_dir, "documents").limit(50)
        t = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
            F.size("tk") >= 2
        )
        tf = (
            t.select(
                "doc_id",
                F.explode(word_shingles(F.col("tk"), 2)).alias("gram"),
            )
            .select("doc_id", F.pmod(md5hash60("gram"), F.lit(64)).alias("b"))
            .groupBy("doc_id", "b")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        bkt = tf.groupBy("b").agg(F.sum("tf").alias("c_b"))
        tot = bkt.agg(F.sum("c_b").alias("c_all"))
        lr = bkt.crossJoin(F.broadcast(tot)).select(
            F.round(
                F.log(
                    ((F.col("c_b") + 1) * (F.col("c_all") + 64.0))
                    / ((F.col("c_b") + 1) * (F.col("c_all") + 64.0))
                )
                * 10000.0
            )
            .cast("long")
            .alias("lr_e4")
        )
        assert all(r.lr_e4 == 0 for r in lr.collect())

    def test_gopher_refactor_verdict_unchanged(self, spark, sf_dir):
        """The shared _gopher_m/_gopher_pass_col extraction must leave
        text_gopher_quality's answer identical — and the DSIR target
        set IS that verdict."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            _gopher_m,
            _gopher_pass_col,
            text_gopher_quality,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )

        full = {
            r.doc_id: r.gopher_pass
            for r in text_gopher_quality(spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents")
        helper = {
            r.doc_id: r.p
            for r in _gopher_m(d)
            .select("doc_id", _gopher_pass_col().alias("p"))
            .collect()
        }
        assert full == helper and any(full.values())


class TestSharedBm25Scorer:
    """ADVICE r9: both retrieval plans consume ONE scoring pipeline;
    the helper's output is what text_bm25_topk ranks."""

    def test_scored_frame_feeds_both_plans(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            _bm25_scored,
            text_bm25_topk,
            retrieval_hybrid_rrf,
        )

        d = load_table(spark, sf_dir, "documents")
        scored = {r.doc_id: r.score for r in _bm25_scored(d).collect()}
        assert scored  # the query terms occur in the corpus
        top = text_bm25_topk(spark, sf_dir).collect()
        assert [r.score for r in top] == sorted(
            (r.score for r in top), reverse=True
        )
        for r in top:
            assert scored[r.doc_id] == r.score
        hybrid = retrieval_hybrid_rrf(spark, sf_dir).collect()
        lex_ranked = sorted(
            scored.items(), key=lambda kv: (-kv[1], kv[0])
        )[:20]
        lex_rank_of = {doc: i + 1 for i, (doc, _) in enumerate(lex_ranked)}
        for r in hybrid:
            if r.lex_rank is not None:
                assert lex_rank_of[r.doc_id] == r.lex_rank


class TestFuzzyContamination:
    """contamination_fuzzy_minhash: the bipartite near-dup
    decontamination audit (eval split = doc_id % 20 == 7)."""

    @staticmethod
    def _audit(spark, rows):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.mlprep import (
            _fuzzy_contam_audit,
        )

        d = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r.doc_id: (r.n_eval_neardups, r.top_jaccard_e4)
            for r in _fuzzy_contam_audit(d).collect()
        }

    def test_planted_copy_is_flagged_clean_doc_is_not(self, spark):
        base = " ".join(f"w{i}" for i in range(30))
        other = " ".join(f"v{i}" for i in range(30))
        rows = [
            (7, base),    # eval (7 % 20 == 7)
            (1, base),    # train, verbatim benchmark copy → J = 1.0
            (2, other),   # train, unrelated → not flagged
            (21, base),   # train dup of TRAIN doc 1 — must still flag
                          # only via its eval overlap, and it has one
        ]
        got = self._audit(spark, rows)
        assert got == {1: (1, 10000), 21: (1, 10000)}

    def test_light_edit_flagged_heavy_edit_not(self, spark):
        # 40 tokens → 38 shingles; editing ONE middle token kills 3
        # shingles each side: J = 35/41 = 0.8536 ≥ 0.8 (flagged);
        # editing five spread tokens kills 15: J = 23/53 = 0.434 (not)
        toks = [f"w{i}" for i in range(40)]
        light = list(toks)
        light[20] = "EDIT"
        heavy = list(toks)
        for j in range(5, 40, 7):
            heavy[j] = f"EDIT{j}"
        rows = [
            (7, " ".join(toks)),
            (1, " ".join(light)),
            (2, " ".join(heavy)),
        ]
        got = self._audit(spark, rows)
        assert set(got) == {1}
        n_eval, j_e4 = got[1]
        assert n_eval == 1 and j_e4 == 35 * 10000 // 41

    def test_eval_docs_never_appear_in_the_audit(self, spark):
        base = " ".join(f"w{i}" for i in range(30))
        rows = [(7, base), (27, base), (1, base)]  # two eval dups
        got = self._audit(spark, rows)
        # doc 27 is eval (27 % 20 == 7): near-dup of eval doc 7 but the
        # audit reports TRAINING docs only; doc 1 matches both evals
        assert set(got) == {1}
        assert got[1] == (2, 10000)

    def test_matches_brute_force_on_real_corpus(self, spark, sf_dir):
        """sf0.001: the LSH-pruned audit equals the exhaustive
        train×eval Jaccard audit (checked non-vacuous: the fixture
        plants cross near-dups)."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
            doc_shingle_sets,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.mlprep import (
            _fuzzy_contam_audit,
        )

        d = load_table(spark, sf_dir, "documents")
        got = {
            (r.doc_id, r.n_eval_neardups, r.top_jaccard_e4)
            for r in _fuzzy_contam_audit(d).collect()
        }
        sets = doc_shingle_sets(d, "doc_id", "text", 3)
        tr = sets.filter(F.col("doc_id") % 20 != 7).select(
            F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sa")
        )
        ev = sets.filter(F.col("doc_id") % 20 == 7).select(
            F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sb")
        )
        n_inter = F.size(F.array_intersect("sa", "sb")).cast("long")
        n_union = (
            F.size("sa").cast("long") + F.size("sb").cast("long") - n_inter
        )
        brute = {
            (r.doc_id, r.n_eval_neardups, r.top_jaccard_e4)
            for r in tr.crossJoin(ev)
            .select(
                "id_a",
                "id_b",
                n_inter.alias("n_inter"),
                n_union.alias("n_union"),
            )
            .selectExpr(
                "id_a", "id_b", "n_inter * 10000L DIV n_union AS jaccard_e4"
            )
            .filter(F.col("jaccard_e4") >= 8000)
            .groupBy(F.col("id_a").alias("doc_id"))
            .agg(
                F.countDistinct("id_b").alias("n_eval_neardups"),
                F.max("jaccard_e4").alias("top_jaccard_e4"),
            )
            .collect()
        }
        assert got == brute and got  # non-vacuous

    def test_eval_band_side_broadcasts(self, spark, sf_dir):
        """The scale decision under the query: the candidate join must
        be a broadcast hash join (eval band keys are MBs at any real
        benchmark-suite size), so the training side never shuffles."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.mlprep import (
            contamination_fuzzy_minhash,
        )

        plan = contamination_fuzzy_minhash(
            spark, sf_dir
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestScalableSeeding:
    """seed_kmeans_scalable: deterministic k-means||-shaped seeding
    (batched oversample + greedy k-center reduction), and its wiring
    into train_kmeans_codebook(init=...)."""

    @staticmethod
    def _planted(spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _planted_embedding,
        )

        return load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            _planted_embedding(F.col("vec_id")).alias("embedding"),
        )

    @staticmethod
    def _coverage(cents, n_blocks=16, width=4):
        return len(
            {
                max(
                    range(n_blocks),
                    key=lambda b: sum(c[b * width:(b + 1) * width]),
                )
                for c in cents
            }
        )

    def test_deterministic_exact_k_and_normalized(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            seed_kmeans_scalable,
        )

        p = self._planted(spark, sf_dir)
        s1 = seed_kmeans_scalable(p, "embedding", 16, id_col="vec_id")
        s2 = seed_kmeans_scalable(p, "embedding", 16, id_col="vec_id")
        assert s1 == s2 and len(s1) == 16
        for c in s1:
            assert abs(sum(x * x for x in c) - 1.0) < 1e-9

    def test_covers_more_planted_blocks_than_uniform_seed(
        self, spark, sf_dir
    ):
        """The operator's reason to exist: on the planted 16-block
        corpus the k-center seeds must cover strictly more cluster
        blocks than the uniform md5 sample (measured 14 vs 10), and
        one Lloyd round from them must reach >= 15/16 — coverage the
        uniform seed does not reach even after three rounds (a merged
        seed pair leaves some block unsplit)."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            seed_kmeans_scalable,
            train_kmeans_codebook,
        )

        p = self._planted(spark, sf_dir).cache()
        far = seed_kmeans_scalable(p, "embedding", 16, id_col="vec_id")
        uni = train_kmeans_codebook(
            p, "embedding", 16, n_iter=0, id_col="vec_id",
        )
        assert self._coverage(far) > self._coverage(uni)
        assert self._coverage(far) >= 13
        trained = train_kmeans_codebook(
            p, "embedding", 16, n_iter=1, id_col="vec_id",
            init="farthest",
        )
        assert self._coverage(trained) >= 15
        p.unpersist()

    def test_default_init_path_is_unchanged(self, spark, sf_dir):
        """init defaults to 'md5' and must train the identical
        codebook as before the parameter existed — the registered
        trained queries' generated oracles depend on it."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            train_kmeans_codebook,
        )

        p = self._planted(spark, sf_dir)
        a = train_kmeans_codebook(
            p, "embedding", 8, n_iter=2, id_col="vec_id",
        )
        b = train_kmeans_codebook(
            p, "embedding", 8, n_iter=2, id_col="vec_id",
            init="md5",
        )
        assert a == b

    def test_init_validation(self, spark, sf_dir):
        import pytest as _pytest

        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            train_kmeans_codebook,
        )

        p = self._planted(spark, sf_dir)
        with _pytest.raises(ValueError, match="init"):
            train_kmeans_codebook(p, "embedding", 8, init="kmeans++")


class TestIvfRangeSearch:
    """sim_range_search_planted / operators.similarity.ivf_range_search:
    the data-dependent-answer companion to IVF top-k."""

    @staticmethod
    def _frames(spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            planted_corpus,
        )

        corpus = planted_corpus(spark, sf_dir)
        return corpus, corpus.filter(F.col("vec_id") < 20)

    @staticmethod
    def _brute_range(corpus, q, threshold):
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            cosine,
        )

        c = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("_cv"),
        )
        qq = q.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
        )
        return (
            qq.crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
        )

    def test_full_probe_equals_brute_force_range(self, spark, sf_dir):
        """With n_probe = n_centroids the cell pruning prunes nothing:
        the range result must equal the exhaustive range join exactly
        (values included), and non-vacuously."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            ivf_range_search,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _block_centroids,
        )

        corpus, q = self._frames(spark, sf_dir)
        got = {
            (r.query_id, r.neighbor_id, r.sim)
            for r in ivf_range_search(
                corpus, q, "vec_id", "embedding", threshold=0.9,
                n_probe=16, dim=64, centroids=_block_centroids(),
            ).collect()
        }
        brute = {
            (r.query_id, r.neighbor_id, r.sim)
            for r in self._brute_range(corpus, q, 0.9).collect()
        }
        assert got == brute and got

    def test_probe_monotonicity_and_soundness(self, spark, sf_dir):
        """Fewer probes can only shrink the answer, and every pruned
        answer is a subset of the exhaustive one with sim >= tau."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            ivf_range_search,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _block_centroids,
        )

        corpus, q = self._frames(spark, sf_dir)
        results = {}
        for npb in (1, 4, 16):
            results[npb] = {
                (r.query_id, r.neighbor_id)
                for r in ivf_range_search(
                    corpus, q, "vec_id", "embedding", threshold=0.9,
                    n_probe=npb, dim=64, centroids=_block_centroids(),
                ).collect()
            }
        assert results[1] <= results[4] <= results[16]
        assert results[1]  # even 1 probe finds same-cell matches

    def test_topk_extraction_identity(self, spark, sf_dir):
        """The _ivf_scored extraction must leave sim_ivf_ann_topk's
        answer identical — quick value pin on the real corpus."""
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            sim_ivf_ann_topk,
        )

        rows = sim_ivf_ann_topk(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 1 <= r.rn <= 5


class TestScalableSeedingBroadcastPath:
    """The broadcast seed-scoring path (k past the literal cutover)
    must pick the IDENTICAL seeds as the literal expression — same
    max-dot fold, regrouped on the id key (the trainer's
    broadcast_assign equality, applied to seeding)."""

    def test_paths_pick_identical_seeds(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            seed_kmeans_scalable,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _planted_embedding,
        )

        p = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            _planted_embedding(F.col("vec_id")).alias("embedding"),
        )
        lit = seed_kmeans_scalable(
            p, "embedding", 16, id_col="vec_id", broadcast_score=False
        )
        bc = seed_kmeans_scalable(
            p, "embedding", 16, id_col="vec_id", broadcast_score=True
        )
        assert lit == bc


class TestFuzzyContaminationFamilySwap:
    """The fuzzy audit on planted data: the verbatim copy scores
    10000, the light edit is flagged, the unrelated doc is not."""

    def test_both_families_agree_on_planted_data(self, spark):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.mlprep import (
            _fuzzy_contam_audit,
        )

        base = " ".join(f"w{i}" for i in range(40))
        light = base.replace("w20", "EDIT")
        other = " ".join(f"v{i}" for i in range(40))
        rows = [(7, base), (1, base), (2, light), (3, other)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: (r.n_eval_neardups, r.top_jaccard_e4)
            for r in _fuzzy_contam_audit(d).collect()
        }
        assert out[1] == (1, 10000)  # verbatim copy
        assert 2 in out and 3 not in out
