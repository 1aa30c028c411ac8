"""Round-9 surface: Lloyd-assignment cutover default (VERDICT.md r8
next-round #6) and the planted-cluster ANN recall fixture (#5)."""

from __future__ import annotations

import pytest

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
    BROADCAST_ASSIGN_CUTOVER_K,
    _resolve_assign_mode,
)


class TestAssignModeCutover:
    """The trainer and the seeder select by k when the override is
    None: literal up to the documented cutover, broadcast above."""

    def test_default_literal_below_cutover(self):
        assert _resolve_assign_mode(8, None) is False
        assert _resolve_assign_mode(BROADCAST_ASSIGN_CUTOVER_K, None) is False

    def test_default_broadcast_above_cutover(self):
        assert _resolve_assign_mode(BROADCAST_ASSIGN_CUTOVER_K + 1, None) is True
        assert _resolve_assign_mode(2000, None) is True

    def test_explicit_false_is_the_escape_hatch(self):
        assert _resolve_assign_mode(2000, False) is False


class TestPlantedRecall:
    """The planted-cluster corpus retires the r8 chance-floor caveat:
    on data with real cluster structure the SAME IVF design measures
    recall far above the n_probe/n_centroids floor, and the n_probe
    dial is a visible quality/cost frontier (measured at both test
    SFs: 0.81 / 0.955 / 0.995 at n_probe 1/2/4 — the embeddings table
    ships 500 rows at sf0.001 and sf0.01, so the values coincide)."""

    @pytest.fixture(scope="class")
    def curve(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            planted_recall,
        )

        return {
            npb: planted_recall(spark, sf_dir, k=10, n_probe=npb)
            .agg(F.avg("recall"))
            .collect()[0][0]
            for npb in (1, 2, 4)
        }

    def test_recall_at_4_probes_certifies_the_index(self, curve):
        # the verdict's done-bar: >= ~0.8 at n_probe=4; measured 0.995
        assert curve[4] >= 0.9

    def test_n_probe_dial_is_visible(self, curve):
        # strictly climbing, and probe-1 clearly below saturation —
        # the frontier exists, unlike the uniform corpus where every
        # setting pins near the chance floor
        assert curve[1] < curve[2] < curve[4]
        assert curve[1] < 0.95

    def test_far_above_chance_floor(self, curve):
        # chance floor at n_probe=1 is 1/16 of the corpus; measured
        # 0.81 — the index is earning its keep on clustered data
        assert curve[1] >= 0.5


class TestRound9Tools:
    """Cheap structural pins for the two round-9 measurement tools
    (their heavy paths produce the committed STREAM_BENCH.json /
    ANN_CURVE.json artifacts; full runs are not pytest material)."""

    def test_stream_bench_percentile(self):
        import tools.stream_bench as sb

        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        assert sb._pctl(xs, 0.5) == 3.0
        assert sb._pctl(xs, 1.0) == 5.0
        assert sb._pctl([7.0], 0.95) == 7.0

    def test_stream_bench_mirrors_cover_the_state_shapes(self):
        # one mirror per stateful-operator class: windowed agg (x2),
        # bounded-state dedup, applyInPandasWithState, stream-stream
        # join — the five shapes whose per-batch latency matters
        import tools.stream_bench as sb

        assert set(sb.MIRRORS) == {
            "tumbling_counts", "sliding_avg", "dedup_within_watermark",
            "stateful_user_totals", "interval_join",
        }

    def test_block_centroids_are_orthonormal_blocks(self):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _block_centroids,
        )

        cents = _block_centroids()
        assert len(cents) == 16 and all(len(c) == 64 for c in cents)
        # unit norm, disjoint supports
        for c, row in enumerate(cents):
            assert sum(v * v for v in row) == 1.0
            assert [i for i, v in enumerate(row) if v] == list(
                range(4 * c, 4 * c + 4)
            )


class TestTrainedPQ:
    """Trained PQ sub-codebooks (the measured answer to the sha
    plateau): replay bit-equality makes the generated oracle honest,
    and planted-corpus recall shows the training earning its keep in
    the compressed domain."""

    def test_replay_is_bit_equal_to_trainer(self, spark, sf_dir):
        import duckdb

        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            replay_pq_codebooks,
            train_pq_codebooks,
        )

        e = load_table(spark, sf_dir, "embeddings")
        trained = train_pq_codebooks(
            e, "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
            id_col="vec_id",
        )
        rows = duckdb.sql(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
        replayed = replay_pq_codebooks(
            rows, m_sub=8, k_codes=16, n_iter=3
        )
        assert trained == replayed

    def test_trained_books_lift_compressed_recall_on_planted(
        self, spark, sf_dir
    ):
        import pyspark.sql.functions as F

        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            brute_force_topk,
            ivfpq_rerank_topk,
            train_pq_codebooks,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _block_centroids,
            _recall_frame,
            planted_corpus,
        )

        corpus = planted_corpus(spark, sf_dir).cache()
        q = corpus.filter(F.col("vec_id") < 20)
        truth = brute_force_topk(
            q, corpus, "vec_id", "embedding", k=10
        ).select("query_id", "neighbor_id")

        def recall(books):
            approx = ivfpq_rerank_topk(
                corpus, q, "vec_id", "embedding", k=10, k_prime=20,
                n_probe=4, dim=64, m_sub=8, k_codes=16,
                centroids=_block_centroids(), books=books,
            )
            return (
                _recall_frame(truth, approx)
                .agg(F.avg("recall"))
                .collect()[0][0]
            )

        sha = recall(None)  # the measured ~0.61 plateau
        trained_books = train_pq_codebooks(
            corpus, "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
            id_col="vec_id",
        )
        lifted = recall(trained_books)
        corpus.unpersist()
        # trained sub-codebooks must clearly beat the sha plateau and
        # reach high absolute recall with exact rerank on top
        assert lifted > sha + 0.1
        assert lifted >= 0.85


class TestResidualIVFPQ:
    """Residual IVF-PQ (FAISS's actual IVFPQ): replay bit-equality for
    the full coarse-assign → residual → train chain, and a
    compressed-domain recall floor on the planted corpus."""

    def test_residual_chain_replay_is_bit_equal(self, spark, sf_dir):
        import duckdb

        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            _deterministic_centroids,
            replay_pq_codebooks,
            replay_residual_rows,
            residual_frame,
            train_pq_codebooks,
        )

        cents = _deterministic_centroids(16, 64)
        e = load_table(spark, sf_dir, "embeddings")
        trained = train_pq_codebooks(
            residual_frame(e, cents, "vec_id", "embedding"),
            "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
            id_col="vec_id",
        )
        rows = duckdb.sql(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
        replayed = replay_pq_codebooks(
            replay_residual_rows(rows, cents),
            m_sub=8, k_codes=16, n_iter=3,
        )
        assert trained == replayed

    def test_residual_compressed_domain_beats_sha_floor(
        self, spark, sf_dir
    ):
        import pyspark.sql.functions as F

        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            brute_force_topk,
            ivfpq_topk,
            residual_frame,
            train_pq_codebooks,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
            _block_centroids,
            _recall_frame,
            planted_corpus,
        )

        corpus = planted_corpus(spark, sf_dir).cache()
        q = corpus.filter(F.col("vec_id") < 20)
        truth = brute_force_topk(
            q, corpus, "vec_id", "embedding", k=10
        ).select("query_id", "neighbor_id")
        block = _block_centroids()

        def recall(books, residual):
            approx = ivfpq_topk(
                corpus, q, "vec_id", "embedding", k=10, n_probe=4,
                dim=64, m_sub=8, k_codes=16, centroids=block,
                books=books, residual=residual,
            ).select("query_id", "neighbor_id")
            return (
                _recall_frame(truth, approx)
                .agg(F.avg("recall"))
                .collect()[0][0]
            )

        sha = recall(None, False)  # measured 0.47: raw sha books
        resid_books = train_pq_codebooks(
            residual_frame(corpus, block, "vec_id", "embedding"),
            "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
            id_col="vec_id",
        )
        lifted = recall(resid_books, True)
        corpus.unpersist()
        # Residual-trained codes must clearly beat the raw sha books in
        # the COMPRESSED domain (no rerank; measured 0.785 vs 0.47).
        # NOT pinned above raw-trained: on this fixture the coarse
        # codebook IS the planted structure, so residuals are
        # near-noise and the two land within noise of each other —
        # see the sim_ivfpq_residual_topk docstring.
        assert lifted > sha + 0.2
        assert lifted >= 0.7


class TestSQ8TopK:
    """SQ8 compressed-domain search (the zero-training member of the
    compression family): per-vector symmetric int8 codes whose scale
    cancels out of cosine, shortlist in the compressed domain, exact
    rerank. Value parity is the driver oracle's job; these pin the
    quantization-error and recall contracts the plan relies on."""

    @pytest.fixture(scope="class")
    def result(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            sq8_topk,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )

        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 20)
        return sq8_topk(e, q, "vec_id", "embedding", k=5, k_prime=15).collect()

    def test_shape(self, result):
        from collections import Counter

        per_q = Counter(r.query_id for r in result)
        assert len(per_q) == 20
        assert all(v == 5 for v in per_q.values())
        for r in result:
            assert 1 <= r.rn <= 5
            assert r.neighbor_id != r.query_id

    def test_quantization_error_bounded(self, result):
        # 8-bit symmetric quantization of 64-dim vectors keeps the
        # compressed-domain cosine within ~1% of the exact value —
        # the reason a 15-wide shortlist suffices for top-5.
        for r in result:
            assert abs(r.approx_sim - r.sim) < 0.02

    def test_recall_vs_brute_force(self, spark, sf_dir, result):
        import pyspark.sql.functions as F

        from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
            brute_force_topk,
        )
        from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
            load_table,
        )

        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 20)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(q, e, "vec_id", "embedding", k=5)
            .select("query_id", "neighbor_id")
            .collect()
        }
        got = {(r.query_id, r.neighbor_id) for r in result}
        # int8 codes + 3x-overfetch rerank: recall@5 is essentially
        # exact on real embeddings (measured 1.0 at both test SFs).
        assert len(got & truth) / len(truth) >= 0.95


class TestBM25TopK:
    """BM25 retrieval invariants (value parity is oracle-checked):
    Lucene +1 IDF keeps every contribution positive, ranks are a
    dense 1..10, ordering is (score desc, doc_id), and n_hit is
    bounded by the query vocabulary."""

    @pytest.fixture(scope="class")
    def rows(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            text_bm25_topk,
        )

        return text_bm25_topk(spark, sf_dir).collect()

    def test_rank_shape_and_order(self, rows):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            _BM25_TERMS,
        )

        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 10
        for a, b in zip(rows, rows[1:]):
            assert (a.score, -a.doc_id) >= (b.score, -b.doc_id)
        for r in rows:
            assert r.score > 0  # +1 inside the log keeps IDF positive
            assert 1 <= r.n_hit <= len(_BM25_TERMS)


class TestHybridRRF:
    """RRF fusion invariants (value parity is oracle-checked): rrf is
    exactly the two-term reciprocal sum of the carried ranks, ranks are
    within their list size, at least one rank is present per row, and
    the output ordering is (rrf desc, doc_id)."""

    @pytest.fixture(scope="class")
    def rows(self, spark, sf_dir):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            retrieval_hybrid_rrf,
        )

        return retrieval_hybrid_rrf(spark, sf_dir).collect()

    def test_rrf_is_the_reciprocal_rank_sum(self, rows):
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
            _RRF_K,
            _RRF_LIST_K,
        )

        assert rows, "fusion produced no rows"
        for r in rows:
            expect = 0.0
            for rank in (r.lex_rank, r.sem_rank):
                if rank is not None:
                    assert 1 <= rank <= _RRF_LIST_K
                    expect += 1.0 / (_RRF_K + rank)
            assert r.lex_rank is not None or r.sem_rank is not None
            assert r.rrf == round(expect, 6)

    def test_rank_shape_and_order(self, rows):
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 10
        for a, b in zip(rows, rows[1:]):
            assert (a.rrf, -a.doc_id) >= (b.rrf, -b.doc_id)
