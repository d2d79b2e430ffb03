"""Similarity search: exact brute-force top-k + IVF approximate path."""

from pyspark.sql import functions as F

from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import (
    ann_ivf,
    assign_clusters,
    cosine_topk,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestCosineTopK:
    def test_duplicate_vector_is_top1(self, spark):
        e = _emb(spark)
        clone = e.filter(F.col("vec_id") == 0).select(
            F.lit(9999).cast("long").alias("vec_id"), "embedding", "label"
        )
        corpus = e.unionByName(clone)
        out = cosine_topk(corpus, corpus.filter(F.col("vec_id") == 9999), k=3).collect()
        top1 = [r for r in out if r["rank"] == 1][0]
        assert top1["neighbor_id"] == 0
        assert abs(top1["cosine"] - 1.0) < 1e-9

    def test_k_rows_per_query_and_rank_order(self, spark):
        e = _emb(spark)
        out = cosine_topk(e, e.filter(F.col("vec_id") < 3), k=5)
        rows = out.collect()
        assert len(rows) == 15
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            rs = sorted(rs, key=lambda r: r["rank"])
            cosines = [r["cosine"] for r in rs]
            assert cosines == sorted(cosines, reverse=True)
            assert all(r["neighbor_id"] != q for r in rs)


class TestIVF:
    def test_every_vector_assigned_once(self, spark):
        e = _emb(spark)
        centroids = e.orderBy("vec_id").limit(8)
        assigned = assign_clusters(e, centroids)
        assert assigned.count() == e.count()
        assert assigned.select("cluster_id").distinct().count() <= 8

    def test_recall_vs_brute_force(self, spark):
        e = _emb(spark)
        q = e.filter(F.col("vec_id") < 5)
        brute = cosine_topk(e, q, k=10).collect()
        approx = ann_ivf(e, q, k=10, n_centroids=16, nprobe=8).collect()
        bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
        aset = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(bset & aset) / len(bset)
        assert recall >= 0.3  # nprobe=8 of 16 clusters on isotropic data


class TestKMeans:
    def test_centroids_improve_recall_or_match(self, spark):
        from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import (
            kmeans_cosine,
        )

        e = _emb(spark)
        cents = kmeans_cosine(e, k=8, max_iters=3)
        rows = cents.collect()
        assert 1 <= len(rows) <= 8
        # unit-norm double vectors of the right dimensionality
        for r in rows:
            v = r["embedding"]
            assert len(v) == 64
            norm = sum(x * x for x in v) ** 0.5
            assert abs(norm - 1.0) < 1e-9

    def test_assignment_with_kmeans_centroids(self, spark):
        from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import (
            assign_clusters,
            kmeans_cosine,
        )
        from pyspark.sql import functions as F

        e = _emb(spark)
        cents = kmeans_cosine(e, k=8, max_iters=2).select(
            F.col("centroid_id").alias("vec_id"), "embedding"
        )
        assigned = assign_clusters(e, cents)
        assert assigned.count() == e.count()
        n_clusters = assigned.select("cluster_id").distinct().count()
        assert 1 < n_clusters <= 8


class TestKmeansMicro:
    def test_deterministic_across_runs_and_partitionings(self, spark):
        """kmeans_micro centroids derive from order-free integer sums, so
        two runs over differently-partitioned input are bit-identical —
        the property kmeans_cosine (double means) cannot promise, and the
        one that lets a SQL oracle re-run the training exactly."""
        from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import (
            kmeans_micro,
        )

        e = _emb(spark)
        a = kmeans_micro(e, k=8, iters=2).collect()
        b = kmeans_micro(e.repartition(7), k=8, iters=2).collect()
        assert sorted(r["centroid_id"] for r in a) == sorted(
            r["centroid_id"] for r in b
        )
        va = {r["centroid_id"]: list(r["embedding"]) for r in a}
        vb = {r["centroid_id"]: list(r["embedding"]) for r in b}
        assert va == vb  # exact float equality, not approx

    def test_trained_blocking_beats_standin_fanout(self, spark):
        """Training must not worsen sum(n_c^2) — the SemDeDup pair-join
        candidate bound — vs the first-k stand-in centroids (at sf0.01
        the trained hard-assignment recall is 30.5% vs 18.6% stand-in;
        here we pin the cost side on the tiny corpus)."""
        from pyspark.sql import functions as F

        from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import (
            assign_clusters,
            kmeans_micro,
        )

        e = _emb(spark)
        standin = e.orderBy("vec_id").limit(16)
        trained = kmeans_micro(e, k=16, iters=2).select(
            F.col("centroid_id").alias("vec_id"), "embedding"
        )

        def pair_bound(cents):
            sizes = [
                r["count"]
                for r in assign_clusters(e, cents)
                .groupBy("cluster_id").count().collect()
            ]
            return sum(n * n for n in sizes)

        assert pair_bound(trained) <= pair_bound(standin)


def test_fold_dot_udf_bit_identical_to_expr(spark):
    """The Arrow-vectorized fold twin must equal the interpreted
    aggregate(zip_with(...)) chain BIT-FOR-BIT on every corpus pair —
    this is the license for cosine-heavy gates to swap one for the
    other without touching their oracles."""
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import dot

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = e.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    scored = pairs.select(
        dot("ea", "eb").alias("jvm"),
        dot("ea", "eb", vectorized=True).alias("arrow"),
        dot("ea", "ea", vectorized=True).alias("arrow_self"),
        dot("ea", "ea").alias("jvm_self"),
    )
    # null-safe disagreement: plain != evaluates to NULL when either side
    # is NULL and would silently DROP exactly the rows where the two
    # paths diverge — eqNullSafe negated catches value AND nullness splits
    diff = scored.filter(
        (~F.col("jvm").eqNullSafe(F.col("arrow")))
        | (~F.col("jvm_self").eqNullSafe(F.col("arrow_self")))
    ).count()
    assert diff == 0
    # and the license is not vacuous: the corpus produced real pairs,
    # none of them NULL
    total = scored.count()
    assert total > 100_000
    assert scored.filter(F.col("jvm").isNull()).count() == 0


def test_fold_dot_udf_null_algebra_matches_expr(spark):
    """The Arrow twin must replay the SQL fold's NULL algebra, not crash:
    NULL array -> NULL, unequal lengths -> NULL (zip_with null-pads),
    both empty -> 0.0 (the fold base), plus a ragged-batch fast-path
    bypass — compared against the expr fold on the same rows."""
    from pyspark.sql import functions as F

    from defi_etl_platform_sqlglot_implementation__spark.operators.similarity import dot

    rows = [
        (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),   # plain
        (1, None, [1.0, 2.0]),                    # NULL left
        (2, [1.0, 2.0], None),                    # NULL right
        (3, [1.0, 2.0, 3.0], [1.0, 2.0]),         # unequal lengths
        (4, [], []),                              # both empty
        (5, [0.5, 0.5], [2.0, 2.0]),              # different dim than row 0
    ]
    df = spark.createDataFrame(
        rows, "i long, ea array<double>, eb array<double>")
    got = (
        df.select(
            "i",
            dot("ea", "eb").alias("jvm"),
            dot("ea", "eb", vectorized=True).alias("arrow"),
        )
        .orderBy("i")
        .collect()
    )
    for r in got:
        assert (r.jvm is None) == (r.arrow is None), r
        if r.jvm is not None:
            assert r.jvm == r.arrow, r
    # the fixed expectations, independently of the expr fold
    vals = [(r.jvm, r.arrow) for r in got]
    assert vals[0] == (32.0, 32.0)
    assert vals[1] == (None, None)
    assert vals[2] == (None, None)
    assert vals[3] == (None, None)
    assert vals[4] == (0.0, 0.0)
    assert vals[5] == (2.0, 2.0)


class TestAssignmentGuards:
    """Degenerate-input semantics of the map-only assignment are a
    DECISION (fail loudly), not an accident: the pre-r6 broadcast-join
    plan silently produced NULL cosines for NULL/ragged vectors and
    raised DIVIDE_BY_ZERO (ANSI) for zero-norm ones.  The Arrow closure
    now raises a named error for all three, so Spark and the DuckDB
    oracles (whose unrolled CTEs assume well-formed vectors) can never
    silently diverge."""

    def _cents(self, spark):
        return spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "vec_id long, embedding array<double>")

    def test_empty_codebook_raises_at_build(self, spark):
        import pytest

        empty = self._cents(spark).filter("vec_id < 0")
        corpus = self._cents(spark)
        with pytest.raises(ValueError, match="k == 0"):
            assign_clusters(corpus, empty)

    def test_zero_norm_centroid_raises_at_build(self, spark):
        import pytest

        cents = spark.createDataFrame(
            [(0, [0.0, 0.0])], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="zero-norm centroid"):
            assign_clusters(self._cents(spark), cents)

    def test_null_embedding_raises_in_task(self, spark):
        import pytest

        corpus = spark.createDataFrame(
            [(10, [1.0, 1.0]), (11, None)],
            "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="NULL or wrong-length"):
            assign_clusters(corpus, self._cents(spark)).collect()

    def test_ragged_embedding_raises_in_task(self, spark):
        import pytest

        corpus = spark.createDataFrame(
            [(10, [1.0, 1.0]), (11, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="NULL or wrong-length"):
            assign_clusters(corpus, self._cents(spark)).collect()

    def test_zero_norm_embedding_raises_in_task(self, spark):
        import pytest

        corpus = spark.createDataFrame(
            [(10, [1.0, 1.0]), (11, [0.0, 0.0])],
            "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="zero-norm embedding"):
            assign_clusters(corpus, self._cents(spark)).collect()


def test_material_scope_releases_library_persists(spark):
    """Library consumers outside the registry bound their tracked
    persists with material_scope(); on exit nothing stays pinned."""
    from defi_etl_platform_sqlglot_implementation__spark.operators import materialize as M
    from defi_etl_platform_sqlglot_implementation__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    with M.material_scope():
        # entry releases whatever earlier callers left in the module scope
        before = len(M._SCOPED)
        pairs = minhash_lsh_pairs(docs)
        n_inside = pairs.count()
        assert len(M._SCOPED) > before  # operators tracked their persists
    assert len(M._SCOPED) == 0
    # escaping frame still usable after release (lineage recompute)
    assert pairs.count() == n_inside
