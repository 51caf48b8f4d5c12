"""Round-6 additions: interval join, heavy hitters, graph iteration."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


class TestIntervalJoin:
    def test_basic_containment_and_exclusive_end(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame(
            [Row(pid=i, p=p) for i, p in enumerate([0, 99, 100, 150, 199, 200, 5000])]
        )
        right = spark.createDataFrame([Row(rid=1, s=100, e=200)])
        out = interval_join(left, right, "p", "s", "e", bin_width=64)
        # [100, 200): 100 and 150 and 199 in; 99 and 200 (exclusive end) out
        assert sorted(r.p for r in out.collect()) == [100, 150, 199]

    def test_interval_spanning_many_bins(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame([Row(p=i * 10) for i in range(100)])
        right = spark.createDataFrame([Row(rid=7, s=5, e=995)])
        out = interval_join(left, right, "p", "s", "e", bin_width=10)
        assert out.count() == 99  # 10..990 inclusive by tens

    def test_empty_and_inverted_intervals_drop(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame([Row(p=50)])
        right = spark.createDataFrame(
            [Row(rid=1, s=50, e=50), Row(rid=2, s=60, e=40)]
        )
        out = interval_join(left, right, "p", "s", "e", bin_width=16)
        assert out.count() == 0

    def test_keys_scope_the_join(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame(
            [Row(k="a", p=10), Row(k="b", p=10), Row(k="a", p=99)]
        )
        right = spark.createDataFrame([Row(k="a", s=0, e=50)])
        out = interval_join(left, right, "p", "s", "e", bin_width=32, keys=["k"])
        assert _pairs(out.select("k", "p")) == [("a", 10)]

    def test_matches_theta_join_on_random_data(self, spark):
        import random

        from zenodb_spark.operators.timeops import interval_join

        rng = random.Random(11)
        left = spark.createDataFrame(
            [Row(pid=i, p=rng.randrange(1000)) for i in range(300)]
        )
        right = spark.createDataFrame(
            [
                Row(rid=i, s=s, e=s + rng.randrange(1, 120))
                for i in range(40)
                for s in [rng.randrange(1000)]
            ]
        )
        got = interval_join(left, right, "p", "s", "e", bin_width=50)
        want = left.join(
            right, (F.col("p") >= F.col("s")) & (F.col("p") < F.col("e"))
        )
        assert _pairs(got.select("pid", "rid")) == _pairs(want.select("pid", "rid"))

    def test_plan_is_hash_join_not_nested_loop(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame([Row(p=i) for i in range(100)])
        right = spark.createDataFrame([Row(s=0, e=10)])
        out = interval_join(left, right, "p", "s", "e", bin_width=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


class TestHeavyHitters:
    def _truth(self, df, key, k):
        n = df.count()
        return sorted(
            tuple(r)
            for r in df.groupBy(key)
            .count()
            .filter(F.col("count") * k >= n)
            .withColumnRenamed("count", "n_occurrences")
            .collect()
        )

    def test_matches_exact_groupby_under_prune_pressure(self, spark):
        from zenodb_spark.operators.sketch import heavy_hitters

        # 50k rows, ~10k distinct keys, two planted heavy keys; k=20 with
        # capacity 40 forces constant MG pruning in every partition
        base = spark.range(0, 50_000, 1, 8).select(
            F.when(F.col("id") % 10 == 0, F.lit(-1))
            .when(F.col("id") % 7 == 0, F.lit(-2))
            .otherwise(F.col("id") % 10_000)
            .alias("key")
        )
        got = sorted(tuple(r) for r in heavy_hitters(base, "key", 20).collect())
        assert got == self._truth(base, "key", 20)
        assert {-1, -2} == {key for key, _ in got}

    def test_heavy_key_spread_thin_across_partitions(self, spark):
        from zenodb_spark.operators.sketch import heavy_hitters

        # the planted key is only ~6% of EVERY partition (never locally
        # dominant) but globally ≥ N/16 — MG must still surface it
        base = spark.range(0, 64_000, 1, 32).select(
            F.when(F.col("id") % 16 == 0, F.lit(-7))
            .otherwise(F.col("id"))
            .alias("key")
        )
        got = heavy_hitters(base, "key", 16).collect()
        assert [(r["key"], r["n_occurrences"]) for r in got] == [(-7, 4000)]

    def test_nulls_ignored_and_strings_work(self, spark):
        from zenodb_spark.operators.sketch import heavy_hitters

        df = spark.createDataFrame(
            [Row(k="a")] * 30 + [Row(k="b")] * 5 + [Row(k=None)] * 10
        )
        got = sorted(tuple(r) for r in heavy_hitters(df, "k", 2).collect())
        assert got == [("a", 30)]


class TestPlanShapes:
    def test_heavy_hitters_no_exchange_before_candidates(self, spark):
        from zenodb_spark.operators.sketch import heavy_hitters

        df = spark.range(0, 10_000, 1, 8).select((F.col("id") % 50).alias("k"))
        plan = heavy_hitters(df, "k", 10)._jdf.queryExecution().executedPlan().toString()
        # candidate pass: MapInPandas feeds straight off the scan; exactly
        # one broadcast (the candidate set) and no sort-merge join
        assert "MapInPandas" in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_pagerank_iterations_do_not_grow_edge_joins(self, spark):
        import zenodb_spark.queries as Q

        df = Q.QUERIES["q155_pagerank"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the 5-way fact join ran once, eagerly, into a localCheckpoint;
        # iterations scan the checkpointed RDD instead of re-joining the
        # facts (and the checkpoint is ContextCleaner-freed on GC, unlike
        # the persist() this replaced which pinned a cache entry per call)
        assert plan.count("Scan ExistingRDD") >= 4
        assert df.count() == 25


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """At 100 TB the fact side of a selective dim join is pruned by
    Spark's runtime bloom filter (InjectRuntimeFilter, on by default);
    locally the 10 GiB application-side threshold never trips, so this
    pins the behavior with the threshold lowered — proving the engine's
    scan-pruning path needs zero code from us, only honest defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
        spark.range(0, 200_000, 1, 8).selectExpr(
            "id", "id % 1000 as k", "md5(cast(id as string)) as pad"
        ).write.parquet(fact_p)
        spark.range(0, 1000).selectExpr("id as k", "id*2 as attr").write.parquet(
            dim_p
        )
        f = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter("k % 100 = 0")
        plan = f.join(dim, "k")._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                # size confs read back with a trailing unit ("…b") that
                # set() rejects; strip it
                spark.conf.set(
                    k, v[:-1] if v.endswith("b") and v[:-1].isdigit() else v
                )


class TestExactQuantile2Pass:
    def test_matches_global_sort_with_heavy_duplicates(self, spark):
        from zenodb_spark.operators.percentile import exact_quantile_2pass

        # 40% of mass on one duplicated value: the bracket lands inside a
        # run of ties and the rank arithmetic must still pick correctly
        df = spark.range(0, 20_000, 1, 8).select(
            F.when(F.col("id") % 5 < 2, F.lit(42.0))
            .otherwise((F.col("id") % 997).cast("double"))
            .alias("x")
        )
        import math

        for q in (0.25, 0.5, 0.9):
            got = exact_quantile_2pass(df, "x", q).collect()[0]
            k = max(1, int(math.ceil(q * 20_000)))
            want = df.orderBy("x").limit(k).agg(F.max("x")).collect()[0][0]
            assert got["value"] == want and got["k"] == k

    def test_extreme_quantiles(self, spark):
        from zenodb_spark.operators.percentile import exact_quantile_2pass

        df = spark.range(1, 1001, 1, 4).select(F.col("id").cast("double").alias("x"))
        assert exact_quantile_2pass(df, "x", 0.001).collect()[0]["value"] == 1.0
        assert exact_quantile_2pass(df, "x", 1.0).collect()[0]["value"] == 1000.0


def test_grouped_quantile_matches_per_group_sort(spark):
    import math

    from zenodb_spark.operators.percentile import exact_quantile_2pass_grouped

    df = spark.range(0, 30_000, 1, 8).select(
        (F.col("id") % 7).alias("g"),
        F.when(F.col("id") % 3 == 0, F.lit(5.0))  # heavy ties in every group
        .otherwise((F.col("id") % 977).cast("double"))
        .alias("x"),
    )
    got = {
        tuple(r[:1]): (r["k"], r["n"], r["value"])
        for r in exact_quantile_2pass_grouped(df, ["g"], "x", 0.9).collect()
    }
    rows = df.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(r["x"])
    for g, vals in by_g.items():
        k = max(1, int(math.ceil(0.9 * len(vals))))
        assert got[(g,)] == (k, len(vals), sorted(vals)[k - 1])


class TestCellPairScorerEquivalence:
    """Round-6 optimization: the within-cell pair scoring in
    semdedup_drop_list / cell_topk_pairs moved from a centroid self-join
    evaluating the interpreted HOF dot per pair to the dimension-sequential
    numpy block scorer. These tests pin EXACT equality (doubles compared
    bitwise via ==) against the old self-join formulation, on synthetic
    vectors with duplicate embeddings (bit-equal cosines exercise the
    (cosine desc, id asc) tie-break) plus a singleton cell, and on the
    real float32 parquet embeddings."""

    def _synthetic(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        for i in range(40):
            rows.append(
                Row(
                    vec_id=i,
                    embedding=[rng.gauss(0.0, 1.0) for _ in range(8)],
                    label=rng.randrange(3),
                )
            )
        # exact duplicate vectors -> bit-equal cosines against every third
        # vector (tie-break must pick the smaller id, in both formulations)
        rows.append(Row(vec_id=100, embedding=list(rows[0]["embedding"]), label=1))
        rows.append(Row(vec_id=101, embedding=list(rows[0]["embedding"]), label=2))
        # a vector far away from everything: likely alone in its cell
        rows.append(Row(vec_id=200, embedding=[50.0] * 8, label=0))
        return spark.createDataFrame(rows)

    @staticmethod
    def _old_semdedup(assigned, thr):
        from zenodb_spark.operators.similarity import dot, norm

        x = assigned.select(
            F.col("centroid"),
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("va"),
            norm("embedding").alias("na"),
        )
        y = assigned.select(
            F.col("centroid"),
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("vb"),
            norm("embedding").alias("nb"),
        )
        pairs = (
            x.join(y, "centroid")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", dot("va", "vb") / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= thr)
        )
        return pairs.groupBy("centroid", "vec_b").agg(
            F.count(F.lit(1)).alias("n_dups"), F.max("cosine").alias("best_cos")
        ).select(
            "centroid", F.col("vec_b").alias("dropped_vec"), "n_dups", "best_cos"
        )

    @staticmethod
    def _old_topk(assigned, k):
        from pyspark.sql.window import Window

        from zenodb_spark.operators.similarity import dot, norm

        withn = assigned.withColumn("nrm", norm("embedding"))
        a = withn.select(
            F.col("centroid"),
            F.col("vec_id").alias("a_id"),
            F.col("label").alias("a_label"),
            F.col("embedding").alias("a_v"),
            F.col("nrm").alias("a_nrm"),
        )
        b = withn.select(
            F.col("centroid"),
            F.col("vec_id").alias("b_id"),
            F.col("label").alias("b_label"),
            F.col("embedding").alias("b_v"),
            F.col("nrm").alias("b_nrm"),
        )
        pairs = (
            a.join(b, "centroid")
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                "centroid",
                "a_id",
                "b_id",
                "a_label",
                "b_label",
                (dot("a_v", "b_v") / (F.col("a_nrm") * F.col("b_nrm"))).alias(
                    "cosine"
                ),
            )
        )
        w = Window.partitionBy("a_id").orderBy(F.col("cosine").desc(), F.col("b_id"))
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("centroid", "a_id", "b_id", "cosine", "rnk", "a_label", "b_label")
        )

    def test_semdedup_matches_self_join(self, spark):
        from zenodb_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
            semdedup_drop_list,
        )

        emb = self._synthetic(spark)
        cents = ivf_centroids(8, 3, 43)
        new = _pairs(semdedup_drop_list(emb, cents, "vec_id", "embedding", 0.2))
        old = _pairs(self._old_semdedup(ivf_assign(emb, cents), 0.2))
        assert new == old and len(new) > 5

    def test_semdedup_matches_on_parquet_float32(self, spark):
        from zenodb_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
            semdedup_drop_list,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = ivf_centroids(64, 8, 43)
        new = _pairs(semdedup_drop_list(emb, cents, "vec_id", "embedding", 0.2))
        old = _pairs(self._old_semdedup(ivf_assign(emb, cents), 0.2))
        assert new == old and len(new) > 0

    def test_cell_topk_matches_window(self, spark):
        from zenodb_spark.operators.similarity import (
            cell_topk_pairs,
            ivf_assign,
            ivf_centroids,
        )

        emb = self._synthetic(spark)
        assigned = ivf_assign(emb, ivf_centroids(8, 3, 43)).join(
            emb.select("vec_id", "label"), "vec_id"
        )
        new = _pairs(
            cell_topk_pairs(
                assigned, "vec_id", "embedding", "centroid", k=3,
                carry=(("label", "int"),),
            ).select("centroid", "a_id", "b_id", "cosine", "rnk", "a_label", "b_label")
        )
        old = _pairs(self._old_topk(assigned, 3))
        assert new == old and len(new) > 50


class TestLitVec:
    """Round 6: lit_vec builds constant array<double> literals in one
    F.expr round-trip instead of dim+1 F.lit calls. The contract is
    BITWISE equality with the per-element construction — these pins keep
    a Spark parser change from silently drifting a literal."""

    def test_bitwise_equal_including_edge_doubles(self, spark):
        import math
        import random
        import struct

        from pyspark.sql import functions as F

        from zenodb_spark.operators.util import lit_vec

        rng = random.Random(7)
        vals = [rng.gauss(0.0, 1.0) for _ in range(64)] + [
            1e-05, -1e-05, 5e-324, 1.7976931348623157e308, -0.0, 0.0,
            0.1, 1 / 3, math.pi, 2 ** -52, 123456789.123456789,
        ]
        row = (
            spark.range(1)
            .select(
                F.array(*[F.lit(float(x)) for x in vals]).alias("a"),
                lit_vec(vals).alias("b"),
            )
            .collect()[0]
        )
        pack = lambda xs: [struct.pack("<d", v) for v in xs]
        assert pack(row["a"]) == pack(row["b"])

    def test_nonfinite_falls_back(self, spark):
        import math

        from zenodb_spark.operators.util import lit_vec

        col = lit_vec([1.0, float("nan"), float("inf")])
        row = spark.range(1).select(col.alias("v")).collect()[0]
        assert row["v"][0] == 1.0
        assert math.isnan(row["v"][1])
        assert math.isinf(row["v"][2])

    def test_lsh_fingerprint_unchanged(self, spark):
        """Operator-level pin: fingerprints from lit_vec-built planes equal
        the per-element-literal construction on real float32 vectors."""
        import random

        from pyspark.sql import functions as F

        from zenodb_spark.operators.similarity import _planes, lsh_fingerprint

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        planes = _planes(16, 8, seed=3)

        def old_fp(vec_col, planes):
            vec_col = F.col(vec_col)
            bits = []
            for j, plane in enumerate(planes):
                lit_plane = F.array(*[F.lit(x) for x in plane])
                d = F.aggregate(
                    F.zip_with(vec_col, lit_plane, lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                bits.append(F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
            return sum(bits[1:], start=bits[0]).cast("long")

        got = df.select("vec_id", lsh_fingerprint("embedding", planes).alias("fp"))
        want = df.select("vec_id", old_fp("embedding", planes).alias("fp"))
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
