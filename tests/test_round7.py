"""Round-7 fixes (round-4 ADVICE items): interval_join integer precision on
epoch-ns axes, COUNTDISTINCT -0.0 normalization + state version + size
guard, zorder_write conf isolation, persist-leak removal."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


class TestIntervalJoinEpochNs:
    """`(c - c%b)/b` in DOUBLE loses integer precision above 2^53; bin ids
    on an epoch-ns axis (~1.7e18) could be off by one, silently dropping
    matching point/interval pairs. The fix keeps the division integral."""

    def test_point_matches_own_interval_at_epoch_ns(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        rng = random.Random(42)
        base = 1_700_000_000_000_000_000  # ~2023 in epoch ns
        pts = [base + rng.randrange(10**15) for _ in range(200)]
        left = spark.createDataFrame([Row(pid=i, p=p) for i, p in enumerate(pts)])
        # each point gets exactly one enclosing width-1 interval: any bin
        # misassignment on either side loses the pair
        right = spark.createDataFrame(
            [Row(rid=i, s=p, e=p + 1) for i, p in enumerate(pts)]
        )
        out = interval_join(left, right, "p", "s", "e", bin_width=1000)
        got = _pairs(out.select("pid", "rid"))
        assert got == [(i, i) for i in range(200)]

    def test_matches_theta_join_at_epoch_ns(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        rng = random.Random(7)
        base = 1_699_999_999_999_000_000
        left = spark.createDataFrame(
            [Row(pid=i, p=base + rng.randrange(5_000_000)) for i in range(150)]
        )
        right = spark.createDataFrame(
            [
                Row(rid=i, s=s, e=s + rng.randrange(1, 20_000))
                for i in range(40)
                for s in [base + rng.randrange(5_000_000)]
            ]
        )
        got = interval_join(left, right, "p", "s", "e", bin_width=7_919)
        want = left.join(
            right, (F.col("p") >= F.col("s")) & (F.col("p") < F.col("e"))
        )
        assert _pairs(got.select("pid", "rid")) == _pairs(want.select("pid", "rid"))

    def test_negative_axis_floor_semantics(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        left = spark.createDataFrame(
            [Row(pid=i, p=p) for i, p in enumerate([-100, -1, 0, 1, -1001])]
        )
        right = spark.createDataFrame([Row(rid=1, s=-1000, e=1)])
        out = interval_join(left, right, "p", "s", "e", bin_width=64)
        assert sorted(r.p for r in out.collect()) == [-100, -1, 0]

    def test_rejects_nonpositive_bin_width(self, spark):
        from zenodb_spark.operators.timeops import interval_join

        df = spark.createDataFrame([Row(p=1, s=0, e=2)])
        with pytest.raises(ValueError):
            interval_join(df, df, "p", "s", "e", bin_width=0)


_E = 1420070400  # 2015-01-01, matches the suite's virtual-clock anchor


def _ts(off: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(_E + off, dt.timezone.utc)


def _cd_schema():
    return {
        "m": {
            "sql": "SELECT COUNTDISTINCT(v) AS dv FROM pts GROUP BY k, period('1h')",
            "retentionperiod": "48h",
        }
    }


class TestCountDistinctState:
    def test_negative_zero_collapses_with_zero(self, spark):
        """SQL DISTINCT treats -0.0 and 0.0 as one value; the string-cast
        state must too (normalized via `+ 0.0` before the cast)."""
        from zenodb_spark.engine import DB

        db = DB(spark, now=_E + 100)
        db.apply_schema(_cd_schema())
        db.insert(
            "pts",
            spark.createDataFrame(
                [
                    Row(ts=_ts(1), k="a", v=-0.0),
                    Row(ts=_ts(2), k="a", v=0.0),
                    Row(ts=_ts(3), k="a", v=2.0),
                ]
            ),
        )
        rows = db.query("SELECT dv FROM m GROUP BY k").collect()
        assert len(rows) == 1 and rows[0]["dv"] == 2.0

    def test_state_column_carries_version_tag(self, spark):
        from zenodb_spark.engine import DB

        db = DB(spark, now=_E + 100)
        db.apply_schema(_cd_schema())
        db.insert(
            "pts", spark.createDataFrame([Row(ts=_ts(1), k="a", v=1.0)])
        )
        t = db.tables["m"]
        assert any(s.col.endswith("__dsetv2") for s in t.registry.all_specs())

    def test_legacy_v1_store_rejected_loudly(self, spark, tmpdir):
        """A persisted v1 state column (`_sN__dset`) must fail on reopen
        with a migration message, not merge silently."""
        import os
        import shutil

        from zenodb_spark.engine import DB
        from zenodb_spark.sources import versions

        wd = f"{tmpdir}/w"
        db = DB(spark, now=_E + 100, workdir=wd)
        db.apply_schema(_cd_schema())
        db.insert(
            "pts", spark.createDataFrame([Row(ts=_ts(1), k="a", v=1.0)])
        )
        db.tables["m"].compact()
        tdir = versions.base(f"{wd}/m")
        assert tdir is not None, os.listdir(wd)
        st = spark.read.parquet(tdir)
        legacy_cols = [
            F.col(c).alias(c.replace("__dsetv2", "__dset")) for c in st.columns
        ]
        st.select(legacy_cols).write.mode("overwrite").parquet(f"{tmpdir}/v1")
        shutil.rmtree(tdir)
        shutil.copytree(f"{tmpdir}/v1", tdir)
        db2 = DB(spark, now=_E + 100, workdir=wd)
        with pytest.raises(ValueError, match="v1 COUNTDISTINCT"):
            db2.apply_schema(_cd_schema())

    def test_dset_guard_raises_past_cap(self, spark, monkeypatch):
        import zenodb_spark.plans.compiler as C

        monkeypatch.setattr(C, "DSET_MAX_MEMBERS", 10)
        df = spark.range(100).select(F.col("id").cast("double").alias("v"))
        arr = F.array_sort(F.collect_set(F.col("v").cast("string")))
        guarded = df.agg(C._dset_guard(arr).alias("s"))
        with pytest.raises(Exception, match="COUNTDISTINCT exact state exceeded"):
            guarded.collect()

    def test_dset_guard_passes_under_cap(self, spark):
        import zenodb_spark.plans.compiler as C

        df = spark.range(5).select(F.col("id").cast("double").alias("v"))
        arr = F.array_sort(F.collect_set(F.col("v").cast("string")))
        out = df.agg(C._dset_guard(arr).alias("s")).collect()
        assert len(out[0]["s"]) == 5


class TestZorderConfIsolation:
    def test_session_conf_untouched_by_write(self, spark, tmp_path):
        from zenodb_spark.sources.layout import zorder_write

        key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        before = spark.conf.get(key)
        df = spark.range(1000).select(
            (F.col("id") % 37).alias("x"), (F.col("id") % 11).alias("y")
        )
        zorder_write(df, str(tmp_path / "z"), ["x", "y"], n_files=4)
        assert spark.conf.get(key) == before
        # and the write itself is intact
        back = spark.read.parquet(str(tmp_path / "z"))
        assert back.count() == 1000
        assert set(back.columns) == {"x", "y"}


class TestNoPersistLeak:
    def test_running_total_leaves_no_cache_entry(self, spark):
        from zenodb_spark.operators.prefix import running_total

        # the leak was a DataFrame.persist() entry in the CacheManager,
        # which nothing ever unpersisted over a long driver session; a
        # localCheckpoint RDD is NOT tracked there and the ContextCleaner
        # frees its blocks once the frame is garbage collected
        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        was_empty = cache_mgr.isEmpty()
        df = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        out = running_total(df, ["k"], "v", "rt")
        total = out.agg(F.max("rt")).collect()[0][0]
        assert total == sum(i % 97 for i in range(10_000))
        assert cache_mgr.isEmpty() == was_empty, (
            "running_total must not pin a CacheManager entry"
        )


class TestStarConnectedComponents:
    """Large-star/small-star CC (Kiveris et al.): the same labels as a plain
    Python component search on random graphs, O(log n) rounds on a chain
    adversary."""

    def _labels(self, df):
        return sorted((r["node"], r["lab"]) for r in df.collect())

    @staticmethod
    def _reference(edges):
        """(node, min node of its component) for every non-isolated node,
        by depth-first search over the undirected edge list."""
        adj: dict = {}
        for a, b in edges:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        labels = {}
        for start in adj:
            if start in labels:
                continue
            comp, stack = {start}, [start]
            while stack:
                for nb in adj[stack.pop()] - comp:
                    comp.add(nb)
                    stack.append(nb)
            for x in comp:
                labels[x] = min(comp)
        return sorted(labels.items())

    @staticmethod
    def _distributed(monkeypatch, edges, **kw):
        """connected_components with the small-graph driver fast lane off,
        so the distributed star rounds run."""
        from zenodb_spark.operators import dedup

        with monkeypatch.context() as m:
            m.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
            return dedup.connected_components(edges, **kw)

    def test_matches_reference_on_random_graphs(self, spark, monkeypatch):
        """Both the driver fast lane and the forced-distributed star rounds
        label every node with its component's minimum id."""
        from zenodb_spark.operators.dedup import connected_components

        rng = random.Random(1234)
        for trial in range(4):
            n = 60
            pairs = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(40 + trial * 25)
            ]
            want = self._reference(pairs)
            e = spark.createDataFrame(
                [Row(doc_a=a, doc_b=b) for a, b in pairs]
            ).filter("doc_a != doc_b")
            assert self._labels(connected_components(e)) == want, f"trial {trial}"
            dist = self._distributed(monkeypatch, e)
            assert self._labels(dist) == want, f"trial {trial}"

    def test_chain_adversary_converges_in_log_rounds(self, spark, monkeypatch):
        from zenodb_spark.operators.dedup import connected_components

        # a 200-node chain: diameter 199. Label propagation would need
        # ~diameter rounds; star must finish in O(log n).
        chain = spark.createDataFrame(
            [Row(doc_a=i, doc_b=i + 1) for i in range(199)]
        )
        st = {}
        # the distributed star rounds: this test is about the distributed
        # algorithm's convergence bound, which the small-graph driver fast
        # lane would otherwise bypass (rounds=0)
        out = self._distributed(monkeypatch, chain, max_iter=30, stats=st)
        labs = self._labels(out)
        assert labs == [(i, 0) for i in range(200)]
        assert st["rounds"] <= 12, st  # log2(200) ~ 7.6 + slack

    def test_driver_fast_lane_matches_distributed(self, spark, monkeypatch):
        """The small-graph driver union-find must produce labels identical
        to the forced-distributed star rounds, on long AND string ids."""
        from zenodb_spark.operators.dedup import connected_components

        rng = random.Random(987)
        for trial in range(3):
            n = 50
            edges = [
                Row(doc_a=rng.randrange(n), doc_b=rng.randrange(n))
                for _ in range(30 + trial * 20)
            ]
            e = spark.createDataFrame(edges).filter("doc_a != doc_b")
            st_fast, st_dist = {}, {}
            fast = connected_components(e, stats=st_fast)
            dist = self._distributed(monkeypatch, e, stats=st_dist)
            assert st_fast["rounds"] == 0, st_fast
            assert st_dist["rounds"] >= 1, st_dist
            assert self._labels(fast) == self._labels(dist), f"trial {trial}"
        # string ids: Spark's binary collation and Python's codepoint
        # ordering must agree through the fast lane's min-root choice
        es = spark.createDataFrame(
            [
                Row(doc_a="zeta", doc_b="alpha"),
                Row(doc_a="zeta", doc_b="Beta"),  # upper < lower in both
                Row(doc_a="gamma", doc_b="delta"),
            ]
        )
        fast = connected_components(es)
        dist = self._distributed(monkeypatch, es)
        assert self._labels(fast) == self._labels(dist)

    def test_disconnected_components_and_dupes(self, spark):
        from zenodb_spark.operators.dedup import connected_components

        e = spark.createDataFrame(
            [
                Row(doc_a=5, doc_b=3),
                Row(doc_a=3, doc_b=5),  # dup reversed
                Row(doc_a=3, doc_b=9),
                Row(doc_a=20, doc_b=21),
                Row(doc_a=7, doc_b=7),  # self loop ignored
                Row(doc_a=21, doc_b=22),
            ]
        )
        out = self._labels(connected_components(e))
        assert out == [(3, 3), (5, 3), (9, 3), (20, 20), (21, 20), (22, 20)]


class TestBM25DenseRegime:
    """bm25_topk's dense fast path must be bit-identical to the posting
    join: same integer scores, same (score desc, doc asc) tie-breaks."""

    def test_dense_equals_posting(self, spark):
        from zenodb_spark.operators.retrieval import bm25_topk

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        corpus = docs.filter(F.col("doc_id") % 100 != 0)
        queries = docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("qid"), "text"
        )
        posting = bm25_topk(corpus, queries, mode="posting")
        dense = bm25_topk(corpus, queries, mode="dense")
        p = sorted(map(tuple, posting.collect()))
        d = sorted(map(tuple, dense.collect()))
        assert p == d
        assert len(p) > 0

    def test_auto_picks_posting_on_sparse_vocab(self, spark):
        from zenodb_spark.operators import retrieval

        # unique per-doc vocab → join_rows tiny → posting path must win
        docs = spark.createDataFrame(
            [(i, f"tok{i} tok{i + 1} shared") for i in range(200)],
            ["doc_id", "text"],
        )
        qs = spark.createDataFrame([(0, "tok5 tok6")], ["qid", "text"])
        out = retrieval.bm25_topk(docs, qs)
        rows = out.collect()
        assert {r["doc"] for r in rows} == {4, 5, 6}


class TestShinglePlanShape:
    """Pins for the two sf1.0 perf fixes: the shingle expression must be
    computed exactly once, ABOVE the spread exchange (a pushed-down
    size(shingles)>0 clone would re-run the whole shingling at raw-scan
    parallelism), and the domain-cap rank filter must rewrite to
    WindowGroupLimit (map-side prune before the source exchange)."""

    def _executed(self, df):
        df.count()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_shingle_expr_not_cloned_into_filters(self, spark):
        import re

        from zenodb_spark.operators.dedup import ngram_jaccard_pairs_prefix

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        out = ngram_jaccard_pairs_prefix(docs, "text", "doc_id", 3, 0.8)
        out.count()
        formatted = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # the only scan-side predicate may be the cheap nonempty-norm check;
        # a Condition containing the shingle construction means pushdown
        # cloned the whole shingling below the spread exchange again
        conds = re.findall(r"Condition : .*", formatted)
        assert conds, formatted
        offenders = [c for c in conds if "arrays_zip" in c]
        assert not offenders, offenders

    def test_shingle_arrays_guarantees_nonempty(self, spark):
        from pyspark.sql import functions as F
        from zenodb_spark.operators.dedup import shingle_arrays

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "   "), (3, ""), (4, "x")],
            ["doc_id", "text"],
        )
        out = shingle_arrays(docs, "text", "doc_id", 3).collect()
        assert {r["doc"] for r in out} == {1, 4}
        assert all(len(r["shingles"]) > 0 for r in out)

    def test_domain_cap_window_group_limit(self, spark):
        from zenodb_spark import queries as Q

        df = Q.QUERIES["q179_domain_cap"](spark, "/root/testdata/sf0.01")
        plan = self._executed(df)
        assert "WindowGroupLimit" in plan


class TestDegenerateInputs:
    """Empty / single-row inputs must yield empty results, not crashes —
    the states a 100 TB pipeline's per-partition filters routinely hand an
    operator (a day with no data, a source filtered to nothing)."""

    def _empty_docs(self, spark):
        return spark.createDataFrame([], "doc_id long, text string")

    def test_empty_everything(self, spark):
        from pyspark.sql import functions as F

        from zenodb_spark.operators import dedup, retrieval, similarity

        empty = self._empty_docs(spark)
        one = spark.createDataFrame([(1, "hello world foo")], "doc_id long, text string")
        eq = empty.select(F.col("doc_id").alias("qid"), "text")
        assert dedup.ngram_jaccard_pairs_prefix(empty, "text", "doc_id", 3, 0.8).count() == 0
        assert dedup.exact_dedup(empty, "text", "doc_id").count() == 0
        assert dedup.minhash_lsh_pairs(empty, "text", "doc_id").count() == 0
        assert dedup.connected_components(
            spark.createDataFrame([], "doc_a long, doc_b long")
        ).count() == 0
        assert retrieval.bm25_topk(empty, one.select(F.col("doc_id").alias("qid"), "text")).count() == 0
        assert retrieval.bm25_topk(one, eq).count() == 0
        # dense mode with an empty query set must not crash on schema inference
        assert retrieval.bm25_topk(one, eq, mode="dense").count() == 0
        assert dedup.ngram_jaccard_pairs_prefix(one, "text", "doc_id", 3, 0.8).count() == 0
        emb_e = spark.createDataFrame([], "vec_id long, embedding array<float>")
        emb_1 = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
        assert similarity.cosine_topk(emb_e, emb_1, "vec_id", "embedding", k=3, dim=2).count() == 0


class TestStatsDegenerate:
    """Degenerate inputs for the distribution-stats library (empty frame,
    one group, one value) — same contract as TestDegenerateInputs."""

    def test_empty_frames(self, spark):
        from zenodb_spark.operators.stats import chi2_contingency, ks_distance_by_group

        empty = spark.createDataFrame([], "g string, x long")
        assert ks_distance_by_group(empty, "g", "x").count() == 0
        empty2 = spark.createDataFrame([], "g string, c string")
        assert chi2_contingency(empty2, "g", "c").count() == 0

    def test_single_group_single_value(self, spark):
        from zenodb_spark.operators.stats import chi2_contingency, ks_distance_by_group

        one = spark.createDataFrame([("a", 5), ("a", 5)], "g string, x long")
        rows = ks_distance_by_group(one, "g", "x").collect()
        assert len(rows) == 1 and rows[0]["ks"] is None  # empty complement
        cat = spark.createDataFrame([("a", "x"), ("a", "x")], "g string, c string")
        crows = chi2_contingency(cat, "g", "c").collect()
        # a 1x1 table is perfectly independent: zero contribution
        assert len(crows) == 1 and crows[0]["chi2_contrib"] == 0.0
