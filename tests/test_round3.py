"""Round-3 additions: operator-level crosstab guard, paragraph dedup,
Bloom-filter decontamination, unigram LM scoring, dialect set ops."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from zenodb_spark.engine import DB
from zenodb_spark.operators.crosstab import crosstab

E = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc).timestamp()


def _ts(off: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(E + off, dt.timezone.utc)


@pytest.fixture(scope="module")
def db(spark):
    db = DB(spark, now=E + 100)
    db.apply_schema(
        {
            "metrics": {
                "sql": (
                    "SELECT SUM(n) AS total FROM inbound "
                    "GROUP BY host, period('10s')"
                ),
            }
        }
    )
    rows = [
        Row(ts=_ts(1), host="h1", n=10.0),
        Row(ts=_ts(2), host="h1", n=20.0),
        Row(ts=_ts(3), host="h2", n=99.0),
        Row(ts=_ts(4), host="h3", n=6.0),
    ]
    db.insert("inbound", spark.createDataFrame(rows))
    return db


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from zenodb_spark.operators.pipeline import paragraph_dedup

    a = "w1 w2 w3 w4"  # one 4-token paragraph
    docs = spark.createDataFrame(
        [
            (1, f"{a} u1 u2 u3 u4"),  # chunk0=a, chunk1 unique
            (2, f"{a} v1 v2 v3 v4"),  # chunk0 duplicates doc1's -> dropped
            (3, f"{a} {a}"),  # both chunks duplicate doc1's chunk0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc"]: r for r in paragraph_dedup(docs, "text", "doc_id", 4).collect()
    }
    assert out[1]["kept_chunks"] == 2 and out[1]["dropped_chunks"] == 0
    assert out[2]["kept_chunks"] == 1 and out[2]["dropped_chunks"] == 1
    assert out[3]["kept_chunks"] == 0 and out[3]["dropped_chunks"] == 2
    import hashlib

    assert out[3]["clean_hash"] == hashlib.md5(b"").hexdigest()
    assert out[2]["clean_hash"] == hashlib.md5(b"v1 v2 v3 v4").hexdigest()


def test_decontaminate_bloom_exact_even_with_tiny_filter(spark):
    from zenodb_spark.operators.pipeline import decontaminate, decontaminate_bloom

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta zeta"),  # shares 'alpha beta gamma delta'
            (2, "zeta eta theta iota kappa"),  # shares nothing
            (3, "beta gamma delta epsilon pad"),  # shares one 4-gram
        ],
        "doc_id long, text string",
    )
    exact = {
        (r["doc"], r["n_shared"])
        for r in decontaminate(corpus, bench, n=4).collect()
    }
    # m_bits=16 forces heavy false-positive pressure; the verify join must
    # still produce the exact answer (Bloom has no false negatives)
    bloom = {
        (r["doc"], r["n_shared"])
        for r in decontaminate_bloom(corpus, bench, n=4, m_bits=16, k=2).collect()
    }
    assert bloom == exact == {(1, 1), (3, 1)}


def test_unigram_logprob_values(spark):
    import math

    from zenodb_spark.operators.textstats import unigram_logprob

    # corpus: 'a' x3, 'b' x1 -> T=4; lp(a)=ln(3/4), lp(b)=ln(1/4)
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id long, text string"
    )
    out = {r["doc"]: r for r in unigram_logprob(docs).collect()}
    lp = lambda p: math.floor(math.log(p) * 1e6 + 0.5) / 1e6
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert out[1]["avg_logprob"] == round(lp(3 / 4), 9)
    assert out[2]["avg_logprob"] == round(lp(1 / 4), 9)
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]  # common > rare


def test_set_op_parsing_precedence():
    from zenodb_spark.ir import SetOp
    from zenodb_spark.sqlparser.parser import parse

    q = parse(
        "SELECT a FROM t GROUP BY x UNION ALL SELECT a FROM t GROUP BY x "
        "UNION SELECT a FROM t GROUP BY x"
    )
    assert isinstance(q, SetOp) and q.op == "union" and q.left.op == "union_all"
    # ANSI: INTERSECT binds tighter than UNION/EXCEPT
    q2 = parse("SELECT a FROM t UNION SELECT a FROM u INTERSECT SELECT a FROM v")
    assert q2.op == "union" and q2.right.op == "intersect"


def test_set_op_engine_semantics(db):
    whole = db.query("SELECT total FROM metrics GROUP BY host, period('100s')")
    doubled = db.query(
        "SELECT total FROM metrics GROUP BY host, period('100s') UNION ALL "
        "SELECT total FROM metrics GROUP BY host, period('100s')"
    )
    assert doubled.count() == 2 * whole.count()
    deduped = db.query(
        "SELECT total FROM metrics GROUP BY host, period('100s') UNION ALL "
        "SELECT total FROM metrics GROUP BY host, period('100s') UNION "
        "SELECT total FROM metrics GROUP BY host, period('100s')"
    )
    assert sorted(map(tuple, deduped.collect())) == sorted(
        map(tuple, whole.collect())
    )
    nothing = db.query(
        "SELECT total FROM metrics GROUP BY host, period('100s') EXCEPT "
        "SELECT total FROM metrics GROUP BY host, period('100s')"
    )
    assert nothing.count() == 0
    inter = db.query(
        "SELECT total FROM metrics GROUP BY host, period('100s') INTERSECT "
        "SELECT total FROM metrics WHERE host = 'h1' GROUP BY host, period('100s')"
    )
    assert {r["host"] for r in inter.collect()} == {"h1"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="columns"):
        db.query(
            "SELECT total FROM metrics GROUP BY host, period('100s') UNION "
            "SELECT total FROM metrics GROUP BY _, period('100s')"
        )


def test_kmeans_train_reduces_sse(spark):
    from zenodb_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        kmeans_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def sse(cents):
        a = ivf_assign(emb, cents)
        exprs = []
        for j, c in enumerate(cents):
            lit = F.array(*[F.lit(x) for x in c])
            d = F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    lit,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            exprs.append(F.when(F.col("centroid") == j + 1, d))
        return a.select(
            F.coalesce(*exprs).alias("d")
        ).agg(F.sum("d")).collect()[0][0]

    init = ivf_centroids(64, 8, 43)
    trained = kmeans_train(emb, 64, 8, iters=3, seed=43)
    assert sse(trained) < sse(init) * 0.9  # Lloyd monotonically improves


def test_bm25_ranking_semantics(spark):
    from zenodb_spark.operators.retrieval import bm25_topk

    corpus = spark.createDataFrame(
        [
            (1, "apple banana cherry date egg"),
            (2, "apple apple apple banana fig"),  # more tf on 'apple'
            (3, "kiwi lime mango nut oat"),  # no overlap
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame([(7, "apple")], "qid long, text string")
    rows = bm25_topk(corpus, queries).collect()
    assert [r["doc"] for r in rows] == [2, 1]  # tf wins; doc 3 absent
    assert [r["rank"] for r in rows] == [1, 2]
    assert rows[0]["bm25"] > rows[1]["bm25"] > 0


def test_round3_plan_shapes(spark):
    """Scale-critical plan properties of the round-3 operators."""
    from zenodb_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # q63: assignment is broadcast-literal — the whole plan must be join-free
    plan63 = Q.QUERIES["q63_kmeans_step"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan63 and "CartesianProduct" not in plan63
    # q61: corpus side never sort-merge-joins; both probes broadcast
    plan61 = Q.QUERIES["q61_decontaminate_bloom"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan61
    assert "BroadcastHashJoin" in plan61
    # q60: skew-immune keep-first — min-aggregate + winner join, and NO
    # row_number window (a hot paragraph hash must reduce map-side, not
    # pile onto one window task)
    plan60 = Q.QUERIES["q60_paragraph_dedup"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan60 and "CartesianProduct" not in plan60
    assert "Join" in plan60


def test_db_explain_formats_physical_plan(db):
    s = db.explain("SELECT total FROM metrics GROUP BY host, period('100s')")
    assert "HashAggregate" in s and "Scan" in s
    # simple mode works too
    assert "HashAggregate" in db.explain(
        "SELECT total FROM metrics GROUP BY host, period('100s')", mode="simple"
    )


def test_dedup_apply_priority_keeps_best(spark):
    from zenodb_spark.operators.dedup import dedup_apply

    # same normalized content; the HIGHER-quality copy has the higher id,
    # so default (lowest-id) and priority order must disagree
    docs = spark.createDataFrame(
        [
            (1, "a a b", 0.5),
            (2, "A  a   B", 0.9),  # normalizes equal; higher quality
            (3, "unrelated text here", 0.1),
        ],
        "doc_id long, text string, quality double",
    )
    default = {r["doc_id"] for r in dedup_apply(docs, "text", "doc_id").collect()}
    assert default == {1, 3}
    best = {
        r["doc_id"]
        for r in dedup_apply(
            docs, "text", "doc_id", priority=[F.desc("quality")]
        ).collect()
    }
    assert best == {2, 3}


def test_containment_asymmetric(spark):
    from zenodb_spark.operators.dedup import containment_pairs

    big = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5"),  # 3 shingles, all inside doc 2 -> C=1.0
            (2, big),  # 10 shingles; C(2->1) = 3/10 < t
            (3, "x1 x2 x3 x4 x5"),  # disjoint
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, "text", "doc_id", n=3, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in rows] == [(1, 2, 1.0)]


def test_set_op_trailing_order_limit_applies_to_combined(db):
    # ANSI: the trailing ORDER BY/LIMIT orders the UNION's result, not the
    # last operand. h3's total (6.0) is the global minimum; if the sort
    # bound to the right operand only, h1 (30.0) could surface instead.
    out = db.query(
        "SELECT total FROM metrics WHERE host = 'h1' GROUP BY host, period('100s') "
        "UNION ALL "
        "SELECT total FROM metrics WHERE host <> 'h1' GROUP BY host, period('100s') "
        "ORDER BY total LIMIT 1"
    ).collect()
    assert len(out) == 1 and out[0]["total"] == 6.0 and out[0]["host"] == "h3"


def test_media_to_ann_pipeline_end_to_end(spark):
    """binary payload → embed_media (mapInPandas) → cosine_topk: the full
    multimodal-to-ANN loop on one frame; a duplicated payload must be its
    twin's nearest neighbor with cosine ≈ 1."""
    from zenodb_spark.operators.multimodal import attach_media, embed_media
    from zenodb_spark.operators.similarity import cosine_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (3, "totally different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    emb = embed_media(attach_media(docs, "text", "doc_id")).select(
        F.col("media_id").cast("long").alias("vec_id"), "embedding"
    )
    assert emb.filter(F.size("embedding") != 64).count() == 0
    top = cosine_topk(emb, emb.filter(F.col("vec_id") == 1), "vec_id", "embedding", k=2)
    rows = sorted(top.collect(), key=lambda r: r["rank"])
    # self-matches are excluded: rank 1 must be the byte-identical twin at
    # cosine ~1, with the unrelated doc 3 strictly below
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["cosine"] > 0.999999 > rows[1]["cosine"]


def test_paragraph_dedup_invariants_property(spark):
    """Property check against a brute-force python model: kept+dropped
    equals total chunks, and the set of kept (doc, chunk) pairs is exactly
    first-occurrence-wins over (doc, cidx) order."""
    import hashlib
    import random

    from zenodb_spark.operators.pipeline import paragraph_dedup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(6)]
    CH = 3
    for trial in range(4):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14))))
            for i in range(1, 8)
        ]
        # python model
        seen, model = set(), {}
        for did, text in docs:
            toks = text.split()
            kept = dropped = 0
            kept_chunks = []
            for s in range(0, len(toks), CH):
                chunk = " ".join(toks[s : s + CH])
                if chunk in seen:
                    dropped += 1
                else:
                    seen.add(chunk)
                    kept += 1
                    kept_chunks.append(chunk)
            model[did] = (
                kept,
                dropped,
                hashlib.md5(" ".join(kept_chunks).encode()).hexdigest(),
            )
        out = {
            r["doc"]: (r["kept_chunks"], r["dropped_chunks"], r["clean_hash"])
            for r in paragraph_dedup(
                spark.createDataFrame(docs, "doc_id long, text string"),
                "text",
                "doc_id",
                CH,
            ).collect()
        }
        assert out == model, f"trial {trial}"


def test_dedup_apply_null_text_not_dropped(spark):
    from zenodb_spark.operators.dedup import dedup_apply

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real content")], "doc_id long, text string"
    )
    kept = {r["doc_id"] for r in dedup_apply(docs, "text", "doc_id").collect()}
    # null and '' share the empty fingerprint (lowest id wins); nothing is
    # silently dropped
    assert kept == {1, 3}


def test_query_many_matches_single_queries(db):
    """query_many plans each statement through query: results equal the
    same statements run one by one, and no plan reads a persisted scan."""
    sqls = [
        "SELECT total FROM metrics GROUP BY host, period('100s')",
        "SELECT total FROM metrics WHERE host = 'h1' GROUP BY host, period('100s')",
        "SELECT total FROM metrics GROUP BY _, period('100s')",
    ]
    singles = [sorted(map(tuple, db.query(s).collect())) for s in sqls]
    many = db.query_many(sqls)
    assert [sorted(map(tuple, df.collect())) for df in many] == singles
    for df in many:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan


def test_query_many_returns_plan_cache_entry(db):
    """A repeated cacheable statement through query_many is a plan-cache
    hit, the same prepared frame query() returns."""
    sql = "SELECT total FROM metrics GROUP BY host, period('1000s')"
    [first] = db.query_many([sql])
    [again] = db.query_many([sql])
    assert again is first
    assert db.query(sql) is first


def test_query_many_force_fresh_drains_streams(db):
    """`-- force_fresh` through query_many drains the registered streams
    before planning, as it does through query()."""

    class Stream:
        drains = 0

        def drain(self):
            self.drains += 1

    stream = Stream()
    db.streams.append(stream)
    try:
        db.query_many(
            [
                "SELECT -- force_fresh\n total FROM metrics GROUP BY host",
                "SELECT total FROM metrics GROUP BY host",
            ]
        )
    finally:
        db.streams.remove(stream)
    assert stream.drains == 1


def test_table_stats_high_water(db):
    stats = db.table_stats("metrics")
    assert stats["rows"] > 0 and stats["parts"] >= 1
    assert stats["high_water"] == stats["max_bucket"] >= stats["min_bucket"]
    # E+1..E+4 all land in the epoch-aligned 10s bucket at E
    assert stats["min_bucket"] == int(E // 10 * 10)
    import pytest as _p

    with _p.raises(ValueError, match="unknown table"):
        db.table_stats("nope")


def test_running_total_matches_sequential(spark):
    """Two-phase distributed prefix sum == sequential cumsum, including
    across range-partition boundaries and under descending order."""
    import random

    from zenodb_spark.operators.prefix import running_total

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 100)) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)

    got = {
        r["k"]: r["rt"]
        for r in running_total(df, [F.asc("k")], "v", "rt", num_partitions=7).collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want

    got_desc = {
        r["k"]: r["rt"]
        for r in running_total(
            df, [F.desc("k")], "v", "rt", num_partitions=5
        ).collect()
    }
    acc, want_desc = 0, {}
    for k, v in sorted(rows, reverse=True):
        acc += v
        want_desc[k] = acc
    assert got_desc == want_desc


def test_crosstab_operator_cardinality_guard(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 50)
    with pytest.raises(ValueError, match="distinct"):
        crosstab(df, ["id"], F.col("k"), {"n": F.count(F.lit(1))}, max_values=10)
    # explicit values bypass the distinct pass entirely (no cap applies)
    out = crosstab(
        df.withColumn("g", F.lit(1)),
        ["g"],
        F.col("k").cast("string"),
        {"n": F.count(F.lit(1))},
        values=["0", "1"],
        max_values=1,
    )
    row = out.collect()[0]
    assert row["0_n"] == 2 and row["1_n"] == 2


def test_parser_fuzz_random_queries(db):
    """Hypothesis fuzz: randomly composed dialect queries must either parse
    + plan + execute, or fail with a clean SyntaxError/ValueError — never
    an AttributeError/KeyError/py4j crash from the parser or planner."""
    from hypothesis import given, settings, strategies as st

    fields = st.sampled_from(
        ["total", "total AS t", "total / 2 AS h", "_points",
         "SHIFT(total, '100s') AS prev", "IF(host = 'h1', total) AS t1",
         "LN(total) AS l", "nosuch AS n", "total + nosuch AS tn",
         "5 AS c", "BOUNDED(total, 0, 50) AS b"]
    )
    wheres = st.sampled_from(
        ["", "WHERE host = 'h1'", "WHERE host <> 'h1' AND total > 0",
         "WHERE host LIKE 'h%'", "WHERE host IN ('h1', 'h2')",
         "WHERE host IS NULL", "WHERE NOT host = 'zz'", "WHERE RAND() < 2"]
    )
    asofs = st.sampled_from(["", "ASOF '-10m'", "ASOF '-10m' UNTIL '-1s'"])
    groups = st.sampled_from(
        ["GROUP BY host, period('100s')", "GROUP BY _, period('100s')",
         "GROUP BY *, period('100s')",
         "GROUP BY CONCAT('-', host, host) AS hh, period('100s')",
         "GROUP BY host, period('100s'), CROSSTAB(host)",
         "GROUP BY host, period('100s'), stride('100s')",
         "GROUP BY SPLIT(host, '.', 0) AS seg, period('100s')"]
    )
    havings = st.sampled_from(
        ["", "HAVING total > 0", "HAVING total >= 1",
         "HAVING nosuch = 12 OR total > 0"]
    )
    orders = st.sampled_from(
        ["", "ORDER BY total DESC", "ORDER BY _time", "ORDER BY nosuch"]
    )
    limits = st.sampled_from(["", "LIMIT 3", "LIMIT 1, 2"])
    setops = st.sampled_from(["", "UNION", "UNION ALL", "EXCEPT", "INTERSECT"])

    shapes = st.sampled_from(["plain", "set", "subquery", "star"])

    @settings(max_examples=60, deadline=None)
    @given(
        f=fields, w=wheres, a=asofs, g=groups, h=havings, o=orders,
        li=limits, s=setops, shape=shapes,
    )
    def run(f, w, a, g, h, o, li, s, shape):
        base = f"SELECT {f} FROM metrics {a} {w} {g} {h}"
        if shape == "set" and s:
            sql = f"{base} {s} {base} {o} {li}"
        elif shape == "subquery":
            sql = f"SELECT {f} FROM ({base}) GROUP BY _, period('100s') {o} {li}"
        elif shape == "star":
            sql = f"SELECT * FROM metrics {a} {w} {g} {o} {li}"
        else:
            sql = f"{base} {o} {li}"
        try:
            db.query(sql).collect()
        except (SyntaxError, ValueError):
            pass  # clean rejection is acceptable

    run()
