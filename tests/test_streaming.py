"""Streaming ingest tests: the reference runs every golden suite twice —
memstore-only and flushed (zenodb_test.go:404–409); our analog is batch
ingest vs streaming ingest producing identical query results."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from zenodb_spark.engine import DB
from zenodb_spark.streaming.ingest import start_table_stream, windowed_rollup_stream

EPOCH = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
E = EPOCH.timestamp()


def ts(off: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(E + off, dt.timezone.utc)


SCHEMA = {
    "combined": {
        "retentionperiod": "1h",
        "sql": "SELECT requests, AVG(load_avg) AS load_avg FROM inbound GROUP BY *, period('5m')",
    }
}

POINTS = [
    Row(ts=ts(0), server="a", path="/x", requests=10.0, load_avg=0.5),
    Row(ts=ts(30), server="a", path="/x", requests=5.0, load_avg=1.5),
    Row(ts=ts(400), server="b", path="/y", requests=7.0, load_avg=0.25),
]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="zspark_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_matches_batch(spark, tmpdir):
    # batch reference result
    db_batch = DB(spark, now=E + 600)
    db_batch.apply_schema(SCHEMA)
    db_batch.insert("inbound", spark.createDataFrame(POINTS))
    expected = sorted(
        (r["server"], r["requests"], r["load_avg"], r["_points"])
        for r in db_batch.query("SELECT requests, load_avg, _points FROM combined GROUP BY server").collect()
    )

    # streaming ingest from a file source fed incrementally (→ several micro-batches)
    src = f"{tmpdir}/src"
    spark.createDataFrame(POINTS[:2]).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    db_s = DB(spark, now=E + 600, workdir=f"{tmpdir}/store")
    db_s.apply_schema(SCHEMA)
    q = start_table_stream(
        db_s, "combined", stream, checkpoint_dir=f"{tmpdir}/ckpt"
    )
    q.awaitTermination(120)

    # late/extra data arrives → second incremental run picks it up
    spark.createDataFrame(POINTS[2:]).write.mode("append").parquet(src)
    q2 = start_table_stream(
        db_s, "combined", spark.readStream.schema(schema).parquet(src),
        checkpoint_dir=f"{tmpdir}/ckpt",
    )
    q2.awaitTermination(120)

    got = sorted(
        (r["server"], r["requests"], r["load_avg"], r["_points"])
        for r in db_s.query("SELECT requests, load_avg, _points FROM combined GROUP BY server").collect()
    )
    assert got == expected
    assert len(db_s.tables["combined"]._parts) >= 2  # true partial parts

    # compaction preserves results (flush-merge equivalence)
    db_s.tables["combined"].compact()
    got2 = sorted(
        (r["server"], r["requests"], r["load_avg"], r["_points"])
        for r in db_s.query("SELECT requests, load_avg, _points FROM combined GROUP BY server").collect()
    )
    assert got2 == expected


def test_windowed_rollup_stream(spark, tmpdir):
    src = f"{tmpdir}/src2"
    spark.createDataFrame(POINTS).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    rolled = windowed_rollup_stream(
        stream,
        ["server"],
        {"requests": F.sum("requests"), "n": F.count(F.lit(1))},
        300,
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_out")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["server"], r["_time"].isoformat()): (r["requests"], r["n"])
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    assert rows[("a", "2015-01-01T00:00:00")] == (15.0, 2)
    assert rows[("b", "2015-01-01T00:05:00")] == (7.0, 1)


def test_reopen_persisted_store(spark, tmpdir):
    """A new DB over the same workdir recovers state WITHOUT replaying the
    stream (reference: filestore reopen from WAL offsets in the header,
    row_store.go:1033-1081)."""
    src = f"{tmpdir}/src3"
    spark.createDataFrame(POINTS).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    db1 = DB(spark, now=E + 600, workdir=f"{tmpdir}/store3")
    db1.apply_schema(SCHEMA)
    q = start_table_stream(
        db1, "combined", spark.readStream.schema(schema).parquet(src),
        checkpoint_dir=f"{tmpdir}/ckpt3",
    )
    q.awaitTermination(120)
    expected = sorted(
        (r["server"], r["requests"], r["load_avg"], r["_points"])
        for r in db1.query(
            "SELECT requests, load_avg, _points FROM combined GROUP BY server"
        ).collect()
    )

    # fresh DB instance, same workdir: no insert, no stream — state reopens
    db2 = DB(spark, now=E + 600, workdir=f"{tmpdir}/store3")
    db2.apply_schema(SCHEMA)
    got = sorted(
        (r["server"], r["requests"], r["load_avg"], r["_points"])
        for r in db2.query(
            "SELECT requests, load_avg, _points FROM combined GROUP BY server"
        ).collect()
    )
    assert got == expected


def test_day_partition_pruning(spark, tmpdir):
    """Persisted stores are day-partitioned: an ASOF/UNTIL query must show
    partition filters on _day in the scan (directory pruning), and results
    must be correct across day boundaries."""
    db = DB(spark, now=E + 3 * 86400, workdir=f"{tmpdir}/store_pp")
    db.apply_schema(
        {"combined": {"sql": SCHEMA["combined"]["sql"]}}  # no retention
    )
    pts = [
        Row(ts=ts(60), server="a", path="/x", requests=1.0, load_avg=1.0),
        Row(ts=ts(86400 + 60), server="a", path="/x", requests=2.0, load_avg=1.0),
        Row(ts=ts(2 * 86400 + 60), server="a", path="/x", requests=4.0, load_avg=1.0),
    ]
    db.insert("inbound", spark.createDataFrame(pts))
    db.tables["combined"].compact()

    asof = ts(86400).strftime("%Y-%m-%dT%H:%M:%SZ")
    until = ts(2 * 86400).strftime("%Y-%m-%dT%H:%M:%SZ")
    out = db.query(
        f"SELECT requests FROM combined ASOF '{asof}' UNTIL '{until}' GROUP BY server"
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["requests"] == 2.0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_day" in plan and "PartitionFilters" in plan


def test_force_fresh_drains_stream(spark, tmpdir):
    """`-- force_fresh` queries drain pending micro-batches first (the
    reference's include-memstore flag, query.go:28-32); plain queries read
    committed state only."""
    src = f"{tmpdir}/src4"
    spark.createDataFrame(POINTS[:2]).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    db = DB(spark, now=E + 600, workdir=f"{tmpdir}/store4")
    db.apply_schema(SCHEMA)
    q = start_table_stream(
        db, "combined", spark.readStream.schema(schema).parquet(src),
        checkpoint_dir=f"{tmpdir}/ckpt4",
    )
    q.awaitTermination(120)  # availableNow pass over the initial file

    # new data arrives after the pass completed
    spark.createDataFrame(POINTS[2:]).write.mode("append").parquet(src)

    stale = {r["server"] for r in db.query(
        "SELECT requests FROM combined GROUP BY server").collect()}
    assert stale == {"a"}
    fresh = {r["server"] for r in db.query(
        "SELECT -- force_fresh\n requests FROM combined GROUP BY server").collect()}
    assert fresh == {"a", "b"}


def test_partition_by_dims_store(spark, tmpdir):
    """partitionby dims cluster the persisted store (reference
    TableOpts.PartitionBy); results are unchanged."""
    db = DB(spark, now=E + 600, workdir=f"{tmpdir}/store_pby")
    db.apply_schema(
        {
            "combined": {
                "sql": SCHEMA["combined"]["sql"],
                "partitionby": ["server"],
            }
        }
    )
    db.insert("inbound", spark.createDataFrame(POINTS))
    db.tables["combined"].compact()
    rows = {
        r["server"]: r["requests"]
        for r in db.query("SELECT requests FROM combined GROUP BY server").collect()
    }
    assert rows == {"a": 15.0, "b": 7.0}


def test_late_data_restates_old_bucket(spark, tmpdir):
    """A point far older than anything seen arrives in a later micro-batch:
    the partial-state append model restates the old bucket with zero
    streaming state (reference encoding/seq.go:178-241 grows sequences
    backwards for late points within retention)."""
    src = f"{tmpdir}/src_late"
    spark.createDataFrame(POINTS[:2]).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    db = DB(spark, now=E + 3600, workdir=f"{tmpdir}/store_late")
    db.apply_schema(SCHEMA)
    q = start_table_stream(
        db, "combined", spark.readStream.schema(schema).parquet(src),
        checkpoint_dir=f"{tmpdir}/ckpt_late",
    )
    q.awaitTermination(120)
    first = {r["server"]: r["requests"] for r in db.query(
        "SELECT requests FROM combined GROUP BY server").collect()}
    assert first == {"a": 15.0}

    # a late point lands in the SAME bucket as the first two (ts within E+5m)
    late = [Row(ts=ts(60), server="a", path="/x", requests=100.0, load_avg=9.0)]
    spark.createDataFrame(late).write.mode("append").parquet(src)
    q2 = start_table_stream(
        db, "combined", spark.readStream.schema(schema).parquet(src),
        checkpoint_dir=f"{tmpdir}/ckpt_late",
    )
    q2.awaitTermination(120)

    out = db.query(
        "SELECT requests, _points FROM combined GROUP BY server, period('5m')"
    ).collect()
    a_rows = [r for r in out if r["server"] == "a"]
    assert len(a_rows) == 1  # one restated bucket, not a duplicate
    assert a_rows[0]["requests"] == 115.0 and a_rows[0]["_points"] == 3.0


def test_stateful_stream_dedup_first(spark, tmpdir):
    """applyInPandasWithState dedup: first occurrence of a fingerprint wins
    across micro-batches; later re-deliveries are dropped."""
    from zenodb_spark.streaming.stateful import stream_dedup_first

    src = f"{tmpdir}/dedup_src"
    # file order fixes micro-batch order: b0 then b1 then b2
    rows0 = [Row(fp="k1", seq=2, payload="k1-first"), Row(fp="k2", seq=9, payload="k2-first")]
    rows1 = [Row(fp="k1", seq=1, payload="dup-dropped"), Row(fp="k3", seq=5, payload="k3-first")]
    rows2 = [Row(fp="k2", seq=0, payload="dup-dropped"), Row(fp="k1", seq=0, payload="dup-dropped")]
    for i, rows in enumerate([rows0, rows1, rows2]):
        spark.createDataFrame(rows).coalesce(1).write.parquet(f"{src}/b{i}")
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    out = stream_dedup_first(stream, "fp", ["seq"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["fp"]: r["payload"] for r in spark.sql("SELECT * FROM dedup_out").collect()
    }
    assert got == {"k1": "k1-first", "k2": "k2-first", "k3": "k3-first"}


def test_stateful_stream_key_counts(spark, tmpdir):
    from zenodb_spark.streaming.stateful import stream_key_counts

    src = f"{tmpdir}/cnt_src"
    rows0 = [Row(fp="a"), Row(fp="a"), Row(fp="b")]
    rows1 = [Row(fp="a"), Row(fp="c")]
    for i, rows in enumerate([rows0, rows1]):
        spark.createDataFrame(rows).coalesce(1).write.parquet(f"{src}/b{i}")
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream_key_counts(stream, "fp")
        .writeStream.format("memory")
        .queryName("cnt_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: the LAST emitted row per key carries the final total
    rows = spark.sql("SELECT * FROM cnt_out").collect()
    final = {}
    for r in rows:
        final[r["key"]] = max(final.get(r["key"], 0), r["n_total"])
    assert final == {"a": 3, "b": 1, "c": 1}
