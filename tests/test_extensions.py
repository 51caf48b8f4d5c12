"""Tests for the extension surface: pluggable lookups, alias macros,
custom dim functions, and the zenotool-equivalent maintenance ops."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from zenodb_spark.engine import DB
from zenodb_spark.functions.dims import DIM_FUNCTIONS, register_dim_function, register_lookup
from zenodb_spark.sources.maintenance import check, file_info, filter_and_merge
from zenodb_spark.sqlparser.parser import parse, register_alias
from zenodb_spark.streaming.ingest import ingest_stream_batch

EPOCH = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
E = EPOCH.timestamp()


def ts(off):
    return dt.datetime.fromtimestamp(E + off, dt.timezone.utc)


SCHEMA = {
    "reqs": {
        "sql": "SELECT requests FROM inbound GROUP BY *, period('1m')",
    }
}

POINTS = [
    Row(ts=ts(0), ip="1.1.1.1", status=200, requests=10.0),
    Row(ts=ts(5), ip="2.2.2.2", status=500, requests=3.0),
    Row(ts=ts(70), ip="1.1.1.1", status=200, requests=5.0),
]


@pytest.fixture(scope="module")
def db(spark):
    db = DB(spark, now=E + 600)
    db.apply_schema(SCHEMA)
    db.insert("inbound", spark.createDataFrame(POINTS))
    return db


def test_registered_lookup_in_group_by(db):
    register_lookup("CITY", {"1.1.1.1": "sydney", "2.2.2.2": "paris"}, default="unknown")
    out = db.query("SELECT requests FROM reqs GROUP BY CITY(ip) AS city, period('1h')")
    rows = {r["city"]: r["requests"] for r in out.collect()}
    assert rows == {"sydney": 15.0, "paris": 3.0}


def test_unregistered_lookup_raises(db):
    with pytest.raises(ValueError, match="registered lookup"):
        db.query("SELECT requests FROM reqs GROUP BY ISP(ip) AS isp").collect()


def test_alias_macro(db):
    register_alias("IS_SUCCESS", "%v = 200")
    out = db.query(
        "SELECT IF(IS_SUCCESS(status), requests) AS ok FROM reqs GROUP BY ip, period('1h')"
    )
    rows = {r["ip"]: r["ok"] for r in out.collect()}
    assert rows == {"1.1.1.1": 15.0, "2.2.2.2": 0.0}


def test_custom_dim_function(db):
    register_dim_function("FIRST_OCTET", lambda c: F.split(c, r"\.").getItem(0))
    out = db.query("SELECT requests FROM reqs GROUP BY FIRST_OCTET(ip) AS octet, period('1h')")
    rows = {r["octet"]: r["requests"] for r in out.collect()}
    assert rows == {"1": 15.0, "2": 3.0}


def test_maintenance_info_check_merge(db, spark):
    t = db.tables["reqs"]
    info = file_info(t)
    assert info["rows"] == 3 and info["resolution_sec"] == 60.0
    assert check(t) == []
    # merge with a time filter drops the later bucket
    db2 = DB(spark, now=E + 600)
    db2.apply_schema(SCHEMA)
    db2.insert("inbound", spark.createDataFrame(POINTS))
    filter_and_merge(db2.tables["reqs"], until_epoch=int(E + 60))
    out = db2.query("SELECT requests FROM reqs GROUP BY ip")
    rows = {r["ip"]: r["requests"] for r in out.collect()}
    assert rows == {"1.1.1.1": 10.0, "2.2.2.2": 3.0}
    assert len(db2.tables["reqs"]._parts) == 1


@pytest.mark.parametrize("fold", ["filter_and_merge", "compact"])
def test_fold_clears_stream_parts_on_disk(spark, tmp_path, fold):
    """A compacted insert plus one streamed micro-batch, folded by
    FilterAndMerge or by compact(), reads the same total after a reopen:
    both go through Table.fold, which retires the folded stream_part=
    directories (the next fold deletes them) and marks their batches as
    folded, also on reopen."""
    wd = str(tmp_path / "store")
    schema = {"sums": {"sql": "SELECT v FROM inbound GROUP BY k, period('10s')"}}
    sql = "SELECT v FROM sums GROUP BY k, period('100s')"

    def total(d) -> float:
        return sum(r["v"] for r in d.query(sql).collect())

    db1 = DB(spark, workdir=wd, now=E + 100)
    db1.apply_schema(schema)
    table = db1.tables["sums"]
    db1.insert("inbound", spark.createDataFrame([Row(ts=ts(1), k="a", v=3.0)]))
    table.compact()
    batch = spark.createDataFrame([Row(ts=ts(2), k="a", v=4.0)])
    ingest_stream_batch(db1, table, "sums", batch, batch_id=0)
    if fold == "compact":
        table.compact()
    else:
        filter_and_merge(table)
    assert total(db1) == 7.0

    db2 = DB(spark, workdir=wd, now=E + 100)
    db2.apply_schema(schema)
    assert total(db2) == 7.0
    assert len(db2.tables["sums"]._parts) == 1

    ingest_stream_batch(db1, table, "sums", batch, batch_id=0)  # late replay
    assert total(db1) == 7.0


def test_parser_force_fresh_comment():
    q = parse("SELECT -- force_fresh\n x FROM t")
    assert q.force_fresh


def test_cli_single_query(spark, tmp_path):
    from zenodb_spark import cli

    schema = tmp_path / "schema.yaml"
    schema.write_text(
        "ev_cli:\n"
        "  sql: >\n"
        "    SELECT COUNT(value) AS cnt FROM events GROUP BY event_type, period('1d')\n"
    )
    rc = cli.main(
        [
            "--schema",
            str(schema),
            "--insert",
            "events=/root/testdata/sf0.001/events.parquet",
            "--query",
            "SELECT cnt FROM ev_cli GROUP BY event_type, period('10d') LIMIT 3",
        ]
    )
    assert rc == 0


def test_load_aliases_props():
    """Reference-style aliases props file (quickstart_aliases.props,
    zenodb.go:351-373)."""
    from zenodb_spark.sqlparser.parser import load_aliases

    load_aliases(
        "# comment\n"
        "IS_BIG = %v > 100\n"
        "BOTH = %v = 'x' AND %v > 5\n"
    )
    q = parse("SELECT IF(IS_BIG(status), requests) AS big FROM t GROUP BY dim")
    assert q.fields[0].name == "big"
    q2 = parse("SELECT IF(BOTH(d, v), requests) AS r FROM t")
    assert q2.fields[0].name == "r"


def test_auto_correlation_shared_stream(spark):
    """Heterogeneous point types inserted into ONE stream correlate on
    shared dims when grouped — the reference's 'bye bye JOINs' model
    (README.md:145-148): request-points and error-points land in the same
    table; IF-gated fields read each type."""
    sch = {
        "traffic": {
            "sql": (
                "SELECT IF(kind = 'req', SUM(n)) AS requests, "
                "IF(kind = 'err', SUM(n)) AS errors "
                "FROM wire GROUP BY server, period('1m')"
            )
        }
    }
    db = DB(spark, now=E + 600)
    db.apply_schema(sch)
    rows = [
        Row(ts=ts(1), kind="req", server="s1", n=10.0),
        Row(ts=ts(2), kind="err", server="s1", n=2.0),
        Row(ts=ts(3), kind="req", server="s2", n=5.0),
    ]
    db.insert("wire", spark.createDataFrame(rows))
    out = db.query(
        "SELECT requests, errors, errors / requests AS rate "
        "FROM traffic GROUP BY server, period('1h')"
    )
    got = {r["server"]: (r["requests"], r["errors"], r["rate"]) for r in out.collect()}
    assert got["s1"] == (10.0, 2.0, 0.2)
    assert got["s2"][0] == 5.0 and got["s2"][1] == 0.0
