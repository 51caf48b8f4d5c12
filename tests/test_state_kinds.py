"""Accumulator state kinds: the persisted state format every kind stores,
and table definitions that reach each kind through views, presence and
bounded percentiles."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from zenodb_spark.engine import DB
from zenodb_spark.sqlparser.parser import parse

E = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc).timestamp()


def ts(off: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(E + off, dt.timezone.utc)


def test_stored_state_schema_is_pinned(spark, tmp_path):
    """State columns are a persisted format: a re-opened store binds its
    columns by name, so names, types and order must not drift."""
    schema = {
        "kinds": {
            "sql": (
                "SELECT COUNT(v) AS c, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx, "
                "AVG(v) AS a, WAVG(v, w) AS wa, IF(status = 200, COUNT(v)) AS ok, "
                "PERCENTILE(v, 50, 0, 100, 1) AS med, COUNTDISTINCT(v) AS cd, "
                "COUNTDISTINCT(v, 16) AS ck FROM s GROUP BY server, period('5m')"
            )
        }
    }
    db = DB(spark, workdir=str(tmp_path / "db"), now=E + 600)
    db.apply_schema(schema)
    pts = [
        Row(ts=ts(i), server="ab"[i % 2], status=[200, 500][i % 2], v=float(i), w=1.0)
        for i in range(6)
    ]
    db.insert("s", spark.createDataFrame(pts))
    db.tables["kinds"].compact()
    # re-open the store from disk, as a restarted server does
    reopened = DB(spark, workdir=str(tmp_path / "db"), now=E + 600)
    reopened.apply_schema(schema)
    assert reopened.tables["kinds"].state_df().dtypes == [
        ("server", "string"),
        ("_bucket", "bigint"),
        ("_s0__count", "double"),
        ("_s1__sum", "double"),
        ("_s2__min", "double"),
        ("_s3__max", "double"),
        ("_s4__sum", "double"),
        ("_s4__count", "double"),
        ("_s5__wsum", "double"),
        ("_s5__wwt", "double"),
        ("_s6__count", "double"),
        ("_s8__dsetv2", "array<string>"),
        ("_s9__kmv1n16", "array<string>"),
        ("_s__points", "double"),
        ("_s7__hist", "map<bigint,bigint>"),
    ]


@pytest.mark.parametrize(
    "field, expected",
    [
        ("LOG10(la)", 2.0),
        ("LOG10(requests)", 2.0),
        ("BOUNDED(la, 0, 100)", 100.0),
        ("la * 1", 100.0),
        ("PERCENTILE(pl, 50)", 100.0),
    ],
)
def test_view_reads_parent_fields(spark, field, expected):
    db = DB(spark, now=E + 600)
    db.apply_schema(
        {
            "base": {
                "sql": (
                    "SELECT AVG(load) AS la, requests, PERCENTILE(load, 50, 0, 200, 0) AS pl "
                    "FROM s GROUP BY server, period('5m')"
                )
            },
            "v": {"view": True, "sql": f"SELECT {field} AS x FROM base"},
        }
    )
    pts = [
        Row(ts=ts(0), server="a", load=100.0, requests=10.0),
        Row(ts=ts(1), server="a", load=100.0, requests=90.0),
    ]
    db.insert("s", spark.createDataFrame(pts))
    assert db.query("SELECT x FROM v").collect()[0]["x"] == pytest.approx(expected)


@pytest.mark.parametrize(
    "field, expected",
    [("_ AS present", {"a": 1.0, "b": 1.0}), ("IF(status = 200, _) AS present", {"a": 1.0, "b": 0.0})],
)
def test_table_presence_field(spark, field, expected):
    db = DB(spark, now=E + 600)
    db.apply_schema(
        {"t": {"sql": f"SELECT {field}, requests FROM s GROUP BY server, period('5m')"}}
    )
    pts = [
        Row(ts=ts(0), server="a", status=200, requests=1.0),
        Row(ts=ts(1), server="b", status=500, requests=2.0),
    ]
    db.insert("s", spark.createDataFrame(pts))
    out = db.query("SELECT present, requests, _points FROM t GROUP BY server")
    assert {r["server"]: r["present"] for r in out.collect()} == expected
    assert {r["server"]: r["_points"] for r in out.collect()} == {"a": 1.0, "b": 1.0}
    # query-time gates over the stored points counter keep working
    out = db.query("SELECT IF(server = 'a', _) AS qa FROM t GROUP BY server")
    assert {r["server"]: r["qa"] for r in out.collect()} == {"a": 1.0, "b": 0.0}


def test_subquery_presence(spark):
    db = DB(spark, now=E + 600)
    db.apply_schema({"t": {"sql": "SELECT requests FROM s GROUP BY server, period('5m')"}})
    db.insert("s", spark.createDataFrame([Row(ts=ts(0), server="a", requests=1.0)]))
    out = db.query("SELECT _ AS p FROM (SELECT requests FROM t GROUP BY server) GROUP BY _")
    assert [r["p"] for r in out.collect()] == [1.0]


def test_inverted_percentile_bounds_rejected(spark):
    sql = "SELECT PERCENTILE(v, 50, 100, 0, 0) AS med FROM s GROUP BY period('1m')"
    with pytest.raises(ValueError, match="percentile bounds inverted"):
        parse(sql)
    db = DB(spark, now=E)
    with pytest.raises(ValueError, match="percentile bounds inverted"):
        db.apply_schema({"bad": {"sql": sql}})
    assert "bad" not in db.tables
