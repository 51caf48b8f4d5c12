"""A FROM-subquery is one more source for the grouped-query planner: every
outer clause (HAVING, ORDER BY a non-selected field, CROSSTAB, ASOF,
STRIDE) must plan as it does over a stored table. The inner query
re-emits the stored rows unchanged (one point per server and 5-minute
bucket), so each outer query must return exactly what the same clauses
return over the table itself."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from zenodb_spark.engine import DB

E = dt.datetime(2024, 1, 1, 2, 0, tzinfo=dt.timezone.utc).timestamp()
SUB = "(SELECT v FROM t GROUP BY server)"


def ts(minutes: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(E + minutes * 60, dt.timezone.utc)


@pytest.fixture(scope="module")
def db(spark):
    db = DB(spark, now=E + 3600)
    db.apply_schema(
        {"t": {"sql": "SELECT v, AVG(v) AS av FROM s GROUP BY server, period('5m')"}}
    )
    pts = [
        Row(ts=ts(0), server="a", v=1.0),
        Row(ts=ts(5), server="a", v=2.0),
        Row(ts=ts(0), server="b", v=3.0),
        Row(ts=ts(10), server="b", v=4.0),
        Row(ts=ts(5), server="c", v=5.0),
        Row(ts=ts(10), server="c", v=6.0),
    ]
    db.insert("s", spark.createDataFrame(pts))
    return db


def rows(df):
    return [r.asDict() for r in df.collect()]


@pytest.mark.parametrize(
    "outer, over_table",
    [
        # an aggregate only HAVING names
        (
            "SELECT v FROM {src} GROUP BY _ HAVING SUM(v) > 5",
            "SELECT v FROM t GROUP BY _ HAVING SUM(v) > 5",
        ),
        # a selected alias in HAVING
        (
            "SELECT AVG(v) AS av FROM {src} GROUP BY _ HAVING av > 4",
            "SELECT av FROM t GROUP BY _ HAVING av > 4",
        ),
        (
            "SELECT v FROM {src} GROUP BY _, CROSSTAB(server)",
            "SELECT v FROM t GROUP BY _, CROSSTAB(server)",
        ),
        # an unaligned ASOF excludes the 02:00 bucket
        (
            "SELECT v FROM {src} ASOF '2024-01-01T02:04:00Z' GROUP BY server",
            "SELECT v FROM t ASOF '2024-01-01T02:04:00Z' GROUP BY server",
        ),
        (
            "SELECT v FROM {src} GROUP BY server, stride('10m')",
            "SELECT v FROM t GROUP BY server, stride('10m')",
        ),
        # a period longer than the window narrows to one [asof, until) bucket
        (
            "SELECT v FROM {src} ASOF '2024-01-01T02:05:00Z' "
            "UNTIL '2024-01-01T02:15:00Z' GROUP BY server, period('1h')",
            "SELECT v FROM t ASOF '2024-01-01T02:05:00Z' "
            "UNTIL '2024-01-01T02:15:00Z' GROUP BY server, period('1h')",
        ),
    ],
)
def test_outer_clause_matches_table(db, outer, over_table):
    want = rows(db.query(over_table))
    got = rows(db.query(outer.format(src=SUB)))
    assert want and sorted(got, key=str) == sorted(want, key=str), (got, want)


def test_order_by_unselected_field(db):
    """ORDER BY a field outside the SELECT list sorts by the SUM of the
    inner column (default-to-SUM), as it sorts by the stored field."""
    got = rows(db.query(f"SELECT AVG(v) AS av FROM {SUB} GROUP BY _ ORDER BY v DESC"))
    want = rows(db.query("SELECT av FROM t GROUP BY _ ORDER BY v DESC"))
    assert got == want
    assert [r["_time"].minute for r in got] == [10, 5, 0]


def test_select_star_over_inner_select_star(db, spark):
    """An outer SELECT * over an inner SELECT * reads every inner field
    (all inner columns but _time and the inner group dims). Bare names
    over a subquery are SUMs, so ``_points`` and ``v`` match the table
    for any data; ``av`` (an AVG) matches where each bucket holds one
    server's row."""
    star = "SELECT * FROM (SELECT * FROM t GROUP BY server) GROUP BY _"
    got = rows(db.query(star))
    want = rows(db.query("SELECT * FROM t GROUP BY _"))
    pick = lambda rs: sorted(((r["_time"], r["_points"], r["v"]) for r in rs), key=str)
    assert want and pick(got) == pick(want)

    one = DB(spark, now=E + 3600)
    one.apply_schema(
        {"t": {"sql": "SELECT v, AVG(v) AS av FROM s GROUP BY server, period('5m')"}}
    )
    one.insert("s", spark.createDataFrame([
        Row(ts=ts(0), server="a", v=1.0),
        Row(ts=ts(1), server="a", v=3.0),
        Row(ts=ts(5), server="b", v=2.0),
    ]))
    got = rows(one.query(star))
    want = rows(one.query("SELECT * FROM t GROUP BY _"))
    assert list(want[0]) == ["_time", "_points", "v", "av"]
    assert len(want) == 2 and sorted(got, key=str) == sorted(want, key=str)
