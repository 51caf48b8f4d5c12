"""Round-4 continuation: SHIFT reads below ASOF (reference
encoding/seq.go:244-276 truncates the shifted source at asOf+shift), and
the inference-stats additions' engine-level seams."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from zenodb_spark.engine import DB

DAY = 86400.0
T0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()


def ts(days: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(T0 + days * DAY, dt.timezone.utc)


@pytest.fixture(scope="module")
def shift_db(spark):
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema(
        {"m": {"sql": "SELECT v FROM pts GROUP BY k, period('1d')"}}
    )
    pts = [Row(ts=ts(d + 0.25), k="a", v=float(10 + d)) for d in range(8)]
    db.insert("pts", spark.createDataFrame(pts))
    return db


def test_shift_reads_value_before_asof(shift_db):
    """SHIFT('1d') at the FIRST in-range bucket must surface the true
    pre-ASOF value, not coalesce to 0 — the reference extends the shifted
    source read to asOf+shift (encoding/seq.go:251)."""
    out = shift_db.query(
        "SELECT v, SHIFT(v, '1d') AS pv FROM m "
        "ASOF '2024-03-04' UNTIL '2024-03-07' GROUP BY k, period('1d')"
    )
    rows = {r["_time"].day: (r["v"], r["pv"]) for r in out.collect()}
    # days 4..6 in range; day 4's shift value is day 3's v (=12), pre-ASOF
    assert set(rows) == {4, 5, 6}
    assert rows[4] == (13.0, 12.0)
    assert rows[5] == (14.0, 13.0)
    assert rows[6] == (15.0, 14.0)


def test_shift_beyond_retained_data_still_zero(shift_db):
    """A shift reaching before ANY stored data coalesces to 0 (absent)."""
    out = shift_db.query(
        "SELECT v, SHIFT(v, '1d') AS pv FROM m "
        "ASOF '2024-03-01' UNTIL '2024-03-03' GROUP BY k, period('1d')"
    )
    rows = {r["_time"].day: (r["v"], r["pv"]) for r in out.collect()}
    assert rows[1] == (10.0, 0.0)  # nothing exists before day 1
    assert rows[2] == (11.0, 10.0)


def test_crosshift_reads_below_asof(shift_db):
    """CROSSHIFT's furthest offset also extends the read window."""
    out = shift_db.query(
        "SELECT CROSSHIFT(v, '-2d', '1d') AS v FROM m "
        "ASOF '2024-03-05' UNTIL '2024-03-07' GROUP BY k, period('1d')"
    )
    rows = {r["_time"].day: r for r in out.collect()}
    assert set(rows) == {5, 6}
    assert rows[5]["v"] == 14.0
    assert rows[5]["v_1d"] == 13.0  # day 4 (pre-ASOF)
    assert rows[5]["v_2d"] == 12.0  # day 3 (pre-ASOF)


def test_output_range_not_widened_by_shift(shift_db):
    """The extended READ must not leak pre-ASOF buckets into the OUTPUT."""
    out = shift_db.query(
        "SELECT v, SHIFT(v, '2d') AS pv FROM m "
        "ASOF '2024-03-05' UNTIL '2024-03-07' GROUP BY k, period('1d')"
    )
    days = sorted(r["_time"].day for r in out.collect())
    assert days == [5, 6]


def test_crosstab_shift_asof_no_phantom_columns(spark):
    """Under CROSSTAB, pre-ASOF-only crosstab values must not become
    phantom pivot columns after the shift-extended read."""
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema({"m2": {"sql": "SELECT v FROM pts GROUP BY k, period('1d')"}})
    pts = [Row(ts=ts(0.25), k="gone", v=1.0)] + [
        Row(ts=ts(d + 0.25), k="live", v=float(d)) for d in range(1, 5)
    ]
    db.insert("pts", spark.createDataFrame(pts))
    out = db.query(
        "SELECT v, SHIFT(v, '1d') AS pv FROM m2 "
        "ASOF '2024-03-02' UNTIL '2024-03-05' GROUP BY _, CROSSTAB(k), period('1d')"
    )
    cols = set(out.columns)
    assert not any(c.startswith("gone") for c in cols), cols
    assert any(c.startswith("live") for c in cols)


def test_unaligned_asof_rounds_up_to_table_resolution(spark):
    """ASOF/UNTIL round UP to the TABLE resolution (reference
    encoding/time.go:39-45 via planner/local.go:119-121): a partial first
    stored bucket is excluded, a partial last one included."""
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema({"mh": {"sql": "SELECT v FROM pts GROUP BY k, period('1h')"}})
    pts = [
        Row(ts=dt.datetime.fromtimestamp(T0 + h * 3600 + 60, dt.timezone.utc), k="a", v=1.0)
        for h in range(12)
    ]
    db.insert("pts", spark.createDataFrame(pts))
    # ASOF 02:30 → rounds UP to 03:00 (hour 2's partial bucket excluded);
    # UNTIL 06:30 → rounds UP to 07:00 (hour 6's partial bucket included)
    out = db.query(
        "SELECT v FROM mh ASOF '2024-03-01 02:30:00' UNTIL '2024-03-01 06:30:00' "
        "GROUP BY k, period('1h')"
    )
    hours = sorted(r["_time"].hour for r in out.collect())
    assert hours == [3, 4, 5, 6]


def test_period_truncates_to_window(spark):
    """A period longer than the ASOF/UNTIL window narrows to the window
    (reference planner/local.go:152-157): one bucket out, not an empty
    misaligned grid."""
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema({"mt": {"sql": "SELECT v FROM pts GROUP BY k, period('1h')"}})
    pts = [
        Row(ts=dt.datetime.fromtimestamp(T0 + h * 3600 + 60, dt.timezone.utc), k="a", v=1.0)
        for h in range(48)
    ]
    db.insert("pts", spark.createDataFrame(pts))
    out = db.query(
        "SELECT v FROM mt ASOF '2024-03-01 02:00:00' UNTIL '2024-03-01 08:00:00' "
        "GROUP BY k, period('10d')"
    ).collect()
    assert len(out) == 1
    assert out[0]["v"] == 6.0  # hours 2..7


def test_base_table_requires_period(spark):
    """A base table without period() is rejected (reference
    zenodb_test.go:156-162 'missing a resolution'); views inherit."""
    db = DB(spark, now=T0)
    with pytest.raises(ValueError, match="missing a resolution"):
        db.apply_schema({"bad": {"sql": "SELECT v FROM pts WHERE k = 'A' GROUP BY *"}})
    # a view without period() inherits its parent's and is legal
    db.apply_schema(
        {
            "ok": {"sql": "SELECT v FROM pts GROUP BY k, period('1h')"},
            "okv": {"view": True, "sql": "SELECT v FROM ok GROUP BY k"},
        }
    )
    assert db.tables["okv"].resolution == 3600.0


def test_reference_fixture_percentile_field_shapes(spark):
    """The reference's primary fixture (zenodb_test.go:104-116) declares
    `IF(TRUE = TRUE, PERCENTILE(p * 1, 99, 0, 1000, -1))` — a constant-true
    IF gate, an EXPRESSION input, and NEGATIVE precision (bin width 10).
    All three must parse, ingest, and re-read."""
    db = DB(spark, now=T0 + 3600)
    db.apply_schema(
        {
            "tp": {
                "sql": "SELECT IF(TRUE = TRUE, PERCENTILE(p * 1, 99, 0, 1000, -1)) AS pp, "
                "PERCENTILE(p, 5, 0, 1000, 2) AS pp5 FROM pts GROUP BY k, period('1s')"
            }
        }
    )
    vals = [5, 15, 100, 250, 999, 42, 7, 3, 888, 500]
    pts = [
        Row(ts=dt.datetime.fromtimestamp(T0 + i * 0.1, dt.timezone.utc), k="a", p=float(v))
        for i, v in enumerate(vals)
    ]
    db.insert("pts", spark.createDataFrame(pts))
    out = db.query("SELECT pp, pp5 FROM tp GROUP BY k, period('200s')").collect()
    assert len(out) == 1
    # precision -1 → bin width 10: p99 reads the top occupied bin (999→1000)
    assert out[0]["pp"] == 1000.0
    # precision 2 → bin width 0.01: p5 reads the exact small value
    assert out[0]["pp5"] == 3.0


def test_shift_anywhere_in_expression(shift_db):
    """SHIFT works in HAVING, arithmetic, and ORDER BY — the reference
    treats a shifted expr as an ordinary field (expr/shift.go), so it
    composes like one."""
    q = shift_db.query
    r1 = q(
        "SELECT v, SHIFT(v,'1d') AS pv FROM m GROUP BY k, period('1d') HAVING pv > 11"
    ).collect()
    assert sorted((r["_time"].day, r["pv"]) for r in r1) == [
        (4, 12.0), (5, 13.0), (6, 14.0), (7, 15.0), (8, 16.0)]
    r2 = q(
        "SELECT v - SHIFT(v,'1d') AS delta FROM m GROUP BY k, period('1d')"
    ).collect()
    deltas = {r["_time"].day: r["delta"] for r in r2}
    assert deltas[1] == 10.0  # day 0's absent shift coalesces to 0
    assert all(deltas[d] == 1.0 for d in range(2, 9))
    r3 = q(
        "SELECT v, SHIFT(v,'1d') * 2 AS dbl FROM m "
        "GROUP BY k, period('1d') ORDER BY dbl DESC LIMIT 2"
    ).collect()
    assert [r["dbl"] for r in r3] == [32.0, 30.0]
    # inline SHIFT in HAVING without a select alias
    r4 = q(
        "SELECT v FROM m GROUP BY k, period('1d') HAVING SHIFT(v,'1d') > 14"
    ).collect()
    assert sorted(r["_time"].day for r in r4) == [7, 8]


def test_order_by_non_selected_field(spark):
    """ORDER BY may reference a field outside the SELECT list (reference
    sql_test.go `ORDER BY Rate DESC, x, y`): it materializes as a hidden
    sort column and is dropped from the output; a fully unknown name
    sorts as the absent-field constant instead of erroring."""
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema(
        {"mo": {"sql": "SELECT v, AVG(w) AS aw FROM pts GROUP BY k, period('1d')"}}
    )
    pts = [
        Row(ts=ts(d + 0.1), k=f"k{d % 2}", v=float(10 + d), w=float(d))
        for d in range(6)
    ]
    db.insert("pts", spark.createDataFrame(pts))
    out = db.query("SELECT v FROM mo GROUP BY k, period('20d') ORDER BY aw DESC")
    rows = out.collect()
    assert out.columns == ["_time", "k", "v"]  # hidden sort column dropped
    # k1 rows have w in {1,3,5} (aw 3), k0 rows {0,2,4} (aw 2) → k1 first
    assert [r["k"] for r in rows] == ["k1", "k0"]
    # unknown name: absent constant, no error, residual order preserved
    out2 = db.query("SELECT v FROM mo GROUP BY k, period('20d') ORDER BY nosuch, v DESC")
    assert [r["v"] for r in out2.collect()] == [39.0, 36.0]


def test_dim_function_literals_and_nil_dims(spark):
    """CONCAT parts/ANY args may be string LITERALS (goexpr evaluates
    parts; previously a literal became a bogus column ref), and unknown
    dim names inside GROUP BY expressions read as nil (expr/field.go:
    44-47) instead of failing analysis."""
    db = DB(spark, now=T0 + 10 * DAY)
    db.apply_schema({"md": {"sql": "SELECT v FROM pts GROUP BY k, period('1d')"}})
    pts = [Row(ts=ts(0.1), k=kk, v=1.0) for kk in ["a", "bb", "ccc"]]
    db.insert("pts", spark.createDataFrame(pts))
    q = db.query
    r1 = q("SELECT v FROM md WHERE CONCAT('-', k, 'z') = 'bb-z' GROUP BY k, period('1d')")
    assert [r["k"] for r in r1.collect()] == ["bb"]
    r2 = q("SELECT v FROM md GROUP BY CONCAT('_', k, 'sfx') AS kx, period('1d')")
    assert sorted(r["kx"] for r in r2.collect()) == ["a_sfx", "bb_sfx", "ccc_sfx"]
    r3 = q("SELECT v FROM md GROUP BY ANY(nosuchdim, k, 'fb') AS a2, period('1d')")
    assert sorted(r["a2"] for r in r3.collect()) == ["a", "bb", "ccc"]
    r4 = q("SELECT v FROM md GROUP BY nosuch, period('1d')").collect()
    assert len(r4) == 1 and r4[0]["nosuch"] is None and r4[0]["v"] == 3.0
