"""Local replica of the driver's correctness gate: run every entry in
``queries()`` at sf0.01 and compare with the DuckDB oracle — row count,
column names, and exact values (order-insensitive, columns sorted by name).

Stricter than the driver (exact equality incl. floats): if this passes, any
tolerance-based hash comparison passes too.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zenodb_spark import queries as Q
from tests.conftest import SF_ORACLE


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "timestamp"):  # datetime
        return v.isoformat()
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(row[i]) for i in order) for row in data]
    return sorted(out, key=repr)


def test_inventory():
    """All 256 queries are registered, each with an oracle. A domain module
    the package forgets to import, or a query name registered twice, would
    otherwise only shrink the parametrized parity test below."""
    assert len(Q.QUERIES) == 256
    assert set(Q.ORACLE) == set(Q.QUERIES)


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_ORACLE)


@pytest.mark.parametrize("name", sorted(Q.ORACLE))
def test_oracle_parity(spark, duck, name):
    sdf = Q.QUERIES[name](spark, SF_ORACLE)
    srows = sdf.collect()
    scols = sdf.columns

    res = duck.sql(Q.ORACLE[name])
    dcols = res.columns
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    s = _rows(scols, [[r[c] for c in scols] for r in srows])
    d = _rows(dcols, drows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_partitioning_invariance(spark, duck):
    """Results are identical under different shuffle partitioning — the
    determinism design (integer-scaled sums) makes aggregation outcomes
    independent of data distribution (SURVEY §5.5: the reference re-runs
    goldens across cluster topologies; our analog is partition counts)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("3", "16"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            df = Q.QUERIES["q01_sum_period"](spark, SF_ORACLE)
            results.append(_rows(df.columns, [tuple(r) for r in df.collect()]))
        assert results[0] == results[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
