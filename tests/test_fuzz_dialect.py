"""Differential dialect fuzzer: hypothesis-generated ZenoDB-dialect queries
run through the FULL engine (schema → ingest → stored-state query) and
value-compared against a DuckDB oracle built from the SAME abstract query —
two independent lowerings of one spec. This hunts interaction bugs the
hand-written z-corpus can't enumerate: WHERE × HAVING × SHIFT × ASOF ×
period × ORDER/LIMIT in arbitrary combination.

The generator stays inside the engine's documented semantics (aligned
ASOF/UNTIL bounds, period a multiple of the table resolution, deterministic
ORDER keys), so any mismatch is a real bug, not a known deviation. Data is
FIXED; hypothesis explores the query space.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import Row

from zenodb_spark.engine import DB

T0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()
DAY = 86400


def _points():
    """Fixed deterministic corpus: 2 dims × 8 days × irregular values,
    with gaps (k 'b' missing on days 2-3) so sparse-axis paths fire."""
    rows = []
    i = 0
    for d in range(8):
        for h in (1, 7, 13, 20):
            for k in ("a", "b", "c"):
                if k == "b" and d in (2, 3):
                    continue
                i += 1
                rows.append(
                    Row(
                        ts=dt.datetime.fromtimestamp(
                            T0 + d * DAY + h * 3600, dt.timezone.utc
                        ),
                        k=k,
                        v=float((i * 7) % 23 - 5),
                    )
                )
    return rows


@pytest.fixture(scope="module")
def fuzz_db(spark):
    db = DB(spark, now=T0 + 20 * DAY)
    db.apply_schema(
        {
            "fz": {
                "sql": "SELECT COUNT(v) AS cnt, MIN(v) AS mn, MAX(v) AS mx "
                "FROM pts GROUP BY k, period('1h')"
            }
        }
    )
    db.insert("pts", spark.createDataFrame(_points()))
    return db


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (ts TIMESTAMP, k VARCHAR, v DOUBLE)")
    con.executemany(
        "INSERT INTO pts VALUES (?, ?, ?)",
        [(r.ts.replace(tzinfo=None), r.k, r.v) for r in _points()],
    )
    return con


# ---------------------------------------------------------------------------
# query-spec strategy
# ---------------------------------------------------------------------------

FIELDS = st.lists(
    st.sampled_from(["cnt", "mn", "mx", "span", "cnt2"]),
    min_size=1,
    max_size=3,
    unique=True,
)
# "expr" = dim-function GROUP BY (DECODE merging b+c into one tag —
# derived dims re-key the stored state, so COUNT adds and MIN mins across
# collapsed groups; reference sql_test.go:48–104 corpus query shape)
GROUPK = st.sampled_from(["k", "_", "expr"])
PERIOD = st.sampled_from([3600, 7200, DAY, 2 * DAY])
WHERE = st.sampled_from(
    [
        None,
        "k = 'a'",
        "k <> 'b'",
        "k IN ('a', 'c')",
        # membership from a subquery over the same stored table (the
        # reference's auto-correlation pattern, planner/subquery.go)
        "k IN (SELECT k FROM fz GROUP BY k HAVING mx > 14)",
    ]
)
SHIFT = st.sampled_from([None, "shift", "crosshift"])
HAVING = st.sampled_from([None, "cnt > 2", "cnt > 0 AND mx > 5"])
ORDER = st.sampled_from([None, "lim"])
ASOF = st.sampled_from([None, (2, 6)])  # day offsets, always day-aligned

STRIDE = st.booleans()  # stride = 2 × period when set

# FROM-subquery nesting: inner groups by (k, period p), outer re-groups the
# flat subquery rows to (spec group, 2p) — outer fields re-read inner
# columns with the reference's default-to-SUM rule (sql/sql.go:727–737,
# the z08/z18/z19 unflatten→regroup path)
SUBQUERY = st.booleans()
# which of HAVING / ASOF-UNTIL / stride a subquery spec places on the OUTER
# query instead of the inner one (the outer query plans every clause)
OUTER = st.sets(st.sampled_from(["having", "asof", "stride"]))

SPEC = st.fixed_dictionaries(
    {
        "fields": FIELDS,
        "group": GROUPK,
        "period": PERIOD,
        "where": WHERE,
        "shift": SHIFT,
        "having": HAVING,
        "order": ORDER,
        "asof": ASOF,
        "stride": STRIDE,
        "subquery": SUBQUERY,
        "outer": OUTER,
    }
)

# dialect GROUP BY dim-expression and its DuckDB twin
_EXPR_DIM_SQL = "DECODE(k, 'a', 'one', 'rest') AS g"
_EXPR_DIM_ORACLE = "CASE WHEN k = 'a' THEN 'one' ELSE 'rest' END"

_FIELD_SQL = {  # dialect select expression per abstract field
    "cnt": "cnt",
    "mn": "mn",
    "mx": "mx",
    "span": "mx - mn AS span",
    "cnt2": "cnt * 2 AS cnt2",
}
_FIELD_ORACLE = {  # oracle expression over the per-bucket base aggregate
    "cnt": "o.cnt",
    "mn": "o.mn",
    "mx": "o.mx",
    "span": "o.mx - o.mn",
    "cnt2": "o.cnt * 2",
}


_GROUP_SQL = {"k": "k", "_": "_", "expr": _EXPR_DIM_SQL}


def _outer(spec) -> set[str]:
    """The clauses a subquery spec applies to its outer query."""
    return set(spec.get("outer", ())) if spec["subquery"] else set()


def _inner_spec(spec) -> dict:
    """A subquery spec's inner query: grouped by k, without the clauses
    placed on the outer query."""
    inner = dict(spec, group="k", shift=None, order=None, subquery=False)
    for clause, off in (("having", None), ("asof", None), ("stride", False)):
        if clause in _outer(spec):
            inner[clause] = off
    return inner


def _dialect_sql(spec) -> str:
    if spec["subquery"]:
        outer = _outer(spec)
        inner = _dialect_sql(_inner_spec(spec))
        p2 = 2 * spec["period"]
        sql = f"SELECT {', '.join(spec['fields'])} FROM ({inner})"
        if "asof" in outer and spec["asof"]:
            a, u = spec["asof"]
            sql += f" ASOF '{_day(a)}' UNTIL '{_day(u)}'"
        sql += f" GROUP BY {_GROUP_SQL[spec['group']]}, period('{p2}s')"
        if "stride" in outer and spec["stride"]:
            sql += f", stride('{2 * p2}s')"
        if "having" in outer and spec["having"]:
            sql += f" HAVING {spec['having']}"
        if spec["order"]:
            sql += " ORDER BY cnt DESC, _time LIMIT 5"
        return sql
    sel = [_FIELD_SQL[f] for f in spec["fields"]]
    if spec["shift"] == "shift":
        sel.append("SHIFT(cnt, '1d') AS pcnt")
    elif spec["shift"] == "crosshift":
        # macro expands to ch (offset 0), ch_1d, ch_2d
        sel.append("CROSSHIFT(cnt, '-2d', '1d') AS ch")
    sql = f"SELECT {', '.join(sel)} FROM fz"
    if spec["asof"]:
        a, u = spec["asof"]
        sql += (
            f" ASOF '{_day(a)}' UNTIL '{_day(u)}'"
        )
    if spec["where"]:
        sql += f" WHERE {spec['where']}"
    sql += f" GROUP BY {_GROUP_SQL[spec['group']]}, period('{spec['period']}s')"
    if spec["stride"]:
        sql = sql.replace(
            f"period('{spec['period']}s')",
            f"period('{spec['period']}s'), stride('{2 * spec['period']}s')",
        )
    if spec["having"]:
        sql += f" HAVING {spec['having']}"
    if spec["order"]:
        sql += " ORDER BY cnt DESC, _time LIMIT 5"
    return sql


def _day(off: int) -> str:
    d = dt.datetime.fromtimestamp(T0 + off * DAY, dt.timezone.utc)
    return d.strftime("%Y-%m-%d")


def _oracle_sql(spec) -> str:
    p = spec["period"]
    if spec["subquery"]:
        # inner = the non-subquery oracle at (k, p) with WHERE and the
        # inner clauses applied INSIDE (reference pipeline order, z19);
        # outer re-groups to 2p with default-to-SUM on every re-read field,
        # after its own ASOF/UNTIL and stride keep inner rows by bucket,
        # and its HAVING filters the re-grouped sums
        inner = _oracle_sql(_inner_spec(spec))
        outer = _outer(spec)
        p2 = s = 2 * p
        g2 = {
            "k": "g",
            "_": "'_'",
            "expr": "CASE WHEN g = 'a' THEN 'one' ELSE 'rest' END",
        }[spec["group"]]
        sums = ", ".join(f"sum({f}) AS {f}" for f in spec["fields"])
        obc = ", sum(cnt) AS __obc" if spec["order"] else ""
        keep = []
        if "asof" in outer and spec["asof"]:
            a, u = spec["asof"]
            keep.append(f"i.b >= {int(T0 + a * DAY)} AND i.b < {int(T0 + u * DAY)}")
        if "stride" in outer and spec["stride"]:
            # strideSlice = 2p, then the output grid = the 4p stride
            s = 2 * p2
            keep.append(f"i.b % {s} < {p2}")
        where = f" WHERE {' AND '.join(keep)}" if keep else ""
        having = ""
        if "having" in outer and spec["having"]:
            having = " HAVING " + (
                spec["having"].replace("cnt", "sum(cnt)").replace("mx", "sum(mx)")
            )
        sql = (
            f"SELECT {g2} AS g, CAST(floor(i.b / {s}) * {s} AS BIGINT) AS b, "
            f"{sums}{obc} FROM ({inner}) i{where} GROUP BY 1, 2{having}"
        )
        if spec["order"]:
            sql = f"SELECT * FROM ({sql}) ORDER BY __obc DESC, b, g LIMIT 5"
        outer_cols = ["g", "b"] + list(spec["fields"])
        return f"SELECT {', '.join(outer_cols)} FROM ({sql})"
    grp_dim = {"k": "k", "_": "'_'", "expr": _EXPR_DIM_ORACLE}[spec["group"]]
    w = spec["where"]
    if w and "SELECT" in w:
        # dialect subquery groups the stored table by (k, hour); HAVING
        # mx > 14 on ANY hourly bucket ⇔ global max(v) > 14
        w = "k IN (SELECT k FROM pts GROUP BY k HAVING max(v) > 14)"
    where = f"WHERE {w}" if w else ""
    base = f"""
    base AS (
      SELECT {grp_dim} AS g,
             CAST(floor(epoch(ts) / {p}) * {p} AS BIGINT) AS b,
             CAST(count(v) AS DOUBLE) AS cnt, min(v) AS mn, max(v) AS mx
      FROM pts {where} GROUP BY 1, 2
    )"""
    if spec["stride"]:
        # keep the first period-slice of each stride window, re-bucket to
        # the stride grid (engine: strideSlice = resolution, then
        # resolution = stride)
        s = 2 * p
        base = f"""
    base0 AS (
      SELECT {grp_dim} AS g,
             CAST(floor(epoch(ts) / {p}) * {p} AS BIGINT) AS b0,
             CAST(count(v) AS DOUBLE) AS cnt, min(v) AS mn, max(v) AS mx
      FROM pts {where} GROUP BY 1, 2
    ),
    base AS (
      SELECT g, CAST(floor(b0 / {s}) * {s} AS BIGINT) AS b,
             CAST(sum(cnt) AS DOUBLE) AS cnt, min(mn) AS mn, max(mx) AS mx
      FROM base0 WHERE b0 % {s} < {p} GROUP BY 1, 2
    )"""
    cols = [f"{_FIELD_ORACLE[f]} AS {f}" for f in spec["fields"]]
    joined = "base o"
    if spec["shift"] == "shift":
        # lag over the FULL series (the engine reads below ASOF for shifts),
        # absent buckets coalesce to 0
        shift_buckets = (86400 // p) * p  # engine: dur // res_out * res_out
        joined = (
            "base o LEFT JOIN base s ON s.g = o.g AND "
            f"s.b + {shift_buckets} = o.b"
        )
        cols.append("coalesce(s.cnt, 0.0) AS pcnt")
    elif spec["shift"] == "crosshift":
        # each offset floors to the OUTPUT grid independently:
        # at period 2d the 1d offset floors to 0 (a self-join)
        n1 = (86400 // p) * p
        n2 = (172800 // p) * p
        joined = (
            "base o "
            f"LEFT JOIN base s1 ON s1.g = o.g AND s1.b + {n1} = o.b "
            f"LEFT JOIN base s2 ON s2.g = o.g AND s2.b + {n2} = o.b"
        )
        cols.append("o.cnt AS ch")
        cols.append("coalesce(s1.cnt, 0.0) AS ch_1d")
        cols.append("coalesce(s2.cnt, 0.0) AS ch_2d")
    rng = ""
    if spec["asof"]:
        a, u = spec["asof"]
        lo = int(T0 + a * DAY)
        hi = int(T0 + u * DAY)
        rng = f"WHERE o.b >= {lo} AND o.b < {hi}"
    having = ""
    if spec["having"]:
        having = "AND " if rng else "WHERE "
        having += (
            spec["having"]
            .replace("cnt", "o.cnt")
            .replace("mx", "o.mx")
        )
    sql = f"WITH {base} SELECT o.g, o.b, {', '.join(cols)}, o.cnt AS __obc FROM {joined} {rng} {having}"
    if spec["order"]:
        # ORDER BY cnt even when cnt is NOT a selected field — mirrors the
        # engine's hidden __ob_ sort column; the outer projection drops it
        sql = f"SELECT * FROM ({sql}) ORDER BY __obc DESC, b, g LIMIT 5"
    extra = {"shift": ["pcnt"], "crosshift": ["ch", "ch_1d", "ch_2d"]}.get(spec["shift"] or "", [])
    outer_cols = ["g", "b"] + list(spec["fields"]) + extra
    return f"SELECT {', '.join(outer_cols)} FROM ({sql})"


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _engine_rows(df, spec):
    out = []
    for r in df.collect():
        g = {"k": "k", "expr": "g"}.get(spec["group"])
        g = r[g] if g else "_"
        b = int(r["_time"].timestamp())
        vals = tuple(_canon(r[f]) for f in spec["fields"])
        if spec["shift"] == "shift":
            pv = (_canon(r["pcnt"]),)
        elif spec["shift"] == "crosshift":
            pv = (_canon(r["ch"]), _canon(r["ch_1d"]), _canon(r["ch_2d"]))
        else:
            pv = ()
        out.append((g, b) + vals + pv)
    return sorted(out)


def _oracle_rows(con, spec):
    rows = con.execute(_oracle_sql(spec)).fetchall()
    return sorted(tuple(_canon(v) for v in r) for r in rows)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=SPEC)
@example(  # pin the IN-subquery×stride composition (verdict item 8): the
    # grammar allows it but 40 examples don't guarantee the draw
    spec={"fields": ["cnt", "mx"], "group": "k", "period": 3600,
          "where": "k IN (SELECT k FROM fz GROUP BY k HAVING mx > 14)",
          "shift": None, "having": None, "order": None, "asof": None,
          "stride": True, "subquery": False}
)
@example(  # IN-subquery×stride×HAVING×ASOF, day grid
    spec={"fields": ["cnt"], "group": "expr", "period": 3600,
          "where": "k IN (SELECT k FROM fz GROUP BY k HAVING mx > 14)",
          "shift": None, "having": "cnt > 2", "order": None, "asof": (2, 6),
          "stride": True, "subquery": False}
)
@example(  # outer HAVING over two re-read inner columns
    spec={"fields": ["cnt", "mx"], "group": "_", "period": 3600, "where": None,
          "shift": None, "having": "cnt > 0 AND mx > 5", "order": None,
          "asof": None, "stride": False, "subquery": True, "outer": {"having"}}
)
@example(  # outer ASOF/UNTIL and outer stride over an inner WHERE
    spec={"fields": ["cnt"], "group": "k", "period": 3600, "where": "k <> 'b'",
          "shift": None, "having": "cnt > 2", "order": None, "asof": (2, 6),
          "stride": True, "subquery": True, "outer": {"asof", "stride"}}
)
def test_dialect_matches_duckdb_oracle(fuzz_db, oracle_con, spec):
    if spec["order"]:
        # LIMIT needs a total order: (cnt DESC, _time) can tie across dims
        # when grouping by k — restrict ordered specs to the global series
        spec = dict(spec)
        spec["group"] = "_"
        if spec["subquery"] and "cnt" not in spec["fields"]:
            # the outer ORDER BY cnt re-reads the inner cnt column, which
            # only exists if the inner query selected it
            spec["fields"] = list(spec["fields"]) + ["cnt"]
    if spec["having"] and "having" in _outer(spec):
        # the outer HAVING re-reads inner columns, which exist only if the
        # inner query selected them
        need = [f for f in ("cnt", "mx") if f in spec["having"] and f not in spec["fields"]]
        spec = dict(spec, fields=list(spec["fields"]) + need)
    if spec["subquery"] and spec["shift"]:
        # _dialect_sql/_oracle_sql build the subquery's inner with
        # shift=None (SHIFT composes with FROM-subqueries via the dedicated
        # z20/z21 oracles, not this grid) — normalize so row extraction
        # doesn't look for the dropped pcnt/ch columns
        spec = dict(spec)
        spec["shift"] = None
    if spec["subquery"] and spec["asof"] and 2 * spec["period"] > DAY:
        # outer grid = 2×period: same odd-epoch-day alignment rule as the
        # base restriction below, applied at the OUTER resolution
        spec = dict(spec)
        spec["asof"] = None
    if spec["asof"] and spec["period"] > DAY:
        # T0 is an ODD epoch day: a 2d period's epoch grid does not align
        # with day-aligned ASOF bounds, engaging the engine's documented
        # partial-first-bucket semantics the flat oracle does not model —
        # keep ASOF specs on period-aligned grids (covered separately by
        # test_round8's unaligned-ASOF goldens)
        spec = dict(spec)
        spec["period"] = DAY
    if spec["stride"]:
        spec = dict(spec)
        # a shift smaller than the stride-widened resolution floors to a
        # zero offset (degenerate); and an ASOF bound unaligned to the
        # 2×period output grid re-engages partial-bucket semantics
        spec["shift"] = None
        if spec["asof"] and 2 * spec["period"] > 7200:
            spec["period"] = 3600
    got = _engine_rows(fuzz_db.query(_dialect_sql(spec)), spec)
    want = _oracle_rows(oracle_con, spec)
    assert got == want, (
        f"\ndialect: {_dialect_sql(spec)}\noracle: {_oracle_sql(spec)}"
        f"\ngot {len(got)} rows, want {len(want)}\n"
        f"got[:5]={got[:5]}\nwant[:5]={want[:5]}"
    )


# ---------------------------------------------------------------------------
# crosstab fuzz: the pivot path (dynamic columns, totals, HAVING at the
# totals grain) melted back to rows and compared against an un-pivoted oracle
# ---------------------------------------------------------------------------

CT_SPEC = st.fixed_dictionaries(
    {
        "period": st.sampled_from([3600, DAY]),
        "where": st.sampled_from([None, "k <> 'b'"]),
        "totals": st.booleans(),
        "having": st.sampled_from([None, "cnt > 6"]),
        # SHIFT inside a pivot (round-6 verdict item 8: the pair never
        # co-occurred in the grammar; crosstab+shift is legal dialect) —
        # each pivot column gets a {k}_pcnt sibling reading the UNGATED
        # series one day back, coalesced to 0 where the current cell exists
        "shift": st.booleans(),
    }
)


def _ct_dialect(spec) -> str:
    fn = "CROSSTABT" if spec["totals"] else "CROSSTAB"
    sel = "cnt, SHIFT(cnt, '1d') AS pcnt" if spec["shift"] else "cnt"
    sql = f"SELECT {sel} FROM fz"
    if spec["where"]:
        sql += f" WHERE {spec['where']}"
    sql += f" GROUP BY _, {fn}(k), period('{spec['period']}s')"
    if spec["having"]:
        sql += f" HAVING {spec['having']}"
    return sql


def _ct_oracle_rows(con, spec):
    p = spec["period"]
    where = f"WHERE {spec['where']}" if spec["where"] else ""
    having = ""
    if spec["having"]:
        having = f"HAVING CAST(count(v) AS DOUBLE) > 6"
    # totals at the (bucket) grain gate which buckets exist (inner join);
    # the UNGATED totals feed total_pcnt (shift reads below HAVING)
    tot_all = dict(
        con.execute(
            f"""
        SELECT CAST(floor(epoch(ts) / {p}) * {p} AS BIGINT) AS b,
               CAST(count(v) AS DOUBLE) AS cnt
        FROM pts {where} GROUP BY 1
        """
        ).fetchall()
    )
    tot = con.execute(
        f"""
        SELECT CAST(floor(epoch(ts) / {p}) * {p} AS BIGINT) AS b,
               CAST(count(v) AS DOUBLE) AS cnt
        FROM pts {where} GROUP BY 1 {having}
        """
    ).fetchall()
    buckets = {b: c for b, c in tot}
    cells = con.execute(
        f"""
        SELECT CAST(floor(epoch(ts) / {p}) * {p} AS BIGINT) AS b, k,
               CAST(count(v) AS DOUBLE) AS cnt
        FROM pts {where} GROUP BY 1, 2
        """
    ).fetchall()
    cells_all = {(b, k): c for b, k, c in cells}
    out = {
        (b, k, "cnt"): c for (b, k), c in cells_all.items() if b in buckets
    }
    if spec["shift"]:
        # pcnt exists exactly where the current cell exists; absent shift
        # sources coalesce to 0 (engine reads the full series below HAVING)
        for (b, k) in list(cells_all):
            if b in buckets:
                out[(b, k, "pcnt")] = cells_all.get((b - 86400, k), 0.0)
    if spec["totals"]:
        for b, c in buckets.items():
            out[(b, "total", "cnt")] = c
            if spec["shift"]:
                out[(b, "total", "pcnt")] = tot_all.get(b - 86400, 0.0)
    return out


def _ct_engine_rows(df, spec):
    out = {}
    for r in df.collect():
        b = int(r["_time"].timestamp())
        for col in df.columns:
            if col == "_time" or r[col] is None:
                continue
            for f in ("pcnt", "cnt"):  # pcnt first: "a_pcnt" ends in "_cnt" too
                suf = f"_{f}"
                if col.endswith(suf):
                    k = col[: -len(suf)]
                    out[(b, "total" if k == "total" else k, f)] = _canon(r[col])
                    break
    return out


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=CT_SPEC)
@example(  # pin the SHIFT×CROSSTABT×HAVING composition (verdict item 8)
    spec={"period": DAY, "where": None, "totals": True, "having": "cnt > 6",
          "shift": True}
)
@example(  # SHIFT×CROSSTAB with WHERE at hour grain
    spec={"period": 3600, "where": "k <> 'b'", "totals": False,
          "having": None, "shift": True}
)
def test_crosstab_matches_duckdb_oracle(fuzz_db, oracle_con, spec):
    got = _ct_engine_rows(fuzz_db.query(_ct_dialect(spec)), spec)
    want = {k: _canon(v) for k, v in _ct_oracle_rows(oracle_con, spec).items()}
    assert got == want, (
        f"\ndialect: {_ct_dialect(spec)}\n"
        f"got {len(got)} cells, want {len(want)}\n"
        f"extra={sorted(set(got) - set(want))[:4]} missing={sorted(set(want) - set(got))[:4]}"
    )
