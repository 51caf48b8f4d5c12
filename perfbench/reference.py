"""Reference checks: sampled dialect responses against DuckDB over the raw
points, and the battery's DataFrame results against their oracle SQL.

Each check returns ``None`` when the result is right, else a one-line
reason; the caller counts a reason as a failed operation.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

from templates import BY_NAME

TOL = 1e-6


def points_con(cols: dict[str, np.ndarray]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection holding ``cols`` as the table ``points``."""
    import pyarrow as pa

    con = duckdb.connect()
    con.register("points_arrow", pa.table(cols))
    con.execute("CREATE TABLE points AS SELECT * FROM points_arrow")
    return con


def _key(row: dict, dims: tuple[str, ...]) -> tuple:
    t = row.get("_time")
    return (None if t is None else int(round(float(t))),) + tuple(row.get(d) for d in dims)


def _same(a, b) -> bool:
    a = 0.0 if a is None else float(a)
    b = 0.0 if b is None else float(b)
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def _empty(row: dict, fields: list[str]) -> bool:
    return all(row.get(f) in (None, 0, 0.0) for f in fields)


def check_query(con, tmpl_name: str, args: dict, rows: list[dict]) -> str | None:
    t = BY_NAME[tmpl_name]
    if t.check == "bounds":
        if not rows:
            return "no rows"
        for r in rows:
            for f, (lo, hi) in t.bounds.items():
                v = r.get(f)
                if v is None or not lo <= float(v) <= hi:
                    return f"{f}={v!r} outside [{lo}, {hi}]"
        return None
    res = con.execute(t.ref(args))
    cols = [d[0] for d in res.description]
    expected = [dict(zip(cols, r)) for r in res.fetchall()]
    fields = [c for c in cols if c != "_time" and c not in t.dims]
    if t.check == "multiset":
        def canon(rs):
            return sorted((_key(r, t.dims), round(float(r.get("cnt") or 0), 6)) for r in rs)
        return None if canon(rows) == canon(expected) else "UNION rows differ"
    got = {_key(r, t.dims): r for r in rows}
    if len(got) != len(rows):
        return "duplicate result keys"
    want = {_key(r, t.dims): r for r in expected}
    if t.check == "topn":
        top = sorted((float(r["cnt"]) for r in expected), reverse=True)[: args["n"]]
        if sorted((float(r["cnt"]) for r in rows), reverse=True) != top:
            return "ORDER BY/LIMIT picked other rows"
        missing = [k for k in got if k not in want]
        if missing:
            return f"row {missing[0]} fails HAVING"
        want = {k: want[k] for k in got}
    for k, w in want.items():
        g = got.get(k)
        if g is None:
            if w.get("cnt", 1) == 0:
                continue  # a SHIFT-only row past the stored range
            return f"missing row {k}"
        for f in fields:
            if t.check == "approx":
                exact = float(w[f])
                if not 0.6 * exact <= float(g.get(f) or 0) <= 1.4 * exact:
                    return f"{f} at {k}: {g.get(f)} far from {exact}"
            elif not _same(g.get(f), w[f]):
                return f"{f} at {k}: got {g.get(f)}, want {w[f]}"
    for k, g in got.items():
        if k not in want and not _empty(g, fields):
            return f"unexpected row {k}"
    return None


def check_frame(con, oracle_sql: str, cols: list[str], rows: list[list]) -> str | None:
    """A battery result against its oracle, canonicalised the way
    ``tools/driver_check.py`` does it."""
    from driver_check import _rows

    res = con.sql(oracle_sql)
    dcols, drows = res.columns, res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows, oracle has {len(drows)}"
    if _rows(cols, rows) != _rows(dcols, drows):
        return "values differ from the oracle"
    return None
