"""Dialect query templates for the server workloads, with their DuckDB
reference over the raw points.

The store schema (``SCHEMA``) has one hourly table and one daily view.
Each template fixes its query shape (period, grouping, functions) and
draws only literals that leave the work about the same: a region, event
type or device, a shift, and a ``LIMIT`` above the result size that makes
the text distinct. Fresh draws therefore miss the engine's 64-entry plan
cache without changing what a query costs, so two seeds load the server
alike. The reference SQL runs over a DuckDB table ``points(ts, region,
event_type, device, value, user_id)`` holding exactly the ingested points.

A reference returns one row per expected result row, with ``_time`` as
epoch seconds, the template's dims and its fields. ``check`` says how the
response is compared:

- ``exact``: every expected row is present with equal fields (a missing
  row must have ``cnt`` 0), and every extra response row reads as empty;
- ``topn``: the response is the first ``n`` expected rows by ``cnt``
  descending, compared as the sorted ``cnt`` list plus per-row fields;
- ``multiset``: the rows of a ``UNION ALL``, compared as a sorted list;
- ``approx``: COUNTDISTINCT sketch fields lie within 40 % of the exact count;
- ``bounds``: PERCENTILE fields are present and lie inside ``bounds``.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from typing import Callable

from points import DAY, DEVICES, EVENT_SHARES, EVENT_TYPES, REGIONS, START

SCHEMA = """
hourly:
  sql: >
    SELECT COUNT(value) AS cnt, SUM(value) AS total, MIN(value) AS mn,
    MAX(value) AS mx, IF(event_type = 'error', COUNT(value)) AS errors,
    PERCENTILE(value, 50, 0, 100, 0) AS med,
    COUNTDISTINCT(user_id, 64) AS users
    FROM points GROUP BY region, event_type, period('1h')
daily:
  view: true
  sql: >
    SELECT cnt, total FROM hourly GROUP BY device, period('1d')
"""

_AGG_SQL = {
    "cnt": "count(*)",
    "total": "sum(value)",
    "mn": "min(value)",
    "mx": "max(value)",
    "errors": "count(*) FILTER (WHERE event_type = 'error')",
}


def _aggs(*names: str) -> str:
    return ", ".join(f"{_AGG_SQL[n]} AS {n}" for n in names)


def _bucket(days: int) -> str:
    p = days * DAY
    return f"CAST(floor(ts/{p})*{p} AS BIGINT)"


def _iso(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _region(r: random.Random) -> str:
    return r.choice(REGIONS.tolist())


def _event(r: random.Random) -> str:
    return r.choice(EVENT_TYPES.tolist())


def _lim(r: random.Random) -> int:
    # above every template's result size: it only makes the text distinct
    return r.randint(5_000, 99_999)


@dataclass
class Template:
    name: str
    draw: Callable[[random.Random, int], dict]
    sql: Callable[[dict], str]
    ref: Callable[[dict], str]
    dims: tuple[str, ...]
    check: str = "exact"
    bounds: dict = field(default_factory=dict)
    # cheap enough for /immediate, which lowers afresh and persists the
    # table's state on every no-cache request (its short timeout is 5 s)
    immediate: bool = False


TEMPLATES = [
    Template(
        "rollup",
        lambda r, n: {"e": _event(r), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt, total, mn, mx FROM hourly WHERE event_type = '{a['e']}' "
            f"GROUP BY region, period('1d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(1)} AS _time, region, {_aggs('cnt', 'total', 'mn', 'mx')} "
            f"FROM points WHERE event_type = '{a['e']}' GROUP BY ALL"
        ),
        ("region",),
        immediate=True,
    ),
    Template(
        "filter_having",
        lambda r, n: {"r": _region(r), "k": r.randint(0, 40), "n": 10},
        lambda a: (
            f"SELECT cnt, total, errors FROM hourly WHERE region = '{a['r']}' "
            f"GROUP BY event_type, period('1d') HAVING cnt > {a['k']} "
            f"ORDER BY cnt DESC LIMIT {a['n']}"
        ),
        lambda a: (
            f"SELECT {_bucket(1)} AS _time, event_type, {_aggs('cnt', 'total', 'errors')} "
            f"FROM points WHERE region = '{a['r']}' GROUP BY ALL HAVING count(*) > {a['k']}"
        ),
        ("event_type",),
        check="topn",
        immediate=True,
    ),
    Template(
        "shift",
        lambda r, n: {"s": r.randint(1, 7), "e": _event(r), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt, SHIFT(cnt, '{a['s']}d') AS prev FROM hourly "
            f"WHERE event_type = '{a['e']}' GROUP BY region, period('1d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"WITH d AS (SELECT {_bucket(1)} AS _time, region, count(*) AS cnt "
            f"FROM points WHERE event_type = '{a['e']}' GROUP BY ALL), "
            f"k AS (SELECT _time, region FROM d UNION "
            f"SELECT _time + {a['s'] * DAY}, region FROM d) "
            f"SELECT k._time, k.region, coalesce(d.cnt, 0) AS cnt, "
            f"coalesce(p.cnt, 0) AS prev FROM k "
            f"LEFT JOIN d ON d._time = k._time AND d.region = k.region "
            f"LEFT JOIN d p ON p._time = k._time - {a['s'] * DAY} AND p.region = k.region"
        ),
        ("region",),
    ),
    Template(
        "crosshift",
        lambda r, n: {"a": r.randint(2, 6), "r": _region(r)},
        lambda a: (
            f"SELECT CROSSHIFT(cnt, '-{a['a']}d', '1d') AS cs FROM hourly "
            f"WHERE region = '{a['r']}' GROUP BY event_type, period('1d')"
        ),
        # one base column plus one per day back, each a shifted daily count
        lambda a: (
            f"WITH d AS (SELECT {_bucket(1)} AS _time, event_type, count(*) AS cnt "
            f"FROM points WHERE region = '{a['r']}' GROUP BY ALL) "
            f"SELECT d._time, d.event_type, d.cnt AS cs, "
            + ", ".join(f"coalesce(p{k}.cnt, 0) AS cs_{k}d" for k in range(1, a["a"] + 1))
            + " FROM d "
            + " ".join(
                f"LEFT JOIN d p{k} ON p{k}.event_type = d.event_type "
                f"AND p{k}._time + {k * DAY} = d._time"
                for k in range(1, a["a"] + 1)
            )
        ),
        ("event_type",),
    ),
    Template(
        "crosstabt",
        lambda r, n: {"r": _region(r), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt FROM hourly WHERE region = '{a['r']}' "
            f"GROUP BY _, CROSSTABT(event_type), period('7d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(7)} AS _time, count(*) AS total_cnt, "
            + ", ".join(
                f"count(*) FILTER (WHERE event_type = '{e}') AS {e}_cnt"
                for e in EVENT_TYPES
            )
            + f" FROM points WHERE region = '{a['r']}' GROUP BY ALL"
        ),
        (),
        immediate=True,
    ),
    Template(
        "percentile",
        lambda r, n: {"r": _region(r), "q": r.choice([75, 90, 95, 99])},
        lambda a: (
            f"SELECT med, PERCENTILE(med, {a['q']}) AS pq FROM hourly "
            f"WHERE region = '{a['r']}' GROUP BY event_type, period('30d')"
        ),
        lambda a: "",
        ("event_type",),
        check="bounds",
        bounds={"med": (0.0, 100.0), "pq": (0.0, 100.0)},
    ),
    Template(
        "in_subquery",
        # the threshold sits within 10 % of the expected per-region count,
        # so the subquery keeps some regions and drops others
        lambda r, n: {"e": (e := _event(r)),
                      "k": int(n * EVENT_SHARES[EVENT_TYPES.tolist().index(e)]
                               / len(REGIONS) * r.uniform(0.9, 1.1))},
        # period('90d'): the data's 60 days fall in one 90-day bucket, so
        # HAVING sees each region's whole-range count
        lambda a: (
            f"SELECT cnt FROM hourly WHERE region IN (SELECT cnt FROM hourly "
            f"WHERE event_type = '{a['e']}' GROUP BY region, period('90d') "
            f"HAVING cnt > {a['k']}) GROUP BY region, period('30d')"
        ),
        lambda a: (
            f"SELECT {_bucket(30)} AS _time, region, count(*) AS cnt FROM points "
            f"WHERE region IN (SELECT region FROM points WHERE event_type = "
            f"'{a['e']}' GROUP BY region HAVING count(*) > {a['k']}) GROUP BY ALL"
        ),
        ("region",),
    ),
    Template(
        "from_subquery",
        lambda r, n: {"r": _region(r), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt FROM (SELECT cnt FROM hourly WHERE region = '{a['r']}' "
            f"GROUP BY event_type, period('1d')) GROUP BY _, period('10d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(10)} AS _time, count(*) AS cnt FROM points "
            f"WHERE region = '{a['r']}' GROUP BY ALL"
        ),
        (),
        immediate=True,
    ),
    Template(
        "union",
        lambda r, n: {"a": _region(r), "b": _region(r)},
        lambda a: (
            f"SELECT cnt FROM hourly WHERE region = '{a['a']}' "
            f"GROUP BY event_type, period('30d') UNION ALL "
            f"SELECT cnt FROM hourly WHERE region = '{a['b']}' "
            f"GROUP BY event_type, period('30d')"
        ),
        lambda a: (
            f"SELECT {_bucket(30)} AS _time, event_type, count(*) AS cnt "
            f"FROM points WHERE region = '{a['a']}' GROUP BY ALL UNION ALL "
            f"SELECT {_bucket(30)} AS _time, event_type, count(*) AS cnt "
            f"FROM points WHERE region = '{a['b']}' GROUP BY ALL"
        ),
        ("event_type",),
        check="multiset",
        immediate=True,
    ),
    Template(
        "asof_until",
        lambda r, n: {"d0": r.randint(0, 50), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt, total FROM hourly ASOF '{_iso(START + a['d0'] * DAY)}' "
            f"UNTIL '{_iso(START + (a['d0'] + 7) * DAY)}' "
            f"GROUP BY region, period('1d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(1)} AS _time, region, {_aggs('cnt', 'total')} FROM points "
            f"WHERE ts >= {START + a['d0'] * DAY} "
            f"AND ts < {START + (a['d0'] + 7) * DAY} GROUP BY ALL"
        ),
        ("region",),
    ),
    Template(
        "distinct",
        lambda r, n: {"e": _event(r), "lim": _lim(r)},
        lambda a: (
            f"SELECT users FROM hourly WHERE event_type = '{a['e']}' "
            f"GROUP BY region, period('30d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(30)} AS _time, region, "
            f"count(DISTINCT user_id) AS users FROM points "
            f"WHERE event_type = '{a['e']}' GROUP BY ALL"
        ),
        ("region",),
        check="approx",
    ),
    Template(
        "view",
        lambda r, n: {"d": r.choice(DEVICES[:20].tolist()), "lim": _lim(r)},
        lambda a: (
            f"SELECT cnt, total FROM daily WHERE device = '{a['d']}' "
            f"GROUP BY device, period('1d') LIMIT {a['lim']}"
        ),
        lambda a: (
            f"SELECT {_bucket(1)} AS _time, device, count(*) AS cnt, "
            f"sum(value) AS total FROM points WHERE device = '{a['d']}' GROUP BY ALL"
        ),
        ("device",),
        immediate=True,
    ),
]

BY_NAME = {t.name: t for t in TEMPLATES}
