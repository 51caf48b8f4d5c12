"""HTTP service layer — the Spark analog of the reference's web package.

Routes (reference web/handler.go:117–124):

- ``POST /insert/{stream}`` — JSON point ingest (web/insert.go:27–72).
- ``GET/POST /query?sql=…`` — plain columns/rows JSON (kept for embedded
  callers), guarded by ``max_response_bytes`` and ``memory_guard`` like
  the dashboard and RPC surfaces.
- ``GET /run?<sql>`` — dashboard query, blocks until done (long timeout).
- ``GET /async?<sql>`` — dashboard query; waits up to ``short_timeout``
  then returns ``202 Accepted`` with body ``/cached/{permalink}``
  (web/query.go:57–67, 98–123).
- ``GET /immediate?<sql>`` — like /async but skips the coalescing window
  (web/query.go:65–67, 186).
- ``GET /cached/{permalink}`` — fetch a finished (or still-pending) result
  by its stable permalink (web/query.go:69–83, web/cache.go).
- ``GET /metrics`` — per-table stats + streaming freshness
  (web/metrics.go, table.go:569–601) + the engine's plan-cache and
  result-row counters (DB.cache_stats); ``?cardinalities=1`` adds the
  per-dimension KMV distinct estimates (DB.table_stats) — the dashboard
  cardinality panel, O(k·dims) response bytes at any table size.

Result cache (web/cache.go:22–115): every dashboard query gets a cache
entry keyed by its SQL with a stable UUID permalink; the entry's payload is
the gzip-compressed ``QueryResult`` JSON, served with
``Content-Encoding: gzip`` exactly as the reference stores and serves it.
``Cache-control: no-cache`` forces a fresh run under a NEW permalink
(web/query.go:145–150). Entries carry a TTL; with a ``cache_dir`` the
payloads also persist to disk so permalinks survive a restart (the
reference's boltdb file, here one gzip file per permalink + a JSON index).

Query coalescing (web/query.go:168–215): non-immediate queries queue into a
coalescing window and the window's batch is planned through
``DB.query_many``, which plans each statement through ``DB.query`` (plan
cache, ``-- force_fresh``); each statement then scans its own day
partitions instead of sharing one scan, unless its plan-cache entry
already holds its result rows (below). An immediate query flushes the
window at once.

QueryResult shape (web/query.go:31–47): ``SQL, Permalink, TS,
TSCardinality, Fields, FieldCardinalities, Dims, DimCardinalities, Rows:
[{TS, Key, Vals}]``. Dims are the result's non-numeric columns, Fields its
numeric measures. Cardinalities are computed over the RESPONSE rows —
the reference streams them through hllpp (web/query.go:303–360); since the
response is bounded by ``max_response_bytes`` anyway, we count exactly on
the driver (a strict refinement of the HLL estimate at zero extra Spark
jobs; the unbounded-data cardinality operators live in operators/sketch).

Response-size guard (web/query.go:265–273 + 229–233): each result is read
by ``engine.collect_rows`` under a running byte estimate, and the final
gzipped payload is checked against ``max_response_bytes``; overflow fails
the entry loudly. A first read is one Spark job whose rows are unpickled
lazily, so Python never holds more than the cap (the JVM holds the
result, bounded by ``spark.driver.maxResultSize``). The engine keeps a
plan-cache entry's complete result rows until the next table-state
mutation (the Spark analog of the reference answering a repeated query
from its cache, web/query.go:168–215), so a repeated cacheable statement
over ``/query``, ``/run``, ``/immediate`` or RPC runs no Spark job; held
rows pass the same guard, so a server with a smaller cap still refuses
them.

Pending requests wait on their entry's ``done`` event, so a result is
answered as soon as it is ready; a request still pending after its timeout
gets ``202 Accepted`` with body ``/cached/{permalink}``.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import queue
import threading
import time
import uuid
from contextlib import closing
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from zenodb_spark.engine import DB, collect_rows, json_value, memory_guard, row_bytes

STATUS_PENDING = 0
STATUS_SUCCESS = 1
STATUS_ERROR = 2

DEFAULT_SHORT_TIMEOUT = 5.0
DEFAULT_COALESCE_WINDOW = 5.0  # reference web/query.go:187
DEFAULT_MAX_RESPONSE_BYTES = 32 * 1024 * 1024
DEFAULT_CACHE_TTL = 2 * 3600.0
# gzipped payload bytes the result cache keeps for finished entries; past
# it the least recently used are evicted (memory and disk)
RESULT_CACHE_MAX_BYTES = 256 * 1024 * 1024
BATCH_HISTORY = 1024  # QueryRunner.batches keeps the sizes of this many recent batches


def _parse_ts(v) -> dt.datetime:
    if v is None:
        return dt.datetime.now(dt.timezone.utc)
    if isinstance(v, (int, float)):
        return dt.datetime.fromtimestamp(float(v), dt.timezone.utc)
    d = dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d


# --------------------------------------------------------------------------
# result cache (reference web/cache.go)
# --------------------------------------------------------------------------


@dataclass
class CacheEntry:
    sql: str
    permalink: str = field(default_factory=lambda: uuid.uuid4().hex)
    status: int = STATUS_PENDING
    expires: float = 0.0
    data: bytes | None = None  # gzipped QueryResult JSON
    error: str | None = None
    # set once the entry leaves STATUS_PENDING; waiting requests block on it
    done: threading.Event = field(default_factory=threading.Event, repr=False, compare=False)

    def expired(self) -> bool:
        return self.expires < time.time()


class ResultCache:
    """Thread-safe SQL→entry + permalink→entry cache with TTL and optional
    disk persistence (one gzip payload file per permalink + a JSON index —
    the reference's boltdb buckets, web/cache.go:27–30). ``_by_permalink``
    is kept least recently used first; finished payloads are capped at
    RESULT_CACHE_MAX_BYTES."""

    PURGE_INTERVAL = 60.0

    def __init__(self, ttl: float = DEFAULT_CACHE_TTL, cache_dir: str | None = None):
        self.ttl = ttl
        self.cache_dir = cache_dir
        self._by_sql: dict[str, CacheEntry] = {}
        self._by_permalink: dict[str, CacheEntry] = {}
        self._lock = threading.Lock()
        self._last_purge = time.time()
        if cache_dir:
            os.makedirs(cache_dir, exist_ok=True)
            self._load_index()

    def _purge_locked(self) -> None:
        """Evict expired entries from BOTH maps (amortized: at most once per
        PURGE_INTERVAL) — without this a long-lived dashboard session
        accumulates one dead entry per distinct SQL forever. Disk payloads
        of evicted entries are removed too; pending entries are never
        evicted (their runner still holds them)."""
        now = time.time()
        if now - self._last_purge < self.PURGE_INTERVAL:
            return
        self._last_purge = now
        dead = [
            ce
            for ce in self._by_permalink.values()
            if ce.expired() and ce.status != STATUS_PENDING
        ]
        for ce in dead:
            self._drop_locked(ce)

    def _evict_locked(self) -> None:
        """Drop least recently used finished entries until their gzipped
        payloads total at most RESULT_CACHE_MAX_BYTES. Pending entries are
        never evicted (their runner still holds them)."""
        held = sum(len(ce.data or b"") for ce in self._by_permalink.values())
        for ce in list(self._by_permalink.values()):
            if held <= RESULT_CACHE_MAX_BYTES:
                break
            if ce.status != STATUS_PENDING and ce.data:
                held -= len(ce.data)
                self._drop_locked(ce)

    def _drop_locked(self, ce: CacheEntry) -> None:
        """Forget ``ce`` in both maps and remove its disk payload."""
        if self._by_sql.get(ce.sql) is ce:
            del self._by_sql[ce.sql]
        del self._by_permalink[ce.permalink]
        if self.cache_dir:
            try:
                os.remove(self._payload_path(ce.permalink))
            except FileNotFoundError:
                pass

    def _touch_locked(self, ce: CacheEntry) -> CacheEntry:
        """Mark ``ce`` most recently used."""
        self._by_permalink[ce.permalink] = self._by_permalink.pop(ce.permalink)
        return ce

    # -- disk layer ---------------------------------------------------------
    def _index_path(self) -> str:
        return os.path.join(self.cache_dir, "index.json")

    def _load_index(self) -> None:
        try:
            with open(self._index_path()) as f:
                idx = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return
        now = time.time()
        for rec in idx.get("entries", []):
            if rec.get("expires", 0) < now:
                continue
            ce = CacheEntry(
                sql=rec["sql"],
                permalink=rec["permalink"],
                status=rec["status"],
                expires=rec["expires"],
                error=rec.get("error"),
            )
            if ce.status == STATUS_SUCCESS:
                try:
                    with open(self._payload_path(ce.permalink), "rb") as f:
                        ce.data = f.read()
                except FileNotFoundError:
                    continue
            ce.done.set()  # the index holds finished entries only
            self._by_sql[ce.sql] = ce
            self._by_permalink[ce.permalink] = ce
        self._evict_locked()

    def _payload_path(self, permalink: str) -> str:
        return os.path.join(self.cache_dir, f"{permalink}.gz")

    def _flush_locked(self) -> None:
        if not self.cache_dir:
            return
        recs = []
        for ce in self._by_permalink.values():
            if ce.status == STATUS_PENDING or ce.expired():
                continue
            recs.append(
                {
                    "sql": ce.sql,
                    "permalink": ce.permalink,
                    "status": ce.status,
                    "expires": ce.expires,
                    "error": ce.error,
                }
            )
            if ce.status == STATUS_SUCCESS and ce.data is not None:
                p = self._payload_path(ce.permalink)
                if not os.path.exists(p):
                    tmp = p + ".tmp"
                    with open(tmp, "wb") as f:
                        f.write(ce.data)
                    os.replace(tmp, p)
        tmp = self._index_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"entries": recs}, f)
        os.replace(tmp, self._index_path())

    # -- api ----------------------------------------------------------------
    def begin(self, sql: str) -> CacheEntry:
        """Unconditionally start a new pending entry (Cache-control:
        no-cache path, web/query.go:145–150)."""
        ce = CacheEntry(sql=sql, expires=time.time() + self.ttl)
        with self._lock:
            self._purge_locked()
            self._by_sql[sql] = ce
            self._by_permalink[ce.permalink] = ce
        return ce

    def get_or_begin(self, sql: str) -> tuple[CacheEntry, bool]:
        """Return (entry, created): reuse a live entry for identical SQL —
        pending ones too, so N concurrent identical queries share ONE
        execution (web/query.go:151–160)."""
        with self._lock:
            self._purge_locked()
            ce = self._by_sql.get(sql)
            if ce is not None and not ce.expired():
                return self._touch_locked(ce), False
            ce = CacheEntry(sql=sql, expires=time.time() + self.ttl)
            self._by_sql[sql] = ce
            self._by_permalink[ce.permalink] = ce
            return ce, True

    def by_permalink(self, permalink: str) -> CacheEntry | None:
        with self._lock:
            ce = self._by_permalink.get(permalink)
            if ce is None or ce.expired():
                return None
            return self._touch_locked(ce)

    def succeed(self, ce: CacheEntry, data: bytes) -> None:
        with self._lock:
            ce.data = data
            ce.status = STATUS_SUCCESS
            self._evict_locked()
            self._flush_locked()
        ce.done.set()

    def fail(self, ce: CacheEntry, error: str) -> None:
        with self._lock:
            ce.error = error
            ce.status = STATUS_ERROR
            self._flush_locked()
        ce.done.set()


# --------------------------------------------------------------------------
# query execution (reference web/query.go:203–299)
# --------------------------------------------------------------------------


@dataclass
class _QueuedQuery:
    sql: str
    immediate: bool
    ce: CacheEntry


class QueryRunner:
    """Coalescing executor: queries that arrive within the window run as
    one batch through ``DB.query_many`` (reference web/query.go:168–215)."""

    def __init__(
        self,
        db: DB,
        cache: ResultCache,
        coalesce_window: float = DEFAULT_COALESCE_WINDOW,
        max_response_bytes: int = DEFAULT_MAX_RESPONSE_BYTES,
    ):
        self.db = db
        self.cache = cache
        self.coalesce_window = coalesce_window
        self.max_response_bytes = max_response_bytes
        self._queue: queue.Queue[_QueuedQuery | None] = queue.Queue()
        self._stopped = threading.Event()
        self._thread = threading.Thread(
            target=self._coalesce_loop, name="zenodb-web-coalesce", daemon=True
        )
        self._thread.start()
        # observability for tests/metrics: how many queries each recent
        # query_many batch carried (the last BATCH_HISTORY batches)
        self.batches: list[int] = []

    def stop(self) -> None:
        self._stopped.set()
        self._queue.put(None)

    def submit(self, sql: str, immediate: bool, ce: CacheEntry) -> None:
        from zenodb_spark.sqlparser.parser import parse

        try:
            parse(sql)
        except Exception as e:
            self.cache.fail(ce, f"unable to parse query: {e}")
            return
        self._queue.put(_QueuedQuery(sql, immediate, ce))

    # -- coalescing ---------------------------------------------------------
    def _coalesce_loop(self) -> None:
        while not self._stopped.is_set():
            item = self._queue.get()
            if item is None:
                return
            batch = [item]
            if not item.immediate:
                deadline = time.time() + self.coalesce_window
                while True:
                    remaining = deadline - time.time()
                    if remaining <= 0:
                        break
                    try:
                        nxt = self._queue.get(timeout=remaining)
                    except queue.Empty:
                        break
                    if nxt is None:
                        self._run_batch(batch)
                        return
                    batch.append(nxt)
                    if nxt.immediate:
                        break
            self._run_batch(batch)

    def _run_batch(self, batch: list[_QueuedQuery]) -> None:
        self.batches.append(len(batch))
        del self.batches[:-BATCH_HISTORY]
        try:
            plans = self.db.query_many([q.sql for q in batch])
        except Exception:
            # a parse/plan failure in one query: plan each alone, so only
            # the failing entries fail and the rest still run
            for q in batch:
                try:
                    [plan] = self.db.query_many([q.sql])
                except Exception as e:
                    self.cache.fail(q.ce, str(e))
                else:
                    self._finish(q, plan)
            return
        for q, plan in zip(batch, plans):
            self._finish(q, plan)

    def _finish(self, q: _QueuedQuery, plan) -> None:
        try:
            with memory_guard(f"query {q.sql[:80]!r}"):
                result = build_query_result(
                    plan, q.sql, q.ce.permalink, self.max_response_bytes
                )
            payload = gzip.compress(
                json.dumps(result).encode(), compresslevel=9
            )
            if len(payload) > self.max_response_bytes:
                raise ResponseTooLarge(
                    f"query result size {len(payload)} exceeded limit of "
                    f"{self.max_response_bytes}"
                )
        except Exception as e:
            self.cache.fail(q.ce, str(e))
        else:
            self.cache.succeed(q.ce, payload)


class ResponseTooLarge(Exception):
    pass


_NUMERIC_TYPES = ("int", "bigint", "float", "double", "decimal", "smallint", "tinyint")


def _is_numeric(dtype: str) -> bool:
    return any(dtype.startswith(t) for t in _NUMERIC_TYPES)


def collect_guarded(df, max_response_bytes: int, columns=None):
    """Read a result frame's rows (one Spark job, ``collect_rows``) with a
    running byte estimate (reference web/query.go:229–233: estimate while
    iterating, abort past the cap — conservatively an underestimate of the
    JSON size). Python never holds more than the cap: rows past it are
    never unpickled, and the result socket closes on the abort."""
    est = 0
    rows = []
    cols = columns or df.columns
    with closing(collect_rows(df)) as result:
        for row in result:
            vals = [row[c] for c in cols]
            est += row_bytes(vals)
            rows.append(vals)
            if est > max_response_bytes:
                raise ResponseTooLarge(
                    f"estimated query result size exceeded limit of "
                    f"{max_response_bytes} bytes after {len(rows)} rows"
                )
    return rows


def build_query_result(
    plan, sql: str, permalink: str, max_response_bytes: int
) -> dict:
    """Materialize a dialect result frame into the reference's QueryResult
    JSON shape (web/query.go:31–47, 266–380): dims/fields split, per-column
    cardinalities, per-row {TS, Key, Vals}."""
    dtypes = dict(plan.dtypes)
    cols = plan.columns
    ts_col = "_time" if "_time" in cols else None
    dims = [c for c in cols if c != ts_col and not _is_numeric(dtypes[c])]
    fields = [c for c in cols if c != ts_col and _is_numeric(dtypes[c])]
    rows = collect_guarded(plan, max_response_bytes)
    ci = {c: i for i, c in enumerate(cols)}

    def millis(v) -> int:
        if v is None:
            return 0
        if isinstance(v, dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=dt.timezone.utc)
            return int(v.timestamp() * 1000)
        return int(float(v) * 1000)

    ts_set: set = set()
    dim_sets: dict[str, set] = {d: set() for d in dims}
    field_sets: dict[str, set] = {f: set() for f in fields}
    out_rows = []
    for vals in rows:
        ts = millis(vals[ci[ts_col]]) if ts_col else 0
        ts_set.add(ts)
        key = {}
        for d in dims:
            v = vals[ci[d]]
            key[d] = json_value(v)
            dim_sets[d].add(v)
        fvals = []
        for f_ in fields:
            v = vals[ci[f_]]
            fv = float(v) if v is not None else None
            fvals.append(fv)
            field_sets[f_].add(fv)
        out_rows.append({"TS": ts, "Key": key, "Vals": fvals})

    return {
        "SQL": sql,
        "Permalink": permalink,
        "TS": int(time.time() * 1000),
        "TSCardinality": len(ts_set),
        "Fields": fields,
        "FieldCardinalities": [len(field_sets[f_]) for f_ in fields],
        "Dims": dims,
        "DimCardinalities": [len(dim_sets[d]) for d in dims],
        "Rows": out_rows,
        "Stats": None,
    }


# --------------------------------------------------------------------------
# HTTP layer
# --------------------------------------------------------------------------


AUTH_HEADER = "X-Zeno-Auth-Token"  # reference web/auth.go:14

INDEX_HTML = """<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8"><title>zenodb-spark</title></head>
<body><h3>zenodb-spark</h3>
<form onsubmit="run(event)"><textarea id="sql" rows="4" cols="90"
placeholder="SELECT ..."></textarea><br><button>Run</button></form>
<pre id="out"></pre>
<script>
async function run(e) {
  e.preventDefault();
  const sql = document.getElementById('sql').value;
  const r = await fetch('/run?sql=' + encodeURIComponent(sql));
  document.getElementById('out').textContent = await r.text();
}
</script></body></html>
"""


class _Handler(BaseHTTPRequestHandler):
    db: DB  # set on the subclass by serve()
    cache: ResultCache
    runner: QueryRunner
    short_timeout: float
    long_timeout: float
    max_response_bytes: int
    password: str | None = None

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _authenticate(self) -> bool:
        """Static-token auth (reference web/auth.go:35–41: the
        ``X-Zeno-Auth-Token`` header checked before the OAuth fallback).
        The reference's GitHub-OAuth cookie flow needs an external identity
        provider and is intentionally out of scope; with no password set
        the server is open, exactly like an OAuth-unconfigured reference
        deployment (auth.go:29–31)."""
        if not self.password:
            return True
        import hmac as _hmac

        given = self.headers.get(AUTH_HEADER, "")
        if _hmac.compare_digest(given, self.password):
            return True
        self._reply(401, {"error": "not authorized"})
        return False

    def _reply(self, code: int, payload: dict | str, gzipped: bytes | None = None) -> None:
        if gzipped is not None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Expires", "0")
            self.send_header("Cache-control", "no-cache, no-store, must-revalidate")
            self.send_header("Content-Length", str(len(gzipped)))
            self.end_headers()
            self.wfile.write(gzipped)
            return
        body = (
            json.dumps(payload) if isinstance(payload, dict) else payload
        ).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # -- insert (reference web/insert.go:27–72) -----------------------------
    def _handle_insert(self, stream: str) -> None:
        if self.headers.get("Content-Type", "").split(";")[0] != "application/json":
            self._reply(415, {"error": "Content-Type must be application/json"})
            return
        length = int(self.headers.get("Content-Length", "0"))
        raw = self.rfile.read(length).decode()
        decoder = json.JSONDecoder()
        rows, pos = [], 0
        while True:
            while pos < len(raw) and raw[pos].isspace():
                pos += 1
            if pos >= len(raw):
                break
            try:
                point, pos = decoder.raw_decode(raw, pos)
            except json.JSONDecodeError as e:
                self._reply(400, {"error": f"Error decoding JSON: {e}"})
                return
            dims = point.get("dims") or {}
            vals = point.get("vals") or {}
            if not dims:
                self._reply(400, {"error": "Need at least one dim"})
                return
            if not vals:
                self._reply(400, {"error": "Need at least one val"})
                return
            rows.append({"ts": _parse_ts(point.get("ts")), **dims, **vals})
        if rows:
            self.db.insert_rows(stream, rows)
        self._reply(201, {"inserted": len(rows)})

    # -- plain query (kept for embedded callers) ----------------------------
    def _handle_query(self, sql: str) -> None:
        if not sql:
            self._reply(400, {"error": "missing sql"})
            return
        try:
            with memory_guard(f"query {sql[:80]!r}"):
                df = self.db.query(sql)
                cols = df.columns
                raw = collect_guarded(df, self.max_response_bytes, cols)
            rows = [[json_value(v) for v in r] for r in raw]
        except ResponseTooLarge as e:
            self._reply(413, {"error": str(e)})
            return
        except Exception as e:
            self._reply(400, {"error": str(e)})
            return
        self._reply(200, {"columns": cols, "rows": rows})

    # -- dashboard queries (reference web/query.go:57–123) ------------------
    def _sql_from_url(self, url) -> str:
        # the reference passes the SQL as the raw query string
        # (web/query.go:92); also accept ?sql=… for symmetry with /query
        qs = parse_qs(url.query)
        if "sql" in qs:
            return qs["sql"][0]
        return unquote(url.query).strip()

    def _handle_dashboard(self, url, timeout: float, immediate: bool) -> None:
        sql = self._sql_from_url(url)
        if not sql:
            self._reply(400, {"error": "missing sql"})
            return
        if self.headers.get("Cache-control") == "no-cache":
            ce = self.cache.begin(sql)
            created = True
        else:
            ce, created = self.cache.get_or_begin(sql)
        if created:
            self.runner.submit(sql, immediate, ce)
        self._respond_with_entry(ce, timeout)

    def _respond_with_entry(self, ce: CacheEntry, timeout: float) -> None:
        if ce.done.wait(timeout):
            if ce.status == STATUS_SUCCESS:
                self._reply(200, "", gzipped=ce.data)
            else:
                self._reply(500, ce.error or "query failed")
            return
        # still working on it (reference web/query.go:120–123)
        self.send_response(202)
        body = f"/cached/{ce.permalink}".encode()
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _handle_cached(self, permalink: str) -> None:
        ce = self.cache.by_permalink(permalink)
        if ce is None:
            self._reply(404, {"error": f"unknown permalink {permalink}"})
            return
        self._respond_with_entry(ce, self.short_timeout)

    # -- metrics (reference web/metrics.go, table.go:569–601) ---------------
    def _handle_metrics(self, with_cardinalities: bool = False) -> None:
        tables = {}
        for name in sorted(self.db.tables):
            try:
                tables[name] = self.db.table_stats(
                    name, dim_cardinalities=with_cardinalities
                )
            except Exception as e:
                tables[name] = {"error": str(e)}
        streams = []
        for s in list(self.db.streams):
            try:
                streams.append(s.progress())
            except Exception:
                streams.append({"active": True})
        self._reply(
            200, {"tables": tables, "streams": streams, "engine": self.db.cache_stats()}
        )

    # -- routing ------------------------------------------------------------
    def do_POST(self) -> None:
        if not self._authenticate():
            return
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if len(parts) == 2 and parts[0] == "insert":
            self._handle_insert(parts[1])
        elif parts == ["query"]:
            qs = parse_qs(url.query)
            sql = qs.get("sql", [None])[0]
            if sql is None:
                length = int(self.headers.get("Content-Length", "0"))
                sql = self.rfile.read(length).decode().strip()
            self._handle_query(sql)
        else:
            self._reply(404, {"error": f"no route {url.path}"})

    def do_GET(self) -> None:
        if not self._authenticate():
            return
        url = urlparse(self.path)
        path = url.path.rstrip("/")
        parts = [p for p in path.split("/") if p]
        if path == "":
            body = INDEX_HTML.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif path == "/query":
            qs = parse_qs(url.query)
            self._handle_query(qs.get("sql", [""])[0])
        elif path == "/run":
            self._handle_dashboard(url, self.long_timeout, immediate=False)
        elif path == "/async":
            self._handle_dashboard(url, self.short_timeout, immediate=False)
        elif path == "/immediate":
            self._handle_dashboard(url, self.short_timeout, immediate=True)
        elif len(parts) == 2 and parts[0] == "cached":
            self._handle_cached(parts[1])
        elif path == "/metrics":
            qs = parse_qs(url.query)
            self._handle_metrics(
                with_cardinalities=qs.get("cardinalities", ["0"])[0]
                in ("1", "true")
            )
        else:
            self._reply(404, {"error": f"no route {url.path}"})


def serve(
    db: DB,
    host: str = "127.0.0.1",
    port: int = 0,
    cache_dir: str | None = None,
    cache_ttl: float = DEFAULT_CACHE_TTL,
    coalesce_window: float = DEFAULT_COALESCE_WINDOW,
    short_timeout: float = DEFAULT_SHORT_TIMEOUT,
    long_timeout: float = 3600.0,
    max_response_bytes: int = DEFAULT_MAX_RESPONSE_BYTES,
    password: str | None = None,
):
    """Start the HTTP layer on a daemon thread; returns the server (its
    ``.server_address`` carries the bound port; call ``.shutdown()`` to
    stop — the attached ``.runner`` and ``.cache`` are exposed for
    embedding/tests)."""
    if cache_dir is None and db.workdir:
        cache_dir = os.path.join(db.workdir, "webcache")
    cache = ResultCache(ttl=cache_ttl, cache_dir=cache_dir)
    runner = QueryRunner(
        db, cache, coalesce_window=coalesce_window,
        max_response_bytes=max_response_bytes,
    )
    handler = type(
        "BoundHandler",
        (_Handler,),
        {
            "db": db,
            "cache": cache,
            "runner": runner,
            "short_timeout": short_timeout,
            "long_timeout": long_timeout,
            "max_response_bytes": max_response_bytes,
            "password": password,
        },
    )
    srv = ThreadingHTTPServer((host, port), handler)
    srv.cache = cache
    srv.runner = runner
    orig_shutdown = srv.shutdown

    def shutdown():
        runner.stop()
        orig_shutdown()

    srv.shutdown = shutdown
    threading.Thread(target=srv.serve_forever, name="zenodb-web", daemon=True).start()
    return srv
