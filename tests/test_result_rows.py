"""Result rows held beside the plan cache: a plan-cache entry's complete
result rows are kept after its first full read (``engine.collect_rows``)
and serve every later read of the same text with no Spark job, until the
next table-state mutation clears them. Pins: the second read over
``/query``, ``/immediate`` and RPC runs no job; every mutation site makes
the next read see the new state; now- and rand-dependent statements never
keep rows; a read cut short keeps nothing; held rows still pass the
response-size guard; the plan cache evicts least recently used entries;
and the held total stays under ``RESULT_ROWS_MAX_BYTES``."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import socket
import threading
import urllib.error
import urllib.parse
import urllib.request
import uuid
from contextlib import closing

import pytest

from zenodb_spark import engine, rpc, web
from zenodb_spark.engine import DB, collect_rows
from zenodb_spark.sqlparser.parser import parse

E = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc).timestamp()
SCHEMA = {"rr": {"sql": "SELECT n FROM rrs GROUP BY site, period('10s')"}}
SQL = "SELECT n FROM rr GROUP BY site"


def points(lo: int, hi: int, sites: int = 3) -> list[dict]:
    """One point every 10 s (one per table bucket), sites in turn."""
    return [
        {"ts": dt.datetime.fromtimestamp(E + 10 * i, dt.timezone.utc),
         "site": f"s{i % sites}", "n": float(i + 1)}
        for i in range(lo, hi)
    ]


def new_db(spark, schema=SCHEMA) -> DB:
    db = DB(spark, now=E + 1000)
    db.apply_schema(schema)
    db.insert_rows("rrs", points(0, 6))
    return db


def read(db: DB, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in collect_rows(db.query(sql)))


def replanned(db: DB, sql: str) -> list[tuple]:
    """The rows of ``sql`` from a new plan, bypassing both caches."""
    return sorted(tuple(r) for r in db.plan(parse(sql)).collect())


def _get(url: str, headers: dict | None = None):
    req = urllib.request.Request(url, headers=headers or {})
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            if resp.headers.get("Content-Encoding") == "gzip":
                raw = gzip.decompress(raw)
            return resp.status, raw
    except urllib.error.HTTPError as e:
        return e.code, e.read()


@pytest.fixture(scope="module")
def served(spark):
    """One DB without retention (so its plans are cacheable) behind HTTP
    and RPC."""
    db = new_db(spark)
    srv = web.serve(db, coalesce_window=0.1, short_timeout=15.0)
    rsrv = rpc.serve_rpc(db)
    base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    yield db, srv, base, rsrv
    rsrv.shutdown()
    srv.shutdown()


@pytest.fixture
def server_jobs(spark, monkeypatch):
    """Run every request a server thread handles under one job group;
    returns a function listing the group's Spark job ids so far."""
    sc = spark.sparkContext
    gid = f"result-rows-{uuid.uuid4().hex}"

    def grouped(orig):
        def run(*a, **kw):
            sc.setJobGroup(gid, "server-side query")
            try:
                return orig(*a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return run

    for owner, attr in (
        (web._Handler, "_handle_query"),
        (web.QueryRunner, "_run_batch"),
        (rpc._RPCHandler, "_handle_query"),
    ):
        monkeypatch.setattr(owner, attr, grouped(getattr(owner, attr)))

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job status arrives asynchronously
        return list(sc.statusTracker().getJobIdsForGroup(gid))

    return jobs


def _via_query(base, rsrv, sql):
    status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(sql))
    assert status == 200, raw
    return json.loads(raw)["rows"]


def _via_immediate(base, rsrv, sql):
    status, raw = _get(
        f"{base}/immediate?" + urllib.parse.quote(sql), headers={"Cache-control": "no-cache"}
    )
    assert status == 200, raw
    return [[r["TS"], r["Key"], r["Vals"]] for r in json.loads(raw)["Rows"]]


def _via_rpc(base, rsrv, sql):
    fields, rows = rpc.Client(*rsrv.server_address).query(sql)
    return list(rows)


@pytest.mark.parametrize(
    "channel, limit",
    [(_via_query, 11), (_via_immediate, 12), (_via_rpc, 13)],
    ids=["query", "immediate", "rpc"],
)
def test_second_read_runs_no_spark_job(served, server_jobs, channel, limit):
    db, srv, base, rsrv = served
    sql = f"{SQL} LIMIT {limit}"  # a text of its own per channel
    first = channel(base, rsrv, sql)
    after_first = server_jobs()
    assert after_first, "the first read must run a Spark job"
    assert sql in db._result_rows
    second = channel(base, rsrv, sql)
    assert second == first and len(first) == 6
    assert server_jobs() == after_first, "a held result must run no Spark job"


def test_metrics_report_the_engine_caches(served):
    db, srv, base, rsrv = served
    sql = f"{SQL} LIMIT 21"

    def engine_block():
        status, raw = _get(f"{base}/metrics")
        assert status == 200
        return json.loads(raw)["engine"]

    m0 = engine_block()
    _via_query(base, rsrv, sql)
    _via_query(base, rsrv, sql)
    m1 = engine_block()
    assert m1["plan_cache_misses"] == m0["plan_cache_misses"] + 1
    assert m1["plan_cache_hits"] == m0["plan_cache_hits"] + 1
    assert m1["result_hits"] == m0["result_hits"] + 1
    assert m1["plan_entries"] >= 1 and m1["result_entries"] >= 1
    assert m1["result_bytes"] == sum(n for _, n in db._result_rows.values()) > 0
    assert m1 == db.cache_stats()


def test_held_result_still_refused_by_a_smaller_cap(served, server_jobs):
    """Rows held from an earlier read pass the same response-size guard:
    a server with a smaller ``max_response_bytes`` answers 413, without a
    Spark job."""
    db, srv, base, rsrv = served
    sql = f"{SQL} LIMIT 31"
    list(collect_rows(db.query(sql)))
    assert sql in db._result_rows
    handler = srv.RequestHandlerClass
    old = handler.max_response_bytes
    handler.max_response_bytes = 10
    try:
        status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(sql))
    finally:
        handler.max_response_bytes = old
    assert status == 413 and b"exceeded limit" in raw
    assert server_jobs() == []


def test_guard_abort_keeps_nothing(served):
    db, srv, base, rsrv = served
    sql = f"{SQL} LIMIT 41"
    handler = srv.RequestHandlerClass
    old = handler.max_response_bytes
    handler.max_response_bytes = 10
    try:
        status, _ = _get(f"{base}/query?sql=" + urllib.parse.quote(sql))
    finally:
        handler.max_response_bytes = old
    assert status == 413
    assert sql in db._plan_cache and sql not in db._result_rows
    assert len(_via_query(base, rsrv, sql)) == 6
    assert sql in db._result_rows


def test_rpc_client_disconnect_keeps_nothing(spark, monkeypatch):
    """A client that closes its socket before the result arrives cuts the
    server's read short (the row sends fail); nothing is kept."""
    db = DB(spark, now=E + 1000)
    db.apply_schema(SCHEMA)
    db.insert_rows("rrs", points(0, 3000, sites=3000))
    sql = SQL
    done, failures = threading.Event(), []
    orig = rpc._RPCHandler._handle_query

    def watched(self, sock, msg):
        try:
            orig(self, sock, msg)
        except OSError as e:
            failures.append(e)
            raise
        finally:
            done.set()

    monkeypatch.setattr(rpc._RPCHandler, "_handle_query", watched)
    rsrv = rpc.serve_rpc(db)
    try:
        with closing(socket.create_connection(rsrv.server_address)) as sock:
            rpc._send(sock, {"type": "query", "sql": sql})
        assert done.wait(120)
    finally:
        rsrv.shutdown()
    assert failures, "the server's row sends must fail after the client left"
    assert sql in db._plan_cache and sql not in db._result_rows


def test_mutation_during_read_keeps_nothing(spark):
    db = new_db(spark)
    rows = collect_rows(db.query(SQL))
    first = next(rows)  # the Spark job has run
    db.insert_rows("rrs", points(6, 8))
    rest = list(rows)
    assert len([first, *rest]) == 6, "the read finishes on the state it planned"
    assert not db._result_rows
    assert read(db, SQL) == replanned(db, SQL) and len(replanned(db, SQL)) == 8


def _insert(db):
    db.insert_rows("rrs", points(6, 9))


def _compact(db):
    db.tables["rr"].compact()


def _schema_change(db):
    db.apply_schema({"rr": {"sql": "SELECT n, MAX(n) AS mx FROM rrs GROUP BY site, period('10s')"}})


def _filter_and_merge(db):
    from zenodb_spark.sources.maintenance import filter_and_merge

    filter_and_merge(db.tables["rr"], asof_epoch=int(E) + 20)


def _stream_fold(db):
    from zenodb_spark.streaming.ingest import ingest_stream_batch

    batch = db.spark.createDataFrame(points(6, 8))
    ingest_stream_batch(db, db.tables["rr"], "rr", batch, batch_id=0)


@pytest.mark.parametrize(
    "mutate",
    [_insert, _compact, _schema_change, _filter_and_merge, _stream_fold],
    ids=["insert", "compact", "schema_change", "filter_and_merge", "stream_fold"],
)
def test_mutation_clears_held_rows(spark, mutate):
    db = new_db(spark)
    db.insert_rows("rrs", points(0, 2))  # a second part, so compact folds
    sql = "SELECT * FROM rr GROUP BY site"
    before = read(db, sql)
    assert read(db, sql) == before and db.cache_stats()["result_hits"] == 1
    mutate(db)
    assert not db._result_rows and not db._plan_cache
    after = read(db, sql)
    assert after == replanned(db, sql)
    if mutate is _compact:
        assert after == before
    else:
        assert after != before


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT n FROM rr ASOF '-1000w' GROUP BY site",
        "SELECT n FROM rr ASOF '2014-01-01T00:00:00Z' UNTIL '1h' GROUP BY site",
        "SELECT n FROM rr WHERE RAND() < 2 GROUP BY site",
        "SELECT n FROM rk GROUP BY site",
    ],
    ids=["relative_asof", "relative_until", "rand", "retention"],
)
def test_time_dependent_statements_keep_no_rows(spark, sql):
    db = new_db(spark, {**SCHEMA, "rk": {**SCHEMA["rr"], "retentionperiod": "520w"}})
    db.insert_rows("rrs", points(6, 8))
    first = read(db, sql)
    assert read(db, sql) == first and first
    assert not db._result_rows and db.cache_stats()["result_hits"] == 0


def test_held_rows_stay_under_the_byte_cap(spark, monkeypatch):
    """Each one-site result is 2 rows of 18 estimated bytes (timestamp 8,
    site 2, n 8); under a 100-byte cap the two most recent results stay
    held, and a result larger than the cap is not kept at all."""
    monkeypatch.setattr(engine, "RESULT_ROWS_MAX_BYTES", 100)
    db = new_db(spark)
    texts = [f"SELECT n FROM rr WHERE site = 's{k}' GROUP BY site" for k in range(3)]
    for sql in texts:
        assert len(read(db, sql)) == 2
        assert db.cache_stats()["result_bytes"] <= 100
    assert sorted(db._result_rows) == sorted(texts[1:])
    assert db.cache_stats()["result_bytes"] == 72
    big = "SELECT n FROM rr GROUP BY site, period('10s')"  # 6 rows, 108 bytes
    assert len(read(db, big)) == 6
    assert big not in db._result_rows and db.cache_stats()["result_bytes"] == 72


def test_hot_plan_survives_fresh_texts(spark):
    """The plan cache evicts the least recently USED entry: a text read
    between 64 fresh texts keeps its plan, though it was stored first."""
    db = new_db(spark)
    hot = SQL
    plan = db.query(hot)
    for k in range(db._PLAN_CACHE_MAX):
        db.query(f"{SQL} LIMIT {k + 1}")
        assert db.query(hot) is plan
    assert len(db._plan_cache) == db._PLAN_CACHE_MAX
    assert db._plan_cache[hot] is plan


def test_held_rows_bounded_by_entry_count(spark):
    db = new_db(spark)
    for k in range(db._PLAN_CACHE_MAX + 2):
        read(db, f"{SQL} LIMIT {k + 1}")
    assert len(db._plan_cache) == db._PLAN_CACHE_MAX
    assert len(db._result_rows) == db._PLAN_CACHE_MAX
    assert set(db._result_rows) <= set(db._plan_cache)


def test_concurrent_reads_and_mutations_keep_the_cache_consistent(spark, monkeypatch):
    """Eight threads (more than the cores) plan, read, keep rows and
    invalidate at a shortened switch interval. Planning is stubbed, so
    each plan is a distinct object whose held rows name it: no read may
    ever be served rows kept for another plan, no counter update may be
    lost, and the bounds hold throughout."""
    import random
    import sys

    class Plan:
        pass

    db = DB(spark)
    monkeypatch.setattr(db, "plan", lambda q: Plan())
    texts = [f"SELECT n FROM rr GROUP BY site LIMIT {k + 1}" for k in range(80)]
    n_threads, n_ops = 8, 1500
    queries, wrong, errors = [0] * n_threads, [], []

    def work(i: int) -> None:
        try:
            ops(i)
        except Exception as e:  # re-raised in the test thread below
            errors.append(e)

    def ops(i: int) -> None:
        rng = random.Random(i)
        for _ in range(n_ops):
            sql = rng.choice(texts)
            plan = db.query(sql)
            queries[i] += 1
            held = db._held_rows(sql, plan)
            if held is None:
                db._keep_rows(sql, plan, [plan], 8)
            elif held != [plan]:
                wrong.append(sql)
            if rng.random() < 0.01:
                db._invalidate_plans()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and not wrong, (errors[:3], wrong[:3])
    stats = db.cache_stats()
    assert stats["plan_cache_hits"] + stats["plan_cache_misses"] == sum(queries)
    assert stats["result_hits"] > 0
    assert len(db._plan_cache) <= db._PLAN_CACHE_MAX
    assert set(db._result_rows) <= set(db._plan_cache)
    for sql, (rows, _) in db._result_rows.items():
        assert rows == [db._plan_cache[sql]]
