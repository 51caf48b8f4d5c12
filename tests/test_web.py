"""HTTP insert/query endpoint tests (reference web/insert.go + web/query.go:
POST JSON points to a stream, query them back over HTTP)."""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

import pytest

from zenodb_spark.engine import DB
from zenodb_spark.web import serve

EPOCH = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
E = EPOCH.timestamp()


@pytest.fixture(scope="module")
def server(spark):
    db = DB(spark, now=E + 100)
    db.apply_schema(
        {
            "hits": {
                "retentionperiod": "1h",
                "sql": "SELECT n FROM clicks GROUP BY site, period('10s')",
            }
        }
    )
    srv = serve(db)
    yield f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    srv.shutdown()


def _post(url: str, body: bytes, ctype: str = "application/json"):
    req = urllib.request.Request(url, data=body, headers={"Content-Type": ctype})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_insert_then_query(server):
    points = "".join(
        json.dumps({"ts": E + i, "dims": {"site": "a"}, "vals": {"n": 2.0}})
        for i in range(3)
    )
    status, body = _post(f"{server}/insert/clicks", points.encode())
    assert status == 201 and body["inserted"] == 3

    with urllib.request.urlopen(
        f"{server}/query?sql=" + urllib.parse.quote("SELECT n FROM hits GROUP BY site, period('100s')")
    ) as resp:
        out = json.loads(resp.read())
    assert out["columns"] == ["_time", "site", "n"]
    assert len(out["rows"]) == 1
    assert out["rows"][0][1] == "a" and out["rows"][0][2] == 6.0


def test_insert_validation(server):
    bad = json.dumps({"ts": E, "vals": {"n": 1.0}})  # no dims
    status, body = _post(f"{server}/insert/clicks", bad.encode())
    assert status == 400 and "dim" in body["error"]

    status, body = _post(f"{server}/insert/clicks", b"{}", ctype="text/plain")
    assert status == 415

    status, body = _post(f"{server}/insert/clicks", b"{not json")
    assert status == 400


def test_query_error_and_post_body(server):
    status, body = _post(f"{server}/query", b"SELECT n FROM nope GROUP BY site")
    assert status == 400 and "nope" in body["error"]

    status, body = _post(
        f"{server}/query", b"SELECT n FROM hits GROUP BY _, period('100s')"
    )
    assert status == 200
    assert body["rows"][0][-1] == 6.0

# --------------------------------------------------------------------------
# dashboard query layer (reference web/handler.go:117-124, web/query.go,
# web/cache.go): /run /async /immediate /cached/{permalink} + gzip cache +
# cardinalities + size guard + coalescing, /metrics
# --------------------------------------------------------------------------

import gzip
import time
import urllib.parse


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
def dash(spark, tmp_path_factory):
    db = DB(spark, now=E + 100)
    db.apply_schema(
        {
            "hits2": {
                "retentionperiod": "1h",
                "sql": "SELECT n FROM clicks2 GROUP BY site, period('10s')",
            }
        }
    )
    import zenodb_spark.queries  # noqa: F401  (spark warm)

    rows = [
        {"ts": dt.datetime.fromtimestamp(E + i, dt.timezone.utc), "site": f"s{i % 7}", "n": float(i % 3 + 1)}
        for i in range(50)
    ]
    db.insert_rows("clicks2", rows)
    from zenodb_spark.web import serve

    srv = serve(
        db,
        cache_dir=str(tmp_path_factory.mktemp("webcache")),
        coalesce_window=0.3,
        short_timeout=15.0,
        max_response_bytes=256 * 1024,
    )
    yield srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}", db
    srv.shutdown()


SQL1 = "SELECT n FROM hits2 GROUP BY site, period('100s')"


def test_run_returns_gzipped_query_result(dash):
    srv, base, db = dash
    status, raw = _get(f"{base}/run?" + urllib.parse.quote(SQL1))
    assert status == 200
    out = json.loads(raw)
    assert out["SQL"] == SQL1
    assert out["Permalink"]
    assert out["Dims"] == ["site"]
    assert out["Fields"] == ["n"]
    assert len(out["Rows"]) == 7  # 7 sites, one 100s bucket
    # cardinalities over the response rows: 7 distinct sites, 1 bucket
    assert out["DimCardinalities"] == [7]
    assert out["TSCardinality"] == 1
    assert 1 <= out["FieldCardinalities"][0] <= 7
    row = out["Rows"][0]
    assert set(row) == {"TS", "Key", "Vals"}
    assert row["Key"]["site"].startswith("s")


def test_async_then_cached_permalink_roundtrip(dash):
    srv, base, db = dash
    sql = SQL1 + " ORDER BY site"
    status, raw = _get(f"{base}/async?" + urllib.parse.quote(sql))
    assert status == 200  # completes within short_timeout
    out = json.loads(raw)
    pl = out["Permalink"]
    # identical rows via the permalink, straight from the gzip cache
    status2, raw2 = _get(f"{base}/cached/{pl}")
    assert status2 == 200
    assert json.loads(raw2)["Rows"] == out["Rows"]
    # unknown permalink → 404
    status3, _ = _get(f"{base}/cached/deadbeef")
    assert status3 == 404


def test_identical_sql_reuses_cache_entry(dash):
    srv, base, db = dash
    sql = SQL1 + " ORDER BY site DESC"
    _, raw1 = _get(f"{base}/run?" + urllib.parse.quote(sql))
    _, raw2 = _get(f"{base}/run?" + urllib.parse.quote(sql))
    p1, p2 = json.loads(raw1)["Permalink"], json.loads(raw2)["Permalink"]
    assert p1 == p2  # served from cache, same permalink
    # no-cache forces a fresh run under a NEW permalink
    _, raw3 = _get(
        f"{base}/run?" + urllib.parse.quote(sql),
        headers={"Cache-control": "no-cache"},
    )
    assert json.loads(raw3)["Permalink"] != p1


def test_concurrent_queries_coalesce_into_one_batch(dash):
    import threading

    srv, base, db = dash
    runner = srv.runner
    before = len(runner.batches)
    sqls = [
        SQL1 + f" HAVING n > {i}"  # distinct SQL, same FROM table
        for i in range(4)
    ]
    results = {}

    def fire(s):
        results[s] = _get(f"{base}/run?" + urllib.parse.quote(s))

    threads = [threading.Thread(target=fire, args=(s,)) for s in sqls]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(code == 200 for code, _ in results.values())
    new_batches = runner.batches[before:]
    # 4 concurrent same-table queries must NOT run as 4 single-query
    # batches: the coalescing window folds them into fewer query_many
    # calls, at least one carrying multiple queries
    assert sum(new_batches) >= 4
    assert max(new_batches) >= 2, new_batches


def test_immediate_skips_coalescing_window(dash):
    srv, base, db = dash
    t0 = time.time()
    status, _ = _get(f"{base}/immediate?" + urllib.parse.quote(SQL1 + " LIMIT 3"))
    assert status == 200
    # window is 0.3s; immediate path shouldn't wait for it plus padding
    assert time.time() - t0 < 10.0


def test_response_size_guard_fails_loudly(dash):
    srv, base, db = dash
    # tighten the guard so the 7-row result trips it
    old = srv.runner.max_response_bytes
    srv.runner.max_response_bytes = 10
    try:
        status, raw = _get(
            f"{base}/run?" + urllib.parse.quote(SQL1 + " HAVING n >= 0"),
            headers={"Cache-control": "no-cache"},
        )
        assert status == 500
        assert b"exceeded limit" in raw
    finally:
        srv.runner.max_response_bytes = old


def test_plain_query_size_guard_413(dash):
    srv, base, db = dash
    # the /query path's guard is a handler attribute
    handler_cls = type(srv.RequestHandlerClass) if False else srv.RequestHandlerClass
    old = handler_cls.max_response_bytes
    handler_cls.max_response_bytes = 10
    try:
        status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(SQL1))
        assert status == 413
    finally:
        handler_cls.max_response_bytes = old


def test_plain_query_memory_guard(dash, monkeypatch):
    """A JVM out-of-memory failure while /query collects comes back as the
    EngineOutOfMemory text, as on the dashboard and RPC surfaces."""
    from zenodb_spark import web

    srv, base, db = dash

    def oom(*args, **kwargs):
        raise RuntimeError("An error occurred: java.lang.OutOfMemoryError: Java heap space")

    monkeypatch.setattr(web, "collect_guarded", oom)
    status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(SQL1))
    assert status == 400
    assert "aborted under memory pressure" in json.loads(raw)["error"]


def test_runner_batches_stay_bounded():
    """QueryRunner.batches keeps only the most recent BATCH_HISTORY batch
    sizes, however many batches run."""
    from types import SimpleNamespace

    from zenodb_spark import web

    class NoPlans:
        def query_many(self, sqls):
            return []

    runner = web.QueryRunner(NoPlans(), web.ResultCache())
    try:
        q = SimpleNamespace(sql="SELECT n FROM t")
        sizes = [i % 5 + 1 for i in range(web.BATCH_HISTORY + 50)]
        for k in sizes:
            runner._run_batch([q] * k)
        assert runner.batches == sizes[-web.BATCH_HISTORY:]
    finally:
        runner.stop()


def test_permalink_survives_restart(dash, spark):
    srv, base, db = dash
    sql = SQL1 + " HAVING n < 99"
    _, raw = _get(f"{base}/run?" + urllib.parse.quote(sql))
    pl = json.loads(raw)["Permalink"]
    srv2 = None
    from zenodb_spark.web import serve

    try:
        srv2 = serve(db, cache_dir=srv.cache.cache_dir, coalesce_window=0.1)
        base2 = f"http://{srv2.server_address[0]}:{srv2.server_address[1]}"
        status, raw2 = _get(f"{base2}/cached/{pl}")
        assert status == 200
        assert json.loads(raw2)["Rows"] == json.loads(raw)["Rows"]
    finally:
        if srv2 is not None:
            srv2.shutdown()


def test_metrics_endpoint_reports_freshness(dash):
    srv, base, db = dash
    status, raw = _get(f"{base}/metrics")
    assert status == 200
    m = json.loads(raw)
    assert "hits2" in m["tables"]
    st = m["tables"]["hits2"]
    assert st["rows"] > 0
    hw1 = st["high_water"]
    # ingest a fresher point; high-water mark must advance
    db.insert_rows(
        "clicks2",
        [{"ts": dt.datetime.fromtimestamp(E + 90, dt.timezone.utc), "site": "zz", "n": 1.0}],
    )
    status, raw = _get(f"{base}/metrics")
    hw2 = json.loads(raw)["tables"]["hits2"]["high_water"]
    assert hw2 >= hw1
    assert hw2 >= E + 80  # bucketed to 10s resolution


def test_metrics_cardinality_panel_kmv(dash):
    """?cardinalities=1 adds per-dim KMV distinct estimates to each table's
    stats (exact below k — the dash fixture's dims are tiny) and the plain
    /metrics response stays free of the extra pass."""
    srv, base, db = dash
    status, raw = _get(f"{base}/metrics?cardinalities=1")
    assert status == 200
    st = json.loads(raw)["tables"]["hits2"]
    card = st["dim_cardinalities"]
    exact = {
        r["site"]
        for r in db.query("SELECT n FROM hits2 GROUP BY site").collect()
    }
    assert card["site"] == float(len(exact))  # coupon mode: exact
    status, raw = _get(f"{base}/metrics")
    assert "dim_cardinalities" not in json.loads(raw)["tables"]["hits2"]


def test_cache_purges_expired_entries(tmp_path):
    from zenodb_spark.web import STATUS_SUCCESS, ResultCache

    rc = ResultCache(ttl=0.01, cache_dir=str(tmp_path))
    ce = rc.begin("SELECT 1")
    rc.succeed(ce, b"payload")
    assert rc.by_permalink(ce.permalink) is not None or ce.expired()
    time.sleep(0.05)
    rc._last_purge = 0.0  # force the amortized purge window open
    ce2 = rc.begin("SELECT 2")
    assert ce.permalink not in rc._by_permalink
    assert rc._by_sql.get("SELECT 1") is None
    assert not (tmp_path / f"{ce.permalink}.gz").exists()
    # live entries survive the purge
    rc.succeed(ce2, b"p2")
    assert ce2.permalink in rc._by_permalink


def test_static_token_auth_and_index(dash):
    # reuse the dash fixture's db but start a NEW guarded server
    from zenodb_spark import web as W

    srv, base, db = dash
    srv2 = W.serve(db, password="s3cret")
    try:
        port = srv2.server_address[1]
        b2 = f"http://127.0.0.1:{port}"
        # no token -> 401 on every route
        for path in ("/", "/query?sql=SELECT+1", "/metrics"):
            req = urllib.request.Request(b2 + path)
            try:
                urllib.request.urlopen(req)
                raise AssertionError("expected 401")
            except urllib.error.HTTPError as e:
                assert e.code == 401
        # with token -> index served as html
        req = urllib.request.Request(b2 + "/", headers={"X-Zeno-Auth-Token": "s3cret"})
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert "text/html" in r.headers["Content-Type"]
            assert b"zenodb-spark" in r.read()
        # unguarded server still serves the index openly
        with urllib.request.urlopen(base + "/") as r:
            assert r.status == 200
    finally:
        srv2.shutdown()


# --------------------------------------------------------------------------
# result delivery: one Spark job per result, event-woken waits, RPC parity
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def plain(spark):
    """A store without retention, so its plans are cacheable, served over
    HTTP and RPC from one DB. Ten sites with distinct sums in one 100s
    bucket."""
    from zenodb_spark.rpc import Client, serve_rpc
    from zenodb_spark.web import serve

    db = DB(spark, now=E + 100)
    db.apply_schema({"hits4": {"sql": "SELECT n FROM clicks4 GROUP BY site, period('10s')"}})
    db.insert_rows(
        "clicks4",
        [
            {"ts": dt.datetime.fromtimestamp(E + i, dt.timezone.utc), "site": f"s{i % 10}", "n": float(i)}
            for i in range(60)
        ],
    )
    srv = serve(db, coalesce_window=0.1, short_timeout=15.0)
    rsrv = serve_rpc(db)
    yield srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}", db, Client(*rsrv.server_address)
    rsrv.shutdown()
    srv.shutdown()


SQL4 = "SELECT n FROM hits4 GROUP BY site, period('100s')"


def test_cached_plan_result_is_one_spark_job(plain, spark):
    """A cached plan's result costs exactly one Spark job. Spark's
    partition-at-a-time local iterator ran one job per partition: two for
    this UNION ALL."""
    from zenodb_spark import web

    srv, base, db, client = plain
    sql = (
        "SELECT n FROM hits4 WHERE site = 's1' GROUP BY site, period('100s') UNION ALL "
        "SELECT n FROM hits4 WHERE site = 's2' GROUP BY site, period('100s')"
    )
    df = db.query(sql)
    assert db.query(sql) is df, "the statement must be a plan-cache hit"
    expected = sorted(tuple(r) for r in df.collect())  # runs the shuffles once
    sc = spark.sparkContext
    sc.setJobGroup("one-job-per-result", "collect_guarded on a cached plan")
    try:
        rows = web.collect_guarded(df, 1 << 20)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job status arrives asynchronously
    jobs = list(sc.statusTracker().getJobIdsForGroup("one-job-per-result"))
    assert sorted(tuple(r) for r in rows) == expected and len(expected) == 2
    assert len(jobs) == 1, jobs


def test_collect_rows_early_close_then_next_query(spark):
    """A reader that stops after one row closes the result socket while the
    JVM is still writing; the next collect on the session is unaffected."""
    from contextlib import closing

    from zenodb_spark.engine import collect_rows

    with closing(collect_rows(spark.range(300_000).toDF("x"))) as rows:
        assert next(rows)["x"] == 0
    assert sum(1 for _ in collect_rows(spark.range(50_000))) == 50_000


def test_next_query_after_aborted_oversize_response(plain):
    srv, base, db, client = plain
    handler = srv.RequestHandlerClass
    old_query, old_runner = handler.max_response_bytes, srv.runner.max_response_bytes
    handler.max_response_bytes = srv.runner.max_response_bytes = 10
    try:
        status, _ = _get(f"{base}/query?sql=" + urllib.parse.quote(SQL4))
        assert status == 413
        status, raw = _get(
            f"{base}/run?" + urllib.parse.quote(SQL4), headers={"Cache-control": "no-cache"}
        )
        assert status == 500 and b"exceeded limit" in raw
    finally:
        handler.max_response_bytes, srv.runner.max_response_bytes = old_query, old_runner
    status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(SQL4))
    assert status == 200 and len(json.loads(raw)["rows"]) == 10
    status, raw = _get(
        f"{base}/run?" + urllib.parse.quote(SQL4), headers={"Cache-control": "no-cache"}
    )
    assert status == 200 and len(json.loads(raw)["Rows"]) == 10


def test_rpc_rows_equal_query_rows_in_order(plain):
    srv, base, db, client = plain
    sql = SQL4 + " ORDER BY n DESC LIMIT 5"
    status, raw = _get(f"{base}/query?sql=" + urllib.parse.quote(sql))
    assert status == 200
    out = json.loads(raw)
    fields, rows = client.query(sql)
    assert fields == out["columns"]
    assert list(rows) == out["rows"]
    assert len(out["rows"]) == 5
    n = [r[out["columns"].index("n")] for r in out["rows"]]
    assert n == sorted(n, reverse=True)


def test_immediate_answers_without_polling(plain, monkeypatch):
    """/immediate wakes on its entry's event when the result is ready; it
    never sleeps in steps. Only ``web``'s reference to ``time`` is
    replaced: other threads (Py4J's finalizer) sleep through the real
    module."""
    import types

    from zenodb_spark import web

    srv, base, db, client = plain

    def no_sleep(*_):
        raise AssertionError("a pending request must not poll")

    web_time = types.ModuleType("time")
    web_time.__dict__.update(vars(time))
    web_time.sleep = no_sleep
    monkeypatch.setattr(web, "time", web_time)
    status, raw = _get(f"{base}/immediate?" + urllib.parse.quote(SQL4 + " HAVING n > 1"))
    assert status == 200
    assert len(json.loads(raw)["Rows"]) == 10


def test_pending_entry_gets_202_after_short_timeout(plain):
    srv, base, db, client = plain
    ce = srv.cache.begin("SELECT n FROM hits4 GROUP BY site")  # never submitted
    handler = srv.RequestHandlerClass
    old = handler.short_timeout
    handler.short_timeout = 0.3
    try:
        t0 = time.time()
        status, raw = _get(f"{base}/cached/{ce.permalink}")
        waited = time.time() - t0
    finally:
        handler.short_timeout = old
    assert status == 202
    assert raw == f"/cached/{ce.permalink}".encode()
    assert waited >= 0.3


def test_result_cache_evicts_lru_finished_under_byte_cap(plain, tmp_path, monkeypatch):
    """Finished payloads stay under RESULT_CACHE_MAX_BYTES: the least
    recently used finished entries go, from both maps and from disk; a
    pending entry is never evicted; an evicted permalink answers 404."""
    from zenodb_spark import web

    monkeypatch.setattr(web, "RESULT_CACHE_MAX_BYTES", 100)
    rc = web.ResultCache(cache_dir=str(tmp_path))
    pending = rc.begin("SELECT pending")
    done = []
    for i in range(5):
        ce = rc.begin(f"SELECT {i}")
        rc.succeed(ce, bytes(40))
        done.append(ce)
        assert rc.by_permalink(done[0].permalink) is done[0]  # keep 0 recent
    held = [ce for ce in rc._by_permalink.values() if ce.data]
    assert sum(len(ce.data) for ce in held) <= 100
    assert held == [done[4], done[0]]  # least recently used first
    assert rc._by_permalink[pending.permalink] is pending
    assert rc._by_sql["SELECT pending"] is pending
    for ce in done[1:4]:
        assert rc.by_permalink(ce.permalink) is None
        assert ce.sql not in rc._by_sql
        assert not (tmp_path / f"{ce.permalink}.gz").exists()
    assert (tmp_path / f"{done[4].permalink}.gz").exists()

    srv, base, _, _ = plain
    payload = gzip.compress(bytes(range(60)))  # two of these exceed the cap
    assert 50 < len(payload) <= 100
    first = srv.cache.begin("SELECT evicted")
    srv.cache.succeed(first, payload)
    assert _get(f"{base}/cached/{first.permalink}")[0] == 200
    srv.cache.succeed(srv.cache.begin("SELECT newer"), payload)
    assert _get(f"{base}/cached/{first.permalink}")[0] == 404
