"""Traced run: spans around the public calls into each layer, installed
from the benchmark's own files, plus one Spark job group per wrapped
operation so the event log can be folded back per operation.

A span is (name, start, end, id, parent, request id); the request id is the
id of the outermost span on the same thread. Spans stay in memory and are
written to ``spans.jsonl`` when the run ends, next to ``layers.json`` and
``layers.md`` (the per-layer table, every metric with its base).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time
from pathlib import Path

import eventlog

# (name, unit, better); the README maps each to the end-to-end metric and
# workload it should move
LAYER_METRICS = [
    ("sqlparser.parse_ms", "ms", "lower"),
    ("engine.plan_ms", "ms", "lower"),
    ("engine.plan_cache_hit_ratio", "ratio", "higher"),
    ("engine.query_many_ms", "ms", "lower"),
    ("engine.parts_per_query", "count", "lower"),
    ("engine.insert_rows_ms", "ms", "lower"),
    ("engine.compact_ms", "ms", "lower"),
    ("engine.compact_max_ms", "ms", "lower"),
    ("engine.compact_bytes_per_ingested_byte", "B/B", "lower"),
    ("engine.store_bytes_per_point", "B", "lower"),
    ("compiler.aggregate_raw_ms", "ms", "lower"),
    ("compiler.merge_states_ms", "ms", "lower"),
    ("spark.catalyst_ms", "ms", "lower"),
    ("spark.exec_ms", "ms", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.shuffle_bytes_per_op", "B", "lower"),
    ("spark.single_task_stages", "count", "lower"),
    ("spark.task_busy_ratio", "ratio", "higher"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.driver_peak_rss_mb", "MB", "lower"),
    ("queries.build_ms", "ms", "lower"),
    ("queries.eager_jobs", "count", "lower"),
    ("queries.eager_ms", "ms", "lower"),
    ("web.collect_ms", "ms", "lower"),
    ("web.encode_ms", "ms", "lower"),
    ("web.poll_wait_ms", "ms", "lower"),
    ("web.coalesce_batch_size", "count", "higher"),
    ("web.http_overhead_ms", "ms", "lower"),
    ("rpc.insert_decode_ms", "ms", "lower"),
    ("rpc.query_stream_ms", "ms", "lower"),
    ("trace.op_p50_ms", "ms", "lower"),
]

# job-group kinds whose jobs serve a user operation, and the kinds that
# mark one operation each (an /immediate request's jobs run in the
# runner's batch; a battery query is its build plus its exec)
OP_KINDS = ("http_query", "http_dashboard", "runner_batch", "rpc_query", "rpc_insert",
            "battery_build", "battery_exec")
USER_OP_KINDS = ("http_query", "http_dashboard", "rpc_query", "rpc_insert", "battery_exec")


def _p50(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


class Tracer:
    def __init__(self, out_dir: Path):
        self.out_dir = Path(out_dir)
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.spark = None  # set inside the timed window: operations get job groups
        self.ingested_bytes = 0
        self.window = (0.0, float("inf"))

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {"name": name, "id": sid, "parent": stack[-1]["id"] if stack else None,
               "req": stack[0]["id"] if stack else sid, **attrs}
        prev_group = getattr(self._local, "group", None)
        sc = self.spark.sparkContext if group is not None and self.spark is not None else None
        if sc is not None:
            gid = f"{group}:{sid}"
            sc.setJobGroup(gid, name)
            self._local.group = gid
            rec["group"] = gid
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev_group, "")
                self._local.group = prev_group
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, group: str | None = None, attrs=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name, group, **(attrs(*a, **kw) if attrs else {})):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    # -- installation ---------------------------------------------------------
    def spark_conf(self, conf: dict, eventlog_dir: Path) -> None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(eventlog_dir)
        conf["spark.eventLog.compress"] = "false"

    def install(self) -> None:
        from zenodb_spark import engine as E
        from zenodb_spark import rpc as R
        from zenodb_spark import web as W
        from zenodb_spark.sqlparser import parser as P

        tracer = self

        def query_attrs(db, sql):
            t = db.tables.get("hourly")
            return {"cacheable": db._plan_cacheable(sql),
                    "parts": len(t._parts) if t is not None else 0}

        def insert_attrs(db, stream, rows):
            if tracer.spark is not None:  # inside the timed window
                tracer.ingested_bytes += sum(len(json.dumps(r, default=str)) for r in rows)
            return {"rows": len(rows)}

        self.wrap(P, "parse", "sqlparser.parse")
        self.wrap(E, "parse", "sqlparser.parse")  # engine binds the name at import
        self.wrap(E.DB, "query", "engine.query", attrs=query_attrs)
        self.wrap(E.DB, "plan", "engine.plan")
        self.wrap(E.DB, "query_many", "engine.query_many")
        self.wrap(E.DB, "insert_rows", "engine.insert_rows", attrs=insert_attrs)
        self.wrap(E.Table, "compact", "engine.compact", group="compact")
        self.wrap(E, "aggregate_raw", "compiler.aggregate_raw")
        self.wrap(E, "merge_states", "compiler.merge_states")
        self.wrap(W.QueryRunner, "_run_batch", "web.run_batch", group="runner_batch")
        self.wrap(W.QueryRunner, "_finish", "web.finish",
                  attrs=lambda runner, q, plan: {"sql": q.sql})
        self.wrap(W._Handler, "_handle_query", "web.handle_query", group="http_query")
        self.wrap(W._Handler, "_handle_dashboard", "web.handle_dashboard",
                  group="http_dashboard",
                  attrs=lambda h, url, timeout, immediate: {"sql": h._sql_from_url(url)})
        self.wrap(R._RPCHandler, "_handle_query", "rpc.handle_query", group="rpc_query")
        self.wrap(R._RPCHandler, "_handle_insert", "rpc.handle_insert", group="rpc_insert")

        orig_collect = W.collect_guarded

        @functools.wraps(orig_collect)
        def collect_guarded(df, *a, **kw):
            with tracer.span("web.collect_guarded"):
                tracer.plan(df)
                with tracer.span("spark.exec"):
                    return orig_collect(df, *a, **kw)

        W.collect_guarded = collect_guarded
        self._patches.append((W, "collect_guarded", orig_collect))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def plan(self, df) -> None:
        """Force Catalyst planning of ``df`` under its own span; an action
        on the same Dataset then reuses the planned query execution."""
        with self.span("spark.catalyst"):
            df._jdf.queryExecution().executedPlan()

    def begin_window(self, spark) -> None:
        self.spark = spark
        self.window = (time.perf_counter(), float("inf"))

    def end_window(self) -> None:
        self.window = (self.window[0], time.perf_counter())
        self.spark = None  # later operations get no job group

    # -- report ---------------------------------------------------------------
    def _in_window(self, s: dict) -> bool:
        return self.window[0] <= s["start"] <= self.window[1]

    def report(self, res: dict, e2e: dict, eventlog_dir: Path) -> dict:
        spans = [s for s in self.spans if self._in_window(s)]
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        ids = {s["id"]: s for s in spans}

        def ms(name: str, top_only: bool = False) -> list[float]:
            out = []
            for s in by_name.get(name, []):
                parent = ids.get(s["parent"])
                if top_only and parent is not None and parent["name"] == name:
                    continue
                out.append((s["end"] - s["start"]) * 1000.0)
            return out

        def child_ms(s: dict, names: tuple[str, ...]) -> float:
            return sum((c["end"] - c["start"]) * 1000.0 for c in spans
                       if c["parent"] == s["id"] and c["name"] in names)

        m: dict[str, tuple[float, str]] = {}  # name -> (value, base)

        parse_ms = ms("sqlparser.parse")
        m["sqlparser.parse_ms"] = (_p50(parse_ms), f"{len(parse_ms)} calls")
        plan_ms = ms("engine.plan", top_only=True)
        m["engine.plan_ms"] = (_p50(plan_ms), f"{len(plan_ms)} calls")
        cacheable = [s for s in by_name.get("engine.query", []) if s["cacheable"]]
        planned = {c["parent"] for c in by_name.get("engine.plan", [])}
        hits = sum(1 for s in cacheable if s["id"] not in planned)
        m["engine.plan_cache_hit_ratio"] = (
            hits / len(cacheable) if cacheable else 0.0,
            f"{hits} of {len(cacheable)} cacheable DB.query calls",
        )
        qm = ms("engine.query_many")
        m["engine.query_many_ms"] = (_p50(qm), f"{len(qm)} calls")
        parts = [s["parts"] for s in by_name.get("engine.query", [])]
        m["engine.parts_per_query"] = (
            statistics.fmean(parts) if parts else 0.0, f"{len(parts)} DB.query calls")
        ins = ms("engine.insert_rows")
        m["engine.insert_rows_ms"] = (_p50(ins), f"{len(ins)} calls")
        comp = ms("engine.compact")
        m["engine.compact_ms"] = (_p50(comp), f"{len(comp)} Table.compact calls")
        m["engine.compact_max_ms"] = (max(comp, default=0.0), f"{len(comp)} calls")
        written = res["layers"].get("compact_bytes", 0)
        m["engine.compact_bytes_per_ingested_byte"] = (
            written / self.ingested_bytes if self.ingested_bytes else 0.0,
            f"{written} B written by compaction / {self.ingested_bytes} B of JSON points",
        )
        pts = res["layers"].get("points", 0)
        sb = res["layers"].get("store_bytes", 0)
        m["engine.store_bytes_per_point"] = (sb / pts if pts else 0.0, f"{sb} B / {pts} points")
        ar = ms("compiler.aggregate_raw")
        m["compiler.aggregate_raw_ms"] = (_p50(ar), f"{len(ar)} calls")
        mg = ms("compiler.merge_states")
        m["compiler.merge_states_ms"] = (_p50(mg), f"{len(mg)} calls")
        cat = ms("spark.catalyst")
        m["spark.catalyst_ms"] = (_p50(cat), f"{len(cat)} planned operations")
        ex = ms("spark.exec")
        m["spark.exec_ms"] = (_p50(ex), f"{len(ex)} actions")

        groups = eventlog.by_kind(eventlog.parse(eventlog.log_files(eventlog_dir)))
        ops = [g for k in OP_KINDS for g in groups.get(k, [])]
        n_ops = sum(1 for s in spans if s.get("group", "").rsplit(":", 1)[0] in USER_OP_KINDS)
        cores = res.get("cores", 1)

        def per_op(attr: str) -> float:
            return sum(getattr(g, attr) for g in ops) / n_ops if n_ops else 0.0

        base = f"{n_ops} operations"
        m["spark.jobs_per_op"] = (per_op("jobs"), base)
        m["spark.stages_per_op"] = (per_op("stages"), base)
        m["spark.tasks_per_op"] = (per_op("tasks"), base)
        m["spark.shuffle_bytes_per_op"] = (
            (per_op("shuffle_read") + per_op("shuffle_write")), base + " (read + write)")
        stages = sum(g.stages for g in ops)
        m["spark.single_task_stages"] = (
            float(sum(g.single_task_stages for g in ops)),
            f"of {stages} stages; one task and over {eventlog.SINGLE_TASK_STAGE_MS} ms",
        )
        wall = sum(g.job_ms for g in ops)
        run = sum(g.run_ms for g in ops)
        m["spark.task_busy_ratio"] = (
            run / (wall * cores) if wall else 0.0,
            f"{run:.0f} ms task run time / ({wall:.0f} ms job wall x {cores} cores)",
        )
        m["spark.gc_ms"] = (per_op("gc_ms"), base + " (task JVM GC time per operation)")
        m["spark.driver_peak_rss_mb"] = (res["rss_mb"], "VmHWM of the Python driver + JVM")

        builds = groups.get("battery_build", [])
        bms = ms("queries.build")
        n_b = len(bms)
        m["queries.build_ms"] = (_p50(bms), f"{n_b} QUERIES[name] calls")
        m["queries.eager_jobs"] = (
            sum(g.jobs for g in builds) / n_b if n_b else 0.0, f"{n_b} constructions")
        m["queries.eager_ms"] = (
            sum(g.job_ms for g in builds) / n_b if n_b else 0.0,
            f"{n_b} constructions (job wall time inside construction)")

        col = ms("web.collect_guarded")
        m["web.collect_ms"] = (_p50(col), f"{len(col)} calls")
        fin = by_name.get("web.finish", [])
        enc = [(s["end"] - s["start"]) * 1000.0 - child_ms(s, ("web.collect_guarded",))
               for s in fin]
        m["web.encode_ms"] = (_p50(enc), f"{len(enc)} dashboard results")
        waits = []
        for h in by_name.get("web.handle_dashboard", []):
            done = [f for f in fin if f["sql"] == h["sql"] and h["start"] <= f["end"] <= h["end"]]
            if done:
                waits.append((h["end"] - done[-1]["end"]) * 1000.0)
        m["web.poll_wait_ms"] = (_p50(waits), f"{len(waits)} /immediate requests")
        batches = res["layers"].get("runner_batches", [])
        m["web.coalesce_batch_size"] = (
            statistics.fmean(batches) if batches else 0.0, f"{len(batches)} runner batches")
        client = [q["ms"] for q in res["layers"].get("loadgen", {}).get("queries", [])
                  if q["ok"] and q["chan"] == "query"]
        inside = [child_ms(s, ("engine.query", "web.collect_guarded"))
                  for s in by_name.get("web.handle_query", [])]
        m["web.http_overhead_ms"] = (
            max(0.0, _p50(client) - _p50(inside)) if client else 0.0,
            f"p50 of {len(client)} client /query latencies - p50 of DB.query + collect",
        )
        batch_ms = [r["ms"] for r in res["layers"].get("loadgen", {}).get("inserts", [])
                    if r["ok"]]
        m["rpc.insert_decode_ms"] = (
            max(0.0, _p50(batch_ms) - _p50(ins)) if batch_ms else 0.0,
            f"p50 of {len(batch_ms)} client batch latencies - p50 of DB.insert_rows",
        )
        stream = [(s["end"] - s["start"]) * 1000.0 - child_ms(s, ("engine.query",))
                  for s in by_name.get("rpc.handle_query", [])]
        m["rpc.query_stream_ms"] = (_p50(stream), f"{len(stream)} RPC queries")
        m["trace.op_p50_ms"] = (e2e["op_p50_ms"][0], "op_p50_ms of this traced run")

        self._write(m)
        units = {n: u for n, u, _ in LAYER_METRICS}
        return {n: (m[n][0], units[n]) for n, _, _ in LAYER_METRICS}

    def _write(self, m: dict) -> None:
        """Every span (times relative to the window start, with its self
        time: duration minus what its children cover; children share their
        parent's thread, so they do not overlap), then the layer table."""
        self.out_dir.mkdir(parents=True, exist_ok=True)
        t0 = self.window[0]
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        with open(self.out_dir / "spans.jsonl", "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                self_ms = (s["end"] - s["start"] - covered.get(s["id"], 0.0)) * 1000.0
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0,
                                    "self_ms": self_ms}) + "\n")
        units = {n: u for n, u, _ in LAYER_METRICS}
        with open(self.out_dir / "layers.json", "w") as f:
            json.dump({n: {"value": v, "unit": units[n], "base": b} for n, (v, b) in m.items()},
                      f, indent=1)
        lines = ["| metric | value | unit | base |", "|---|---|---|---|"]
        lines += [f"| {n} | {m[n][0]:.4g} | {units[n]} | {m[n][1]} |" for n, _, _ in LAYER_METRICS]
        (self.out_dir / "layers.md").write_text("\n".join(lines) + "\n")
