"""Repository benchmark: dashboard reads, ingest beside queries, and the
operator battery.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads: ``dashboard``, ``ingest_mix``, ``battery`` (see README.md).
The last line on stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; progress goes to stderr. ``--trace 1`` installs
the layer wrappers of ``tracing.py``, reports the per-layer metrics instead
of the end-to-end ones, and keeps the spans file and the per-layer table
under ``.perfbench/trace/``. Scratch files live under ``.perfbench/`` in
the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import points  # noqa: E402
from templates import SCHEMA, TEMPLATES  # noqa: E402

# ingest_mix server starts per run; its setup_s reports their median. The
# dashboard and the battery set up once: a repeated store load costs 6 s,
# and a full benchmark round (4 + 22 runs per workload within 57 minutes)
# has no room for it.
SETUP_REPS = 3
LOADGEN_GRACE_S = 120.0

# dashboard: store size and query mix
DASH_POINTS = 20_000
DASH_CLIENTS = 2
# One client cycle: (channel, hot|fresh, slots). Plan-cache hits (hot
# /query and RPC, 0.1-0.2 s) are 18 of 20 slots, so op_p50_ms sits near
# the middle of the hit mode, not in its upper tail. The two slow slots
# (a fresh /query, about 1 s of lowering; an /immediate request, 1-1.5 s
# in 0.25-s poll steps) still take about half of the clients' time, so
# throughput_per_s moves with the miss path.
DASH_CYCLE = [("query", "hot", 15), ("rpc", "hot", 3), ("query", "fresh", 1),
              ("immediate", "hot", 1)]
# Every template has a hot text. A 12-s window holds about 2 fresh slots
# per client, so fresh draws rotate over four templates whose misses cost
# about the same; a miss on crosshift or in_subquery costs several seconds.
HOT_TEMPLATES = [t.name for t in TEMPLATES]
DASH_FRESH = ["rollup", "filter_having", "shift", "asof_until"]
SAMPLE_SHARE = 0.25  # share of successful responses checked against DuckDB

# ingest_mix: writer batches and the maintainer's compaction cadence
INGEST_BATCH = 500
INGEST_MAX_BATCHES = 400
COMPACT_EVERY = 5
LATE_SHARE = 0.05
LATE_DAYS = 3.0
INGEST_HOT = ["rollup", "filter_having", "shift", "view"]

# battery: one query per layer pattern ROADMAP items 2-4 target. Four
# queries make a warm pass of about 4.5-5 s on a quiet 4-core host, and
# each query's median is taken over at least MIN_PASSES samples.
BATTERY = [
    "q47_dedup_clusters",  # construction-bound (CC rounds in the build)
    "q165_dup_span_strike",  # eager-checkpoint site, execution-heavy
    "q14_percentile_sketch",  # spread site
    "z02_engine_shift",  # dialect engine through the DataFrame API
]
BATTERY_SF = 0.01
MIN_PASSES = 3
# untimed passes after the check pass: the first passes of a process run
# 25-40 % slower while the JVM compiles the planner and executor code, and
# how fast they speed up depends on how much CPU the host leaves the
# compiler threads
WARM_PASSES = 3


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - _T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_bytes(path: Path, skip: str = "webcache") -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != skip]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


class Bench:
    """One benchmark process: the Spark session, the scratch directory, and
    the tracer when ``--trace 1``."""

    def __init__(self, args: argparse.Namespace):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
        self.trace_dir = ROOT / ".perfbench" / "trace" / f"{args.workload}-seed{args.seed}"
        self.spark = None
        self.jvm_pid = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED {what}")

    # -- Spark ---------------------------------------------------------------
    def start_spark(self) -> float:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # half the cores run tasks; the rest are left to the JVM's compiler
        # and GC threads, the Python driver and the load generator
        ncpu = max(1, len(os.sched_getaffinity(0)) // 2)
        os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
        os.environ["SPARK_DRIVER_MEM"] = "4g"
        os.environ["TMPDIR"] = str(tmp)
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            self.tracer.spark_conf(conf, self.work / "eventlog")
        t0 = time.perf_counter()
        from zenodb_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=conf)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def loadgen(self, cfg: dict) -> dict:
        """Run the load generator process to completion and return its
        report."""
        cfg = {"seed": self.seed, "seconds": self.seconds, "sample_share": SAMPLE_SHARE, **cfg}
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "loadgen.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        try:
            out, _ = proc.communicate(json.dumps(cfg), timeout=self.seconds + LOADGEN_GRACE_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        return json.loads(out.strip().splitlines()[-1])

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit, then drop the scratch
        directory."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


# --------------------------------------------------------------------------
# shared pieces of the server workloads
# --------------------------------------------------------------------------


def _write_points(cols: dict, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = dict(cols)
    table["ts"] = pa.array((cols["ts"] * 1e6).astype("int64"), pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table(table), path)


def _start_server(b: Bench, dbdir: Path):
    from zenodb_spark import server

    return server.start(b.spark, schema_yaml=SCHEMA, dbdir=str(dbdir), vtime=True)


def _addrs(h) -> dict:
    return {"http": list(h.http_addr), "rpc": list(h.rpc_addr)}


def _check_sampled(b: Bench, con, queries: list[dict]) -> int:
    """Reference-check the sampled responses; returns how many were checked."""
    from reference import check_query

    n = 0
    for q in queries:
        if "rows" not in q:
            continue
        n += 1
        err = check_query(con, q["t"], q["a"], q["rows"])
        if err:
            b.fail(f"{q['chan']} {q['t']}: {err} [{q['sql']}]")
    return n


def _query_stats(b: Bench, queries: list[dict]) -> list[float]:
    groups: dict[str, list[float]] = {}
    for q in queries:
        b.attempted += 1
        if not q["ok"]:
            b.fail(f"{q['chan']} {q['t']}: {q['err']} [{q['sql']}]")
            continue
        for g in (q["chan"], "hot" if q["hot"] else "fresh", q["t"]):
            groups.setdefault(g, []).append(q["ms"])
    log("query ms (n, p50): " + ", ".join(
        f"{g} {len(v)} {statistics.median(v):.0f}" for g, v in sorted(groups.items())))
    return [q["ms"] for q in queries if q["ok"]]


def _warm_queries(h, hot: list[tuple[str, dict]]) -> None:
    """Untimed: send each hot text once, from as many threads as the
    dashboard has clients, so the timed window starts with compiled code
    paths and a filled plan cache."""
    from concurrent.futures import ThreadPoolExecutor

    from loadgen import Clients
    from templates import BY_NAME

    c = Clients({**_addrs(h), "sample_share": 0.0, "seed": 0})
    with ThreadPoolExecutor(DASH_CLIENTS) as pool:
        list(pool.map(lambda t: c.run_query(BY_NAME[t[0]].sql(t[1]), "query"), hot))


def _hot(seed: int, names: list[str], n: int) -> list[tuple[str, dict]]:
    import random

    rng = random.Random(seed)
    return [(t.name, t.draw(rng, n)) for t in TEMPLATES if t.name in names]


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


def dashboard(b: Bench) -> dict:
    """Read-only: a bulk-loaded, compacted store under a closed-loop query
    mix from two clients."""
    from reference import points_con

    t0 = time.perf_counter()
    cols = points.generate(b.seed, DASH_POINTS)
    path = b.work / "points.parquet"
    _write_points(cols, path)
    h = _start_server(b, b.work / "store")
    h.db.insert("points", b.spark.read.parquet(str(path)))
    for t in h.db.tables.values():
        t.compact()
    setups = [time.perf_counter() - t0]
    log(f"setup: {setups[0]:.2f}s")
    store_bytes = _dir_bytes(b.work / "store")
    _warm_queries(h, _hot(b.seed, HOT_TEMPLATES, DASH_POINTS))
    log("warm-up done")
    batches0 = len(h._web.runner.batches)
    if b.tracer is not None:
        b.tracer.begin_window(b.spark)
    out = b.loadgen({
        "mode": "dashboard", **_addrs(h), "n_points": DASH_POINTS,
        "clients": DASH_CLIENTS, "cycle": DASH_CYCLE, "hot_templates": HOT_TEMPLATES,
        "fresh_templates": DASH_FRESH,
    })
    if b.tracer is not None:
        b.tracer.end_window()
    log("load done")
    rss = b.peak_rss_mb()
    h.stop()
    lat = _query_stats(b, out["queries"])
    checked = _check_sampled(b, points_con(cols), out["queries"])
    log(f"{len(lat)} queries, {checked} reference-checked, window {out['window_s']:.1f}s")
    return {
        "setups": setups,
        "op_ms": lat,
        "throughput": len(lat) / out["window_s"],
        "rss_mb": rss,
        "layers": {"store_bytes": store_bytes, "points": DASH_POINTS, "loadgen": out,
                   "runner_batches": h._web.runner.batches[batches0:]},
    }


def ingest_mix(b: Bench) -> dict:
    """Write beside read: one RPC writer streaming batches (with late
    points), one /query reader, and the benchmark compacting every table
    after every ``COMPACT_EVERY`` batches as the maintainer."""
    from reference import points_con
    from zenodb_spark.engine import DB
    from zenodb_spark.rpc import Client

    n_points = INGEST_BATCH * INGEST_MAX_BATCHES
    setups = []
    h = None
    for rep in range(SETUP_REPS):
        if h is not None:
            h.stop()
        t0 = time.perf_counter()
        h = _start_server(b, b.work / f"store{rep}")
        setups.append(time.perf_counter() - t0)
        if rep == 0:
            # untimed warm-up on a throwaway store: the first insert,
            # compact and query of a process compile most of the code
            warm = points.generate(b.seed + 1, INGEST_BATCH)
            ins = Client(*h.rpc_addr).new_inserter("points")
            for m in points.to_messages(warm, 0, INGEST_BATCH):
                ins.insert(*m)
            ins.close()
            for t in h.db.tables.values():
                t.compact()
            _warm_queries(h, _hot(b.seed, INGEST_HOT, n_points))
    dbdir = b.work / f"store{SETUP_REPS - 1}"

    db = h.db
    insert_rows = db.insert_rows
    batches = [0]
    compact_bytes = [0]

    def maintained_insert(stream, rows):
        insert_rows(stream, rows)
        batches[0] += 1
        if batches[0] % COMPACT_EVERY == 0:
            for t in db.tables.values():
                t.compact()
            if b.tracer is not None:  # compaction rewrites each table whole
                compact_bytes[0] += _dir_bytes(dbdir)

    db.insert_rows = maintained_insert
    if b.tracer is not None:
        b.tracer.begin_window(b.spark)
    out = b.loadgen({
        "mode": "ingest_mix", **_addrs(h), "n_points": n_points,
        "batch": INGEST_BATCH, "late_share": LATE_SHARE, "late_days": LATE_DAYS,
        "hot_templates": INGEST_HOT,
    })
    if b.tracer is not None:
        b.tracer.end_window()
    for t in db.tables.values():
        t.compact()

    inserts = out["inserts"]
    for rec in inserts:
        b.attempted += 1
        if not rec["ok"]:
            b.fail(f"insert batch {rec['i']}: {rec['err']}")
    acked = sum(1 for r in inserts if r["ok"]) * INGEST_BATCH
    insert_ms = [r["ms"] for r in inserts if r["ok"]]
    log("insert ms: " + " ".join(f"{v:.0f}" for v in insert_ms))
    read_ms = _query_stats(b, out["queries"])
    if read_ms:
        log(f"reader query p50 {pct(read_ms, 50):.0f} ms over {len(read_ms)} queries")
    cols = points.generate(b.seed, n_points, late_share=LATE_SHARE, late_days=LATE_DAYS)
    cols = {k: v[:acked] for k, v in cols.items()}
    con = points_con(cols)
    # exact checks over the final store, every hot text once
    from loadgen import Clients
    from reference import check_query
    from templates import BY_NAME

    c = Clients({**_addrs(h), "sample_share": 0.0, "seed": 0})
    for name, args in _hot(b.seed, INGEST_HOT, n_points):
        b.attempted += 1
        try:
            err = check_query(con, name, args, c.run_query(BY_NAME[name].sql(args), "query"))
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        if err:
            b.fail(f"final {name}: {err}")
    rss = b.peak_rss_mb()
    h.stop()
    store_bytes = _dir_bytes(dbdir)

    # reopen the store in a fresh DB: every acknowledged point is readable
    b.attempted += 1
    reopened = DB(b.spark, workdir=str(dbdir))
    reopened.apply_schema_yaml(SCHEMA)
    got = reopened.query("SELECT cnt, total FROM hourly GROUP BY region, period('1d')").collect()
    n_got = sum(r["cnt"] or 0 for r in got)
    total_got = sum(r["total"] or 0.0 for r in got)
    total_want = float(con.execute("SELECT sum(value) FROM points").fetchone()[0] or 0.0)
    if n_got != acked or abs(total_got - total_want) > 1e-6 * max(1.0, abs(total_want)):
        b.fail(f"reopen: {n_got} points / total {total_got}, want {acked} / {total_want}")
    log(f"{len(inserts)} batches ({acked} points), {len(read_ms)} queries, "
        f"window {out['window_s']:.1f}s")
    return {
        "setups": setups,
        "op_ms": insert_ms,
        "throughput": acked / out["window_s"],
        "rss_mb": rss,
        "layers": {"store_bytes": store_bytes, "points": acked, "loadgen": out,
                   "compact_bytes": compact_bytes[0]},
    }


def battery(b: Bench) -> dict:
    """Sequential DataFrame queries from ``zenodb_spark.queries`` on a seeded
    synthetic dataset: construction, then an action that consumes every row
    of every column (``_battery_query``)."""
    import duckdb

    sys.path.insert(0, str(ROOT / "tools"))
    import gen_sf
    from reference import check_frame
    from zenodb_spark import queries as Q

    # set-up: the dataset, then the check pass below, whose first run of
    # each query builds the engine store the z-queries read; the oracle
    # comparisons are left out of it
    t_setup = time.perf_counter()
    sf_dir = str(b.work / "sf")
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.generate(BATTERY_SF, sf_dir, seed=b.seed)
    log(f"dataset {time.perf_counter() - t_setup:.2f}s")
    sc = b.spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def unpersist_new(keep: set) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if rid not in keep:
                jmap.get(rid).unpersist(False)

    # check pass: each query once against its oracle
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    keep = persistent()
    check_s = 0.0
    for name in BATTERY:
        b.attempted += 1
        try:
            df = Q.QUERIES[name](b.spark, sf_dir)
            cols = df.columns
            rows = [[r[c] for c in cols] for r in df.collect()]
            t0 = time.perf_counter()
            err = check_frame(con, Q.ORACLE[name], cols, rows)
            check_s += time.perf_counter() - t0
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        if err:
            b.fail(f"{name}: {err}")
        keep = keep | {rid for rid in persistent() if name.startswith("z")}
        unpersist_new(keep)
    setups = [time.perf_counter() - t_setup - check_s]
    log(f"setup {setups[0]:.2f}s (check {check_s:.2f}s)")

    def one_pass(samples: dict[str, list[float]] | None) -> None:
        tp = time.perf_counter()
        for name in BATTERY:
            b.attempted += 1
            try:
                t0 = time.perf_counter()
                _battery_query(b.tracer, Q.QUERIES[name], b.spark, sf_dir)
                if samples is not None:
                    samples[name].append((time.perf_counter() - t0) * 1000.0)
            except Exception as e:
                b.fail(f"{name}: {type(e).__name__}: {e}")
            unpersist_new(keep)
        log(f"{'timed' if samples is not None else 'warm-up'} pass: "
            f"{time.perf_counter() - tp:.2f}s")

    for _ in range(WARM_PASSES):
        one_pass(None)

    samples: dict[str, list[float]] = {n: [] for n in BATTERY}
    if b.tracer is not None:
        b.tracer.begin_window(b.spark)
    t_start = time.perf_counter()
    deadline = t_start + b.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        one_pass(samples)
        passes += 1
    window = time.perf_counter() - t_start
    if b.tracer is not None:
        b.tracer.end_window()
    medians = [statistics.median(v) for v in samples.values() if v]
    done = sum(len(v) for v in samples.values())
    log(f"{passes} passes, battery_s {sum(medians) / 1000:.2f}, "
        + ", ".join(f"{n}={statistics.median(v):.0f}ms" for n, v in samples.items() if v))
    return {
        "setups": setups,
        "op_ms": medians,
        "throughput": done / window,
        "rss_mb": b.peak_rss_mb(),
        "layers": {"samples": samples},
    }


def _battery_query(tracer, build, spark, sf_dir) -> None:
    """One battery query, the same with tracing on or off: construction,
    then Catalyst planning forced through ``queryExecution().executedPlan()``,
    then ``toRdd().count()`` on that plan, which consumes every row of every
    column like a noop sink but runs the plan already made instead of
    planning a write command around it. The traced run puts each step under
    its own span and job group."""
    def span(name, group=None):
        return contextlib.nullcontext() if tracer is None else tracer.span(name, group)

    with span("queries.build", "battery_build"):
        df = build(spark, sf_dir)
    qe = df._jdf.queryExecution()
    with span("spark.catalyst"):
        qe.executedPlan()
    with span("spark.exec", "battery_exec"):
        qe.toRdd().count()


WORKLOADS = {"dashboard": dashboard, "ingest_mix": ingest_mix, "battery": battery}


def end_to_end(res: dict, spark_s: float) -> dict:
    # The 90th percentile goes to stderr only: with about 90 dashboard
    # queries per run it falls on the edge between plan-cache hits and the
    # slow tenth (fresh lowering, /immediate poll steps), where it moves by
    # a third between seeds.
    log(f"op p90 {pct(res['op_ms'], 90):.0f} ms over {len(res['op_ms'])} operations")
    return {
        "setup_s": (spark_s + statistics.median(res["setups"]), "s"),
        "op_p50_ms": (pct(res["op_ms"], 50), "ms"),
        "throughput_per_s": (res["throughput"], "1/s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import zenodb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    b = Bench(args)
    if args.trace:
        from tracing import Tracer

        b.tracer = Tracer(b.trace_dir)
        b.tracer.install()
    try:
        spark_s = b.start_spark()
        log(f"spark session: {spark_s:.2f}s")
        res = WORKLOADS[args.workload](b)
        res["cores"] = int(os.environ["SPARK_GRAFT_CPUS"])
        log("workload done")
        metrics = end_to_end(res, spark_s)
        if b.tracer is not None:
            b.spark.stop()
            b.spark = None
            metrics = b.tracer.report(res, metrics, b.work / "eventlog")
    finally:
        if b.tracer is not None:
            b.tracer.uninstall()
        b.close()
    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    log("closed")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
