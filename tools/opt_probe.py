"""Per-query optimization probe (guide §1: measure first).

For each named query: capture ``explain("formatted")`` to
``plans/r06/<name>_<tag>.txt`` — normalized: expression ids (``#N``), RDD
ids, exchange ``plan_id``s and the data directory are stripped, so a
before/after pair of an unchanged plan diffs clean — and (optionally) time the query with the
noop sink — which materializes EVERY column (bench.py's ``count()`` lets
the optimizer prune) — after one untimed warm pass at sf0.001 to absorb
codegen/JIT cost. Jobs are labeled so a live UI run is readable.

Usage:
  python tools/opt_probe.py q64_bm25_topk q187_rrf_hybrid --tag before
  python tools/opt_probe.py all --tag before --no-time       # plans only, sorted by name
  python tools/opt_probe.py q165_dup_span_strike --no-time --tag after --plans-dir plans/r08
  python tools/opt_probe.py q64_bm25_topk --passes 5 --no-plan
"""

from __future__ import annotations

import argparse
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def normalize_plan(plan: str, sf_dir: str) -> str:
    """Strip the per-session ids and the data directory from an explain
    string."""
    plan = plan.replace(str(Path(sf_dir).resolve()), "<sf_dir>")
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--plans-dir", default=str(Path(__file__).parent.parent / "plans" / "r06"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--count-action", action="store_true",
                    help="time df.count() (bench methodology) instead of the noop sink")
    args = ap.parse_args()

    from zenodb_spark import queries as Q
    from zenodb_spark.session import get_spark

    names = sorted(Q.QUERIES) if args.names == ["all"] else args.names
    spark = get_spark("opt_probe")
    sc = spark.sparkContext
    plans_dir = Path(args.plans_dir)
    plans_dir.mkdir(parents=True, exist_ok=True)

    warm_dir = str(Path(args.sf_dir).parent / "sf0.001")

    # replicate bench.py: engine DB state materialized outside timed region
    Q._engine_db(spark, args.sf_dir)
    for t in Q._ENGINE_CACHE[args.sf_dir].tables.values():
        t.state_df().count()
    protected = set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def unpersist_new():
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if rid not in protected:
                jmap.get(rid).unpersist(False)

    results = {}
    for name in names:
        fn = Q.QUERIES[name]
        if not args.no_plan:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{args.tag}.txt").write_text(normalize_plan(plan, args.sf_dir))
            print(f"# plan -> {name}_{args.tag}.txt", file=sys.stderr)
        if args.no_time:
            continue
        # warm pass compiles the plan shape
        try:
            fn(spark, warm_dir).count()
        except Exception as e:
            print(f"# warm {name} failed: {e}", file=sys.stderr)
        unpersist_new()
        best = None
        for p in range(args.passes):
            sc.setJobDescription(f"{name} pass{p}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            if args.count_action:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            unpersist_new()
            print(f"# {name} pass{p}: {dt:.3f}s", file=sys.stderr)
            sc.setJobDescription(None)
        results[name] = round(best, 3)
        print(f"{name}: {best:.3f}s")
    if results:
        import json

        print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
