"""Offline table-store maintenance — the zenotool equivalent
(reference merge.go:33–109, cmd/zenotool/zenotool.go:22–36):

- ``filter_and_merge`` — FilterAndMerge: combine stored state parts,
  optionally dropping rows by a dim predicate and/or a time range, into one
  compacted output. In Spark this is read → filter → merge_states →
  overwrite: the OPTIMIZE/compaction job.
- ``file_info``      — FileInfo: row/bucket/size stats of a stored table.
- ``check``          — Check: verify a stored part is readable and its
  schema matches the table's registry.

Run as a CLI: ``python -m zenodb_spark.sources.maintenance info <workdir> <table>``.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from zenodb_spark.engine import DB, Table
from zenodb_spark.ir import DimExpr
from zenodb_spark.plans.compiler import BUCKET_COL


def filter_and_merge(
    table: Table,
    where: DimExpr | None = None,
    asof_epoch: int | None = None,
    until_epoch: int | None = None,
) -> None:
    """Compact all parts into one, optionally dropping rows (by dim predicate
    and/or bucket range) in the process — ``Table.fold``, the same fold
    ``compact()`` runs."""
    table.fold(where, asof_epoch, until_epoch)


def file_info(table: Table) -> dict:
    df = table.state_df()
    stats = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(BUCKET_COL).alias("min_bucket"),
        F.max(BUCKET_COL).alias("max_bucket"),
        F.count_distinct(*[F.col(d) for d in (table.dims or ["_bucket"])]).alias("keys"),
    ).collect()[0]
    return {
        "table": table.tdef.name,
        "parts": len(table._parts),
        "rows": stats["rows"],
        "min_bucket": stats["min_bucket"],
        "max_bucket": stats["max_bucket"],
        "distinct_keys": stats["keys"],
        "resolution_sec": table.resolution,
        "dims": table.dims,
        "state_columns": [s.col for s in (table.registry.all_specs() if table.registry else [])],
    }


def check(table: Table) -> list[str]:
    """Validate stored parts: readable, schema complete, no negative counts."""
    problems: list[str] = []
    if table.registry is None:
        return [f"{table.tdef.name}: no registry (never ingested)"]
    expect = {s.col for s in table.registry.all_specs()}
    for i, part in enumerate(table._parts):
        missing = expect - set(part.columns)
        if missing:
            problems.append(f"part {i}: missing state columns {sorted(missing)}")
    bad = (
        table.state_df()
        .filter(
            " OR ".join(
                f"{s.col} < 0" for s in table.registry.all_specs() if s.merge == "sum"
            )
            or "false"
        )
        .count()
    )
    if bad:
        problems.append(f"{bad} rows with negative counters")
    return problems


def main(argv: list[str]) -> int:
    from zenodb_spark.session import get_spark

    if len(argv) < 3:
        print("usage: maintenance {info|check|merge} <schema.yaml> <table> [workdir]")
        return 2
    cmd, schema_path, name = argv[0], argv[1], argv[2]
    workdir = argv[3] if len(argv) > 3 else None
    spark = get_spark("zenodb_maintenance")
    db = DB(spark, workdir=workdir)
    with open(schema_path) as f:
        db.apply_schema_yaml(f.read())
    t = db.tables[name]
    if cmd == "info":
        print(file_info(t))
    elif cmd == "check":
        print(check(t) or "OK")
    elif cmd == "merge":
        filter_and_merge(t)
        print("merged")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
