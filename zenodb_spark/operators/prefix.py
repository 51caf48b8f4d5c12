"""Distributed prefix sums: a running total WITHOUT a single-task global
window.

`Window.orderBy(...)` with no partition key funnels every row through one
task — fine for a 25-row nation frame, fatal for an SF-scaled frame (the
ABC/Pareto part list at 100 TB is tens of millions of rows). The classic
fix is a two-phase scan: range-partition by the ordering key, run the
cumulative window *inside* each partition (JVM, parallel), then add each
partition's starting offset — the exclusive prefix over per-partition
totals, a frame with one row per partition that a tiny single-task window
handles by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zenodb_spark.operators.util import share


def running_total(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running total of ``value_col`` over ``order_cols`` order
    (ascending struct order; pass inverted/negated columns for
    descending). Integer or decimal values stay exact — both phases are
    plain sums.

    Plan: one range exchange on the ordering key, one intra-partition
    window (parallel), one per-partition aggregate (num_partitions rows),
    one single-row-per-partition window over THAT, one broadcast join of
    the offsets. No step is single-task over the data."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # MATERIALIZE before branching: the ranged frame feeds BOTH the local
    # window and the per-partition totals. As two separate exchanges the
    # range boundaries would be SAMPLED TWICE (seeded by RDD id) — the two
    # branches can disagree on row→partition assignment and the offsets
    # then correct the wrong rows (observed at sf0.1: ±30-part drift in
    # the Pareto classes). One materialized subtree = one shuffle = one
    # set of boundaries.
    ranged = share(
        df.repartitionByRange(n, *order_cols).withColumn("__pid", F.spark_partition_id()),
        mode="lazy",
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local", F.sum(value_col).over(local_w))
    totals = ranged.groupBy("__pid").agg(F.sum(value_col).alias("__ptot"))
    # exclusive prefix over per-partition totals: one row per partition, so
    # this unpartitioned window is single-task over ≤ num_partitions rows
    # BY CONSTRUCTION — that is the point of the two-phase scan
    off_w = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__ptot").over(off_w), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__pid", "__local", "__off")
    )
