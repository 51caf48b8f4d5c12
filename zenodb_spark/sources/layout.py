"""Multi-dimensional data layout: Z-order (Morton) clustering for file
skipping.

Partitioning and sorting prune on ONE dimension: a store sorted by day
answers day filters from file min/max stats but scans everything for a
user filter. Z-ordering interleaves the bits of several rank-bucketed
columns into one sort key, so files become tight hyper-rectangles in ALL
clustered dimensions at once — a filter on ANY of them overlaps only a
small fraction of files, and the parquet reader's row-group/file stats
skip the rest. This is the OPTIMIZE ZORDER of Delta/Iceberg, expressed
with plain Spark: bucket → interleave (JVM bit ops, no UDF) →
repartitionByRange on the z-value → sortWithinPartitions → write.

The win is measurable, not aesthetic: tests/test_round5 counts, from the
written files' own parquet footers, how many files a single-dimension
filter can exclude under a z-ordered layout vs a linear sort — the same
stats the scan planner consults.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_value", "zorder_write"]

BITS = 16  # per-dimension resolution: 65536 rank buckets


def zorder_value(df: DataFrame, cols: list[str]) -> Column:
    """Morton (Z-order) key over ``cols``: each column is scaled to a
    16-bit bucket by its (min, max) range — computed in one tiny
    aggregate and folded in as literals — and the buckets' bits are
    interleaved, LSB-first, into one long.

    Rank-bucketing by range (not quantiles) keeps the key a pure
    per-row expression; heavily skewed columns can be pre-transformed
    (ln, bucket id) by the caller. Only numeric/date/timestamp columns
    make sense here."""
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    buckets = []
    for c in cols:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(
            float((1 << BITS) - 1)
        )
        buckets.append(F.least(F.floor(scaled).cast("long"), F.lit((1 << BITS) - 1)))
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for bit in range(BITS):
        for i, bk in enumerate(buckets):
            pos = bit * len(buckets) + i
            # Column & / | are BOOLEAN ops in PySpark; bit math needs
            # the explicit bitwiseAND/bitwiseOR methods
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bk, bit).bitwiseAND(one), pos)
            )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    mode: str = "overwrite",
    sample_size_per_partition: int = 20_000,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the
    Z-order of ``cols``: range-partition on the z-value (balanced
    files), sort within each partition (tight row-group stats), drop
    the key. At 100 TB this runs per ingest partition (e.g. per day),
    not globally — the z-locality only needs to hold within the files a
    single scan considers.

    The range exchange estimates its partition boundaries from a
    per-partition reservoir sample whose seed is derived from the RDD id
    — i.e. the boundaries (and thus the pruning quality of the layout)
    vary run-to-run with default settings (100 rows/partition). A data
    LAYOUT should be reproducible, so we raise the sample size while
    writing: the boundary-sketch pass reads only the z column and the
    reservoir is capped at ``sample_size_per_partition`` longs
    (~160 KB/partition at 20k), which is noise next to the write
    itself.

    The override is scoped to a CLONED session (``newSession()`` shares
    the SparkContext but owns an isolated SQLConf), so concurrent queries
    planned on the caller's session never see the 200× sample size and
    concurrent zorder_writes can't clobber each other's restore value.
    The frame crosses sessions via a global temp view (plan re-resolved
    against the same catalog/files)."""
    spark = df.sparkSession
    z = df.withColumn("__z", zorder_value(df, cols))
    view = f"__zorder_write_{abs(hash((path, tuple(cols)))) % 10**10}"
    z.createOrReplaceGlobalTempView(view)
    writer = spark.newSession()
    writer.conf.set(
        "spark.sql.execution.rangeExchange.sampleSizePerPartition",
        str(sample_size_per_partition),
    )
    try:
        (
            writer.table(f"global_temp.{view}")
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode(mode)
            .parquet(path)
        )
    finally:
        spark.catalog.dropGlobalTempView(view)

