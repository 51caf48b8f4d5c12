"""Deterministic sharded dataset export — the training-data sink.

A training run wants shards that are (a) stable across re-runs and engine
versions (resume/compare by shard), (b) balanced (uniform hash of the id,
never a skewed natural key), and (c) internally ordered (a reader streams a
shard and sees the same sequence every time). None of that is true of a
plain ``df.write.parquet`` whose file split/order follows the physical
plan of the moment.

``export_training_shards`` pins all three: shard = md5(id) % n_shards
(engine-independent — the same rule the deterministic samplers in
queries/ use), one directory per shard via ``partitionBy``, rows sorted
within each shard by (md5(id), id). ``shard_manifest`` recomputes per-shard
row counts and an order-insensitive content fingerprint from the written
files, so a consumer can verify an export without trusting the writer.

Scale shape: the export is one hash repartition by shard plus a local sort
— exactly the shuffle a 1000-executor write wants; the manifest is one
pruned-scan aggregate over the output. No driver-side iteration anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def shard_of(id_col: Column | str, n_shards: int) -> Column:
    """Stable shard id: md5-uniform bucket of the id (BIGINT 0..n-1)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % n_shards).alias("shard")


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    mode: str = "error",
) -> None:
    """Write ``df`` as ``path/shard=K/`` parquet directories, K in
    [0, n_shards): deterministic assignment, deterministic in-shard order.

    ``repartition(n_shards, shard)`` makes the write's task layout follow
    the shard key (a hash collision folding two shards into one task is
    fine — ``partitionBy`` still splits them into their own directories);
    ``sortWithinPartitions`` pins the row order inside each file.
    """
    out = df.withColumn("shard", shard_of(id_col, n_shards))
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", F.md5(F.col(id_col).cast("string")), id_col)
        .write.partitionBy("shard")
        .mode(mode)
        .parquet(path)
    )


def shard_manifest(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Per-shard manifest of a written export: row count plus an
    order-insensitive content fingerprint (sum of a 56-bit slice of
    md5(id) — associative, so any read order yields the same value; 56
    bits keeps ~10^9-row shard sums far from BIGINT overflow).
    """
    df = spark.read.parquet(path)
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10).cast(
        "long"
    )
    return df.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h).cast("long").alias("content_sum"),
    )
