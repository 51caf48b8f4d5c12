"""SparkSession factory tuned for the engine.

Scale notes (100 TB north star): every config here is chosen to survive a
1000-executor cluster, not just local[32]:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  we do not hand-tune ``spark.sql.shuffle.partitions`` per query.
- ``nanosAsLong``: the driver testdata writes nanosecond parquet timestamps
  which Spark refuses by default; we read them as int64 nanos and convert to
  microsecond timestamps (exactly what DuckDB's µs TIMESTAMP does), keeping
  oracle parity.
- Arrow enabled for the (rare) pandas-UDF paths — sketch/multimodal ops.
- UTC session timezone so bucket arithmetic is reproducible anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "zenodb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES; CPU-dense stages over small compressed
        # shuffles (pairwise vector math) otherwise collapse to 1 task.
        # (Advisory partition size stays at the 64 MB default: an A/B at
        # sf1.0 showed no warm-run effect — parallelismFirst=true already
        # targets core count when coalescing — while 8 MB cost the sf0.1
        # suite ~8% in pure task overhead.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Spill-friendlier unified memory split (round-4 verdict item 4:
        # a co-tenant process OOM'd a heavy sort that should have spilled).
        # 0.5 instead of the 0.6 default: operators hit the pool ceiling —
        # and start SPILLING — earlier, capping peak heap so a noisy
        # neighbor steals headroom instead of triggering
        # SparkOutOfMemoryError mid-sort. Costs nothing at bench scale
        # (sf0.1 working sets never approach the pool) and at 100 TB the
        # same setting trades bounded extra spill IO for query survival.
        .config("spark.memory.fraction", "0.5")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark

