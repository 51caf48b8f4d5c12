"""Loaders for the driver-generated testdata corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under ``{sf_dir}/``.

``events.ts`` has shipped in two physical forms across testdata
generations: INT64 TIMESTAMP(NANOS) (surfaces as a long under
``spark.sql.legacy.parquet.nanosAsLong``) and INT64 TIMESTAMP(MICROS,
isAdjustedToUTC=false) (surfaces as TIMESTAMP_NTZ in any session). We
normalize both so downstream code sees one contract:

- ``ts``    — the event timestamp (TimestampType or TimestampNTZType);
- ``ts_ns`` — BIGINT epoch-nanoseconds, exact integer bucket math,
  timezone-free (NTZ wall time is interpreted as UTC, matching how DuckDB
  evaluates ``epoch_us`` on the same column, so oracle comparisons line
  up regardless of the host timezone).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def epoch_us_col(col: Column | str, dtype: str) -> Column:
    """Epoch-microseconds BIGINT from a timestamp column, timezone-free.

    ``unix_micros`` rejects TIMESTAMP_NTZ, so for NTZ we take a wall-clock
    ``timestampdiff`` from the NTZ epoch — probed to be independent of
    ``spark.sql.session.timeZone`` and to match DuckDB's ``epoch_us`` on the
    same parquet column exactly."""
    c = F.col(col) if isinstance(col, str) else col
    if dtype == "timestamp_ntz":
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
        ).cast("long")
    return F.unix_micros(c)


def normalize_points(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize a points frame to the (ts, ts_ns) contract above.

    - int64-nanos input (``nanosAsLong`` legacy surface): the raw long IS
      ``ts_ns``; derive a µs timestamp from it with integer `div`, NOT `/`
      (float division of epoch-nanos ~1.7e18 has a 256-ns double ulp).
    - timestamp / timestamp_ntz input (current testdata: MICROS NTZ):
      derive ``ts_ns`` = epoch-µs × 1000, timezone-free. ``ts`` itself is
      untouched, so range predicates on it still reach parquet row-group
      stats."""
    t = dict(df.dtypes).get(ts_col)
    if t == "bigint":
        df = df.withColumn(f"{ts_col}_ns", F.col(ts_col)).withColumn(
            ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
        )
    elif t in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(
            f"{ts_col}_ns", epoch_us_col(ts_col, t) * F.lit(1000)
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Older testdata generations stored INT64 TIMESTAMP(NANOS), unreadable
    # without this legacy conf; any SparkSession (not just ours from
    # session.py) must be able to read them. Runtime-settable, idempotent,
    # and a no-op for the current MICROS-NTZ files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_points(df)
    return df

