"""Structured Streaming ingest — the streaming counterpart of the batch
ingest path (reference: WAL tail → memstore → flush, SURVEY.md §2.10/§3.3).

Model: **partial-state append**. Each micro-batch runs the same
``aggregate_raw`` lowering the batch path uses and *appends* the resulting
partial state rows to the table's store (a parquet directory or the
in-session part list). Queries merge states on read; ``compact()`` folds
parts down.

Why this instead of update-mode streaming aggregation:

- The reference accepts late data arbitrarily far back within retention
  (encoding/seq.go:178–241 grows sequences backwards). An update-mode agg
  would need state for every (key, bucket) over the whole retention window —
  unbounded state. Partial-state append needs **zero** streaming state:
  each micro-batch is a self-contained partial aggregate (Spark's own
  map-side combine), and late rows simply land as another part that
  merge-on-read folds in. This is literally the reference's memstore-flush
  design: flushes are partial aggregates merged at read/compaction.
- Exactly-once: Structured Streaming checkpointing tracks source offsets
  (the WAL-offset equivalent, common/common.go:108–167); foreachBatch with
  idempotent parquet append per batch-id gives effective once semantics.

Flush pacing (reference row_store.go:249–283 adapts flush latency) maps to
the trigger interval; ``force_fresh`` maps to processAllAvailable().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from zenodb_spark.engine import DB, Table

from pyspark.sql import functions as F


def ingest_stream_batch(
    db: DB,
    table: Table,
    table_name: str,
    batch_df: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch into ``table`` (named ``table_name`` in ``db``),
    exactly-once under checkpoint replay — see ``Table.ingest_batch``."""
    table.ingest_batch(batch_df, batch_id, ts_col)


def start_table_stream(
    db: DB,
    table_name: str,
    stream_df: DataFrame,
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Attach a streaming source to a table: every micro-batch is folded into
    the table's state via the shared batch lowering.

    stream_df: a streaming DataFrame (readStream) with the stream's point
    schema (ts + dims + vals).
    """
    table = db.tables[table_name]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.ingest_batch(batch_df, batch_id, ts_col)

    def _start(available_now: bool) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if not available_now and trigger_seconds:
            writer = writer.trigger(processingTime=f"{int(trigger_seconds)} seconds")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    handle = _start(available_now=not trigger_seconds)
    db.streams.append(_StreamSpec(handle, _start if checkpoint_dir else None))
    return handle


class _StreamSpec:
    """Registered stream: lets `-- force_fresh` queries drain pending data
    (the reference's include-memstore flag). An inactive checkpointed stream
    is drained by a one-shot availableNow pass over the same checkpoint —
    exactly-once, so this is literally 'flush the WAL tail now'. An ACTIVE
    processingTime stream cannot be force-triggered off-schedule (Spark has
    no API for it); its own next trigger picks the data up — documented
    deviation."""

    def __init__(self, handle: StreamingQuery, restart) -> None:
        self.handle = handle
        self._restart = restart

    def drain(self, timeout_seconds: float = 300.0) -> None:
        try:
            active = self.handle.isActive
        except Exception:
            active = False
        if active:
            return  # see class docstring
        if self._restart is not None:
            one_shot = self._restart(available_now=True)
            one_shot.awaitTermination(timeout_seconds)


def windowed_rollup_stream(
    stream_df: DataFrame,
    dims: list[str],
    value_aggs: dict[str, F.Column],
    resolution_seconds: int,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """The idiomatic pure-Structured-Streaming alternative for bounded
    lateness: watermarked tumbling-window aggregation in update mode.
    Use when late data is bounded (watermark ≪ retention); use
    start_table_stream's partial-state append when it is not."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*dims, F.window(ts_col, f"{resolution_seconds} seconds").alias("_window"))
        .agg(*[c.alias(n) for n, c in value_aggs.items()])
        .withColumn("_time", F.col("_window.start"))
        .drop("_window")
    )
