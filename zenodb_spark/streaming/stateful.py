"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no stateful session/dedup operators (SURVEY §2.10 "Stateful
session ops: none"); these are extensions a streaming training-data pipeline
needs: exact cross-micro-batch dedup (first occurrence of a fingerprint wins,
forever — or within a state TTL) and a running per-key occurrence counter.

Both are keyed GroupState ops: state lives in the state store, partitioned by
key — memory per executor is bounded by its key shard, checkpointing gives
exactly-once across restarts, and a ProcessingTime timeout bounds total state
when the key space is unbounded. This is the `applyInPandasWithState` shape
(Arrow-batched per key-group), not a row-at-a-time UDF.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_dedup_first(
    stream_df: DataFrame,
    key_col: str,
    order_cols: list[str],
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit each key's first-ever occurrence and drop
    every later one, across micro-batches. Within a batch, "first" is the
    smallest ``order_cols`` tuple (deterministic under re-delivery); across
    batches, the earlier batch wins by construction.

    ``ttl_minutes`` bounds the state store: a key unseen for the TTL is
    forgotten (its next occurrence re-emits) — the retention trade every
    unbounded-key streaming dedup must make. ``None`` keeps state forever.

    Output schema: the input columns (state carries nothing but a marker).
    """
    cols = stream_df.columns
    schema = stream_df.schema
    state_schema = "seen byte"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60_000)
        if state.exists:
            return
        state.update((1,))
        first = batch.sort_values(order_cols, kind="mergesort").iloc[:1]
        yield first[cols]

    return stream_df.groupBy(key_col).applyInPandasWithState(
        fn, schema, state_schema, "update", timeout
    )


def stream_key_counts(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Running per-key occurrence counter with explicit keyed state — the
    duplicate-frequency monitor of a streaming ingest pipeline. Emits the
    updated (key, n_total) row for every key present in a micro-batch."""
    state_schema = "n long"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"key": [key[0]], "n_total": [total]})

    key_type = stream_df.schema[key_col].dataType.simpleString()
    out_schema = f"key {key_type}, n_total long"
    return stream_df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_zscore_alerts(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    window_buckets: int = 24,
    min_history: int = 12,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Streaming anomaly alerts: per-key event counts per time bucket,
    scored against that key's trailing count history held in keyed state —
    the streaming twin of the batch q70 z-score detector.

    State per key: the last ``window_buckets`` (bucket, count) pairs. Each
    micro-batch folds its buckets in bucket order; a bucket whose count
    deviates more than ``z_threshold`` sigmas from the trailing mean (with
    ≥ ``min_history`` observed buckets) emits an alert row
    (key, bucket, n, z). Mean/variance come from exact integer sums, like
    the batch path.

    Scale: state is O(window_buckets) longs per key, partitioned by key in
    the state store; Arrow-batched per key group; exactly-once under
    checkpointing.
    """
    import math

    out_schema = f"key string, bucket long, n long, z double"
    state_schema = "buckets array<long>, counts array<long>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hist_b, hist_n = ([], []) if not state.exists else [list(x) for x in state.get]
        batch = pd.concat(list(pdfs), ignore_index=True)
        per_bucket = (
            batch.assign(bucket=(batch["_ts_epoch"] // bucket_seconds) * bucket_seconds)
            .groupby("bucket")
            .size()
            .sort_index()
        )
        alerts = []
        for bucket, n in per_bucket.items():
            if bucket in hist_b:
                i = hist_b.index(bucket)
                hist_n[i] += int(n)
                continue
            m = len(hist_b)
            if m >= min_history:
                s = sum(hist_n)
                s2 = sum(v * v for v in hist_n)
                var = (m * s2 - s * s) / (m * m)
                if var > 0:
                    z = (n - s / m) / math.sqrt(var)
                    if abs(z) > z_threshold:
                        alerts.append((key[0], int(bucket), int(n), float(z)))
            hist_b.append(int(bucket))
            hist_n.append(int(n))
            if len(hist_b) > window_buckets:
                hist_b, hist_n = hist_b[-window_buckets:], hist_n[-window_buckets:]
        state.update((hist_b, hist_n))
        if alerts:
            yield pd.DataFrame(alerts, columns=["key", "bucket", "n", "z"])

    prepped = stream_df.select(
        F.col(key_col).cast("string").alias(key_col),
        F.unix_timestamp(ts_col).cast("long").alias("_ts_epoch"),
    )
    return prepped.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

