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

