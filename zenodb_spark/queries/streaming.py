"""Structured Streaming queries (ingest, watermarks, stateful and near-dup
streams, stream-stream joins) and file-format round trips (JSONL, CSV,
ORC, Z-order layout), each checked against a batch oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zenodb_spark.catalog import load_table
from zenodb_spark.engine import DB
from zenodb_spark.functions.measures import cents
from zenodb_spark.queries.common import BUCKET, C, query, shingle_sql
from zenodb_spark.queries.zeno import _as_bucket
from zenodb_spark.sources import versions
from zenodb_spark.sources.layout import zorder_write
from zenodb_spark.streaming.ingest import start_table_stream, windowed_rollup_stream
from zenodb_spark.streaming.neardup import start_neardup_stream
from zenodb_spark.streaming.stateful import stream_dedup_first, stream_key_counts


@query(
    "q59_stream_ingest",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt,
           min(value) AS mn, max(value) AS mx,
           CAST(count(DISTINCT user_id) AS DOUBLE) AS du
    FROM events GROUP BY 1, 2
    """,
)
def q59_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING, oracle-gated: the actual Structured Streaming ingest path
    (readStream → foreachBatch → partial-state append, SURVEY §2.10) run as
    a 4-micro-batch availableNow pass over the events table, then queried
    through the dialect. The oracle is the plain batch aggregation — the
    equality IS the streaming-equals-batch guarantee, through checkpointed
    exactly-once parts and the exact distinct-set COUNTDISTINCT
    union-merge. Every aggregate is order-insensitive-exact
    (COUNT/MIN/MAX/set-union), so micro-batch boundaries cannot perturb a
    single bit."""

    tmp = tempfile.mkdtemp(prefix="zspark_q59_")
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    src = f"{tmp}/src"
    # 4 files + maxFilesPerTrigger=1 → 4 micro-batches → 4 partial-state
    # parts that the query path must merge correctly
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    db = DB(spark, workdir=f"{tmp}/store")
    db.apply_schema(
        {
            "ev_s": {
                "sql": (
                    "SELECT COUNT(value) AS cnt, MIN(value) AS mn, "
                    "MAX(value) AS mx, COUNTDISTINCT(user_id) AS du "
                    "FROM inbound GROUP BY event_type, period('1d')"
                )
            }
        }
    )
    handle = start_table_stream(db, "ev_s", stream, checkpoint_dir=f"{tmp}/ckpt")
    handle.awaitTermination(300)
    out = db.query("SELECT cnt, mn, mx, du FROM ev_s GROUP BY event_type, period('1d')")
    return _as_bucket(out)


@query(
    "q87_stream_watermark",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q87_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING (watermarked path): the pure-Structured-Streaming
    update-mode windowed rollup (`windowed_rollup_stream`) run as a
    4-micro-batch availableNow pass; the oracle is the plain batch
    aggregation, so equality proves the watermark/window plumbing loses
    nothing. Counts only grow across update emissions, so the final value
    per key is the max over the sink's update rows. The watermark is set
    beyond the data span: bit-exactness demands no late-drop; bounded-
    lateness drop behavior is exercised in test_streaming instead."""

    tmp = tempfile.mkdtemp(prefix="zspark_q87_")
    # watermarks demand TIMESTAMP (not NTZ): rebuild the instant from the
    # exact epoch-nanos so window boundaries sit on epoch multiples in any
    # session timezone — bit-aligned with the oracle's epoch(ts) buckets
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        "event_type",
        "user_id",
    )
    src = f"{tmp}/src"
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    rolled = windowed_rollup_stream(
        stream,
        ["event_type"],
        {"cnt": F.count(F.lit(1))},
        86400,
        watermark="400 days",
    )
    name = f"q87_sink_{abs(hash(sf_dir)) % 10_000}"
    # state-store partitions follow spark.sql.shuffle.partitions at stream
    # start; a bare driver session's 200 means 4 batches × 200 state tasks
    # + 200 checkpoint delta files each for a handful of keys (measured
    # 72-96 s vs 3-7 s at core count, round 6). defaultParallelism is the
    # scale-adaptive value (cores locally, cluster cores at 100 TB) — the
    # q126/q133/q135 guard, applied to the three streaming queries that
    # predate it.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            rolled.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sink = spark.table(name)
    return (
        sink.groupBy(
            "event_type", F.unix_timestamp("_time").cast("long").alias("bucket")
        )
        .agg(F.max("cnt").cast("long").alias("cnt"))
    )


@query(
    "q108_stream_dedup",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_first
    FROM events GROUP BY 1
    """,
)
def q108_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING (keyed-state path): cross-micro-batch first-occurrence
    dedup on (user_id, event_type) via applyInPandasWithState
    (streaming/stateful.stream_dedup_first), run as a 4-micro-batch
    availableNow pass; each key emits exactly once, so counting the sink
    per event_type must equal the batch COUNT(DISTINCT user_id) — the
    oracle proves the keyed state store loses and duplicates nothing.
    State is one marker byte per key (TTL-boundable); the shuffle is the
    same hash exchange a batch distinct would use."""

    tmp = tempfile.mkdtemp(prefix="zspark_q108_")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.concat_ws("|", F.col("user_id").cast("string"), "event_type").alias("k"),
    )
    src = f"{tmp}/src"
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    deduped = stream_dedup_first(stream, "k", ["event_id"])
    name = f"q108_sink_{abs(hash(sf_dir)) % 10_000}"
    # scale-adaptive state-store partitioning — see q87 (round 6)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_first"))
    )


@query(
    "q113_stream_key_counts",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1
    """,
)
def q113_stream_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING (running-counter path): the explicit keyed-state
    occurrence counter (streaming/stateful.stream_key_counts) run as a
    4-micro-batch availableNow pass. The counter emits its running total
    on every batch a key appears in; totals only grow, so the final
    per-key value is the max over update emissions — and must equal the
    batch COUNT(*) exactly (the oracle), proving the state survives
    micro-batch boundaries without loss or double-count."""

    tmp = tempfile.mkdtemp(prefix="zspark_q113_")
    ev = load_table(spark, sf_dir, "events").select("event_type")
    src = f"{tmp}/src"
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    counts = stream_key_counts(stream, "event_type")
    name = f"q113_sink_{abs(hash(sf_dir)) % 10_000}"
    # scale-adaptive state-store partitioning — see q87 (round 6)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(name)
        .groupBy(F.col("key").alias("event_type"))
        .agg(F.max("n_total").cast("long").alias("n_total"))
    )


@query(
    "q126_stream_sessions",
    """
    WITH o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS p
      FROM events
    ),
    f AS (
      SELECT user_id, ts,
             CASE WHEN p IS NULL OR ts - p > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS nf
      FROM o
    ),
    s AS (
      SELECT user_id, ts,
             sum(nf) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM f
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q126_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization (full oracle): native `session_window`
    (30-minute gap) over a 4-micro-batch availableNow pass, proven equal
    to the batch gaps-and-islands SQL.

    Sessions MERGE across micro-batches (a bridging event fuses two
    earlier sessions), and Spark forbids update mode for streaming
    session windows precisely because a merged emission cannot be folded
    key-by-key. Complete mode sidesteps it: every trigger re-emits the
    whole (merge-resolved) session state, so after the final batch the
    sink table IS the answer — no fold. The cross-batch merge case is
    pinned by a dedicated test. For production pipelines where complete
    mode's re-emission is too heavy, the append-mode variant with a real
    watermark emits each session once it is finalized (bounded
    lateness); this oracle-gated path intentionally trades that for
    bit-exact completeness. Session start/end come from exact
    epoch-nanos (timestamp_micros of ts_ns), so `unix_timestamp` is
    timezone-independent; the gap boundary is INCLUSIVE (an event at
    exactly prev + 30 min joins the session — session windows span
    [ts, ts+gap] and merge on touch), matching the oracle's strict
    `> INTERVAL 30 MINUTE` island rule — pinned by a unit test.

    Scale: sessionization state shuffles once on user_id (same wide edge
    the batch q52 plan has)."""

    tmp = tempfile.mkdtemp(prefix="zspark_q126_")
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"), "user_id"
    )
    src = f"{tmp}/src"
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sess = (
        stream.withWatermark("ts", "400 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = f"q126_sink_{abs(hash(sf_dir)) % 10_000}"
    # session-state partitions follow spark.sql.shuffle.partitions; a bare
    # 200-partition default costs ~4x wall on this tiny availableNow pass
    # with zero benefit, so pin it down for the stream and restore after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        F.col("user_id"),
        F.unix_timestamp(F.col("session_window.start"))
        .cast("long")
        .alias("session_start"),
        F.col("cnt").cast("long").alias("n_events"),
    )


@query(
    "q131_stream_stream_join",
    """
    WITH c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM c JOIN p ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def q131_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN (full oracle): clicks joined to purchases of
    the same user within the following hour, both sides read as
    streams, 4 micro-batches each, availableNow — the emitted pair set
    must equal the batch interval join (the oracle).

    Stream-stream inner joins buffer both sides in state; the time-range
    conjunct (p.ts ∈ [c.ts, c.ts+1h)) is what lets the state manager
    evict a buffered click once the purchase-side watermark passes
    c.ts+1h. Here the watermark delay exceeds the data span, so nothing
    evicts and the emitted set is bit-complete; production pipelines
    shrink the delay to bound state at the cost of dropping
    later-than-delay data — the trade test_streaming exercises. Matches
    emit as they are found (append semantics), so the sink needs no
    fold. Scale: state shuffles once per side on user_id — the same
    exchange the batch join would make; the range conjunct bounds each
    buffered row's lifetime."""

    tmp = tempfile.mkdtemp(prefix="zspark_q131_")
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        "user_id",
        "event_type",
    )
    src = f"{tmp}/src"
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def _side(tag: str, typ: str):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{tag}_user"),
                F.col("ts").alias(f"{tag}_ts"),
            )
            .withWatermark(f"{tag}_ts", "400 days")
        )

    clicks, purchases = _side("c", "click"), _side("p", "purchase")
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    name = f"q131_sink_{abs(hash(sf_dir)) % 10_000}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q135_stream_dedup_builtin",
    """
    SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
    FROM documents GROUP BY 1
    """,
)
def q135_stream_dedup_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING built-in dedup (full oracle): Structured Streaming's
    native `dropDuplicatesWithinWatermark` over a 4-micro-batch
    availableNow pass — the engine-provided twin of the custom
    applyInPandasWithState dedup (q108). Keyed on (source, fp): a
    fingerprint can appear under several sources, and a GLOBAL dedup
    would credit the arrival-order-dependent first source — not
    well-defined across engines. With the watermark delay beyond the
    data span, every key survives exactly once, so per-source counts
    equal the batch COUNT(DISTINCT md5) per source.

    The built-in form is what production should prefer when "dedup
    within a lateness horizon" suffices: state eviction is handled by
    the watermark (bounded memory), no Python state function on the hot
    path. The custom stateful op remains for semantics the built-in
    lacks (TTL by count, first-occurrence payload capture)."""

    tmp = tempfile.mkdtemp(prefix="zspark_q135_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("fp"),
        # synthetic monotone event time: dedup-within-watermark needs
        # one. Offset away from epoch 0 — the initial watermark IS 0, and
        # a row landing exactly on it is discarded as late (cost one row
        # in testing; pinned here)
        F.timestamp_micros((F.col("doc_id") + 1) * 1_000_000).alias("ts"),
    )
    src = f"{tmp}/src"
    docs.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    deduped = (
        stream.withWatermark("ts", "400 days")
        .dropDuplicatesWithinWatermark(["source", "fp"])
    )
    name = f"q135_sink_{abs(hash(sf_dir)) % 10_000}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(name)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )


@query(
    "q136_jsonl_roundtrip",
    f"""
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           sum({C.format(x='value')}) AS sum_c
    FROM events GROUP BY 1, 2
    """,
)
def q136_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink fidelity: events written as JSONL and read
    back through the JSON reader with an EXPLICIT schema, then
    aggregated — results must equal the oracle computed on the original
    parquet, proving the text round-trip loses nothing. Timestamps
    travel as exact epoch-nanos longs (ISO-string timestamps re-enter
    through timezone-dependent parsing — the classic JSONL landmine;
    ship integers). Doubles round-trip via JSON's shortest-repr and are
    re-quantized to cents after the read, so even a last-ulp textual
    wobble cannot reach the aggregate.

    Scale: JSONL is the landing format of most crawls; the reader
    streams per-file (no shuffle), schema-on-read skips inference (a
    full extra pass at 100 TB), and the aggregate is the usual
    partial+final pair."""

    tmp = tempfile.mkdtemp(prefix="zspark_q136_")
    ev = load_table(spark, sf_dir, "events").select(
        "ts_ns", "event_type", "value"
    )
    path = f"{tmp}/events_jsonl"
    ev.write.json(path)
    back = spark.read.schema("ts_ns long, event_type string, value double").json(
        path
    )
    return back.groupBy(
        "event_type",
        (F.floor(F.expr("ts_ns div 1000000000") / 86400) * 86400)
        .cast("long")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("value")).alias("sum_c"),
    )


@query(
    "q137_csv_roundtrip",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           sum({C.format(x='l_extendedprice')}) AS price_c,
           sum({C.format(x='l_quantity')}) AS qty_c
    FROM lineitem GROUP BY 1, 2
    """,
)
def q137_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink fidelity: lineitem's measure columns written as
    headered CSV and read back with an explicit schema (no inference
    pass), aggregated to the Q1-style panel — equal to the oracle on
    the original parquet. Doubles survive via shortest-repr round-trip
    and are re-quantized to cents post-read; strings here are
    delimiter-safe (real pipelines must also pin quote/escape modes —
    the reader options are part of the contract, not decoration).

    Scale: CSV remains the interchange format for warehouse dumps; the
    reader is splittable per file, so parallelism follows file layout.
    Schema-on-read skips the inference scan."""

    tmp = tempfile.mkdtemp(prefix="zspark_q137_")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )
    path = f"{tmp}/lineitem_csv"
    l.write.option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema(
            "l_returnflag string, l_linestatus string,"
            " l_extendedprice double, l_quantity double"
        )
        .csv(path)
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("l_extendedprice")).alias("price_c"),
        F.sum(cents("l_quantity")).alias("qty_c"),
    )


@query(
    "q139_zorder_scan",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum({C.format(x='value')}) AS sum_c
    FROM events
    WHERE user_id BETWEEN 40 AND 80
      AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY 1
    """,
)
def q139_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a Z-ORDERED store (sources/layout): events are
    rewritten once, Morton-clustered on (ts_ns, user_id), and a query
    filtering BOTH dimensions reads it back — values must equal the
    oracle on the original table (layout changes bytes-on-disk order,
    never content).

    Why it matters at 100 TB: a day-partitioned store prunes time but
    scans every file for a user predicate; the z-ordered files are tight
    hyper-rectangles in (time, user) at once, so parquet min/max stats
    skip most files for EITHER filter (quantified by the pruning test in
    test_round5). The rewrite runs per ingest partition in production —
    locality only needs to hold within the files one scan considers."""

    # md5, not hash(): PYTHONHASHSEED randomizes hash() per process, so the
    # cache path changed every run (never reused) and could COLLIDE with a
    # different sf_dir's store from an earlier process — silently wrong data
    # behind the _SUCCESS gate.

    tag = hashlib.md5(f"q139|{sf_dir}".encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/zspark_q139_store_{tag}"

    # _SUCCESS gates the cache: a crashed partial write must not be
    # mistaken for a complete store on the next run
    if not os.path.isfile(f"{path}/_SUCCESS"):
        ev = load_table(spark, sf_dir, "events").select(
            "ts_ns", "user_id", "event_type", "value"
        )
        zorder_write(ev, path, ["ts_ns", "user_id"], n_files=16)
    back = spark.read.parquet(path)
    lo = 1704844800 * 1_000_000_000  # 2024-01-10 UTC as epoch-nanos
    hi = 1705708800 * 1_000_000_000  # 2024-01-20
    return (
        back.filter(
            F.col("user_id").between(40, 80)
            & (F.col("ts_ns") >= lo)
            & (F.col("ts_ns") < hi)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("sum_c"),
        )
    )


@query(
    "q144_hopping_window",
    """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS slot
      FROM events
    ),
    fanout AS (
      SELECT event_type, slot - o.off * 900 AS win_start
      FROM e CROSS JOIN (
        SELECT unnest(generate_series(0, 3)) AS off) o
    )
    SELECT event_type, win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM fanout GROUP BY 1, 2
    """,
)
def q144_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation: 1-hour windows advancing
    every 15 minutes — each event lands in 4 overlapping windows, the
    standard smoothing form for rate dashboards that tumbling buckets
    (every z-query) cannot express. Native `F.window(ts, '1 hour',
    '15 minutes')`; the oracle replays the fan-out arithmetically
    (slot − k·900 for k in 0..3).

    Scale: the window expands each row 4× BEFORE the partial aggregate,
    so map-side combine still applies and the shuffle carries only
    (type, window) cells — overlap factor × cell count, not overlap ×
    rows. Window starts are exact epoch seconds from the instant
    rebuilt off ts_ns (timezone-free both engines). The same expression
    runs unchanged under readStream with a watermark — this is the
    batch twin of the streaming hop."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("t"),
    )
    return (
        ev.groupBy(
            "event_type", F.window("t", "1 hour", "15 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "n",
        )
    )


@query(
    "q229_orc_roundtrip",
    f"""
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           sum({C.format(x='value')}) AS sum_c
    FROM events GROUP BY 1, 2
    """,
)
def q229_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink fidelity (completes the q136/q137 format matrix:
    JSONL, CSV, ORC — the three landing formats besides parquet a lake
    actually serves): events written as ORC and read back, aggregated —
    equal to the oracle computed on the original parquet. ORC is binary
    columnar so longs/doubles are bit-preserved; timestamps still travel
    as epoch-nanos longs for engine-independent bucket math.

    Scale: ORC scans stripe-parallel with predicate pushdown like
    parquet; the aggregate is the usual partial+final pair."""

    tmp = tempfile.mkdtemp(prefix="zspark_q229_")
    ev = load_table(spark, sf_dir, "events").select("ts_ns", "event_type", "value")
    path = f"{tmp}/events_orc"
    ev.write.orc(path)
    back = spark.read.orc(path)
    return back.groupBy(
        "event_type",
        (F.floor(F.expr("ts_ns div 1000000000") / 86400) * 86400)
        .cast("long")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("value")).alias("sum_c"),
    )


def _stream_neardup_oracle(num_hashes: int = 16, bands: int = 8, min_match: int = 8) -> str:
    rpb = num_hashes // bands
    mins = ", ".join(
        f"min(md5(concat('{i}|', shingle))) AS h{i}" for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc, {j} AS band, md5(concat({hs})) AS bh FROM sig".format(
            j=j, hs=", ".join(f"h{j * rpb + r}" for r in range(rpb))
        )
        for j in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    # arrival order is (batch, id) lexicographic, and the fixture assigns
    # batch = doc_id % 4 — a pure function of the data, so the oracle needs
    # no recursion over arrival state to express "earlier-seen"
    return f"""
    WITH sh AS ({shingle_sql()}),
    sig AS (SELECT doc, {mins} FROM sh GROUP BY doc),
    bnd AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc AS doc, b.doc AS p
      FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
       AND ((b.doc % 4) < (a.doc % 4)
            OR ((b.doc % 4) = (a.doc % 4) AND b.doc < a.doc))
    ),
    dropped AS (
      SELECT DISTINCT c.doc FROM cand c
      JOIN sig sa ON sa.doc = c.doc
      JOIN sig sb ON sb.doc = c.p
      WHERE {matches} >= {min_match}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN d.doc IS NOT NULL THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(count(CASE WHEN d.doc IS NULL THEN 1 END) AS BIGINT) AS n_kept
    FROM documents LEFT JOIN dropped d ON d.doc = doc_id
    GROUP BY source
    """


@query("q231_stream_neardup", _stream_neardup_oracle())
def q231_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate filter (full oracle): the document corpus
    arrives as 4 micro-batches with INTERLEAVED ids (batch = doc_id % 4,
    so every batch spans the whole id range — out-of-order arrival); each
    batch is MinHash-signed, LSH-probed against the ACCUMULATED band/
    signature history (streaming/neardup.py), marked kept/dropped, and
    folded into state. A doc is dropped iff an EARLIER-ARRIVING doc —
    earlier batch, or same batch with smaller id — shares a band AND their
    16-hash signatures agree on >= 8 positions (est-J >= 0.5, the
    q195-calibrated estimator). Because the batch assignment is a pure
    function of the data, the pure-SQL oracle expresses arrival order as
    (doc_id % 4, doc_id) lexicographic with no recursion over arrival
    state; the interleaving means a large-id doc from batch 0 must
    suppress a small-id near-dup arriving in batch 3 — the property that
    distinguishes arrival-order from id-order semantics (round-5 verdict
    weak item).

    The run also exercises auto-compaction (compact_every=2: state folds
    into a versioned base twice mid-stream) and the bucketed band base
    (bucket_base=8: history side of the LSH join is exchange-free) —
    verdicts are invariant to both by construction, and the oracle checks
    that.

    Scale shape: per batch, one signature aggregate + one band-keyed
    equi-join per store part (the LSH-bounded join of q25); state is
    parquet, written per-batch-overwrite for exactly-once under
    checkpoint replay (the ingest.py ledger idea). The final aggregate is
    O(#sources) rows — collected so the temp state can be removed before
    returning (the one collect in this query)."""

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    if mx is None:
        return docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_dropped"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    tmp = tempfile.mkdtemp(prefix="zspark_q231_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        base = int(time.time()) - 1000
        for i in range(4):
            stage = f"{tmp}/stage{i}"
            docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.parquet(stage)
            part = next(
                f
                for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{src}/b{i}.parquet"
            os.rename(f"{stage}/{part}", dst)
            # ascending mtimes pin the FileStreamSource batch order to the
            # residue classes — the oracle's batch = doc_id % 4 mapping
            os.utime(dst, (base + i * 10, base + i * 10))
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_neardup_stream(
            spark,
            stream,
            state_dir=f"{tmp}/state",
            out_dir=f"{tmp}/out",
            checkpoint_dir=f"{tmp}/ckpt",
            num_hashes=16,
            bands=8,
            min_match=8,
            compact_every=2,
            bucket_base=8,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("q231 stream did not terminate within 600s")
        marked = spark.read.option("basePath", f"{tmp}/out").parquet(
            f"{tmp}/out/batch=*"
        )
        rows = (
            marked.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.count(F.when(F.col("dropped"), 1)).cast("long").alias("n_dropped"),
                F.count(F.when(~F.col("dropped"), 1)).cast("long").alias("n_kept"),
            )
            .collect()
        )
    finally:
        try:  # unregister the bucketed band table before its files vanish
            ptr = versions.current(f"{tmp}/state/bands")
            if ptr.get("table"):
                spark.sql(f"DROP TABLE IF EXISTS {ptr['table']}")
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, schema="source string, n_docs long, n_dropped long, n_kept long"
    )
