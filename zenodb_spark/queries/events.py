"""Event-stream analytics over ``events``: sessions, funnels, cohorts,
as-of attribution, sliding and skew-aware distinct counts, interval and
gap-filling time operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.functions.measures import cents
from zenodb_spark.operators import timeops
from zenodb_spark.operators.percentile import percentile_exact
from zenodb_spark.operators.sketch import heavy_hitters, kmv_jaccard, kmv_sketch
from zenodb_spark.operators.skew import distinct_count_skew, salted_join
from zenodb_spark.operators.timeops import asof_join
from zenodb_spark.operators.util import share
from zenodb_spark.queries.common import BUCKET, C, query


@query(
    "q52_sessionize",
    """
    WITH o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    l AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       >= 1800000000
                  OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             THEN 1 ELSE 0 END AS new_s
      FROM o
    ),
    s AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM l
    ),
    per AS (
      SELECT user_id, sid, count(*) AS n_events, max(us) - min(us) AS dur_us
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events,
           sum(dur_us) AS total_dur_us, max(n_events) AS max_session_events
    FROM per GROUP BY 1
    """,
)
def q52_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) per user via Spark's NATIVE
    session_window operator — one shuffle on user_id, sessions merged
    in-partition — then a per-user rollup. The oracle recomputes sessions
    with the classic gaps-and-islands LAG construction; boundary semantics
    (a gap of exactly 30 min starts a new session) are asserted equal."""
    ev = load_table(spark, sf_dir, "events")
    per = timeops.sessionize(ev, "ts", ("user_id",), "30 minutes")
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum("dur_us").alias("total_dur_us"),
        F.max("n_events").alias("max_session_events"),
    )


@query(
    "q53_json_props",
    """
    SELECT event_type, count(*) AS n,
           sum(CAST(props->>'$.k' AS BIGINT)) AS sum_k,
           sum(CAST(props->>'$.k' AS BIGINT)) / count(*) AS avg_k
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) >= 10
    GROUP BY 1
    """,
)
def q53_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull an integer out of the JSON `props`
    column (get_json_object — JVM-side, codegen), filter and aggregate on
    it. Integer sum + exact int/int division, so the oracle compare is
    exact. At scale the JSON parse happens once per row in the scan
    projection; no Python touches the path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


@query(
    "q54_asof_attribution",
    """
    WITH pc AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      WHERE event_type IN ('purchase', 'click')
    ),
    w AS (
      SELECT user_id, event_type, us,
             max(CASE WHEN event_type = 'click' THEN us END) OVER (
               PARTITION BY user_id
               ORDER BY us, (event_type = 'click')
               ROWS UNBOUNDED PRECEDING
             ) AS last_click_us
      FROM pc
    )
    SELECT (us // 86400000000) * 86400 AS bucket,
           count(*) AS n_purchases,
           count(last_click_us) AS n_with_prior,
           sum(us - last_click_us) AS sum_lag_us,
           CAST(sum(us - last_click_us) AS DOUBLE)
             / CAST(count(last_click_us) AS DOUBLE) AS avg_lag_us
    FROM w WHERE event_type = 'purchase' GROUP BY 1
    """,
)
def q54_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (training-pipeline extension; point-in-time attribution):
    each purchase is attributed to the user's most recent STRICTLY-prior
    click, then lag stats roll up per day. Uses operators/timeops.asof_join
    — union + running max(struct) over one shuffle on user_id, no range
    join, no time-bucket explosion (the oracle replays the same running
    max with a window CASE). Deterministic: µs integer lags, one double
    division for the average."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    ).filter(F.col("event_type").isin("purchase", "click"))
    purch = base.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = base.filter(F.col("event_type") == "click").drop("event_type")
    j = timeops.asof_join(purch, clicks, ("user_id",), "us", strict=True)
    lag = F.col("us") - F.col("asof_us")
    return (
        j.groupBy((F.expr("us div 86400000000") * 86400).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("asof_us").alias("n_with_prior"),
            F.sum(lag).alias("sum_lag_us"),
            (
                F.sum(lag).cast("double") / F.count("asof_us").cast("double")
            ).alias("avg_lag_us"),
        )
    )


@query(
    "q55_distinct_users",
    """
    SELECT event_type,
           (epoch_us(ts) // 86400000000) * 86400 AS bucket,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q55_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinality per (event_type, day) — the one aggregate
    family the reference's fixed set lacks (expr/aggregates.go has no
    DISTINCT). Spark plans count_distinct as expand + two-phase partial
    aggregation, so the map-side still combines before the shuffle. At
    100 TB swap in approx_count_distinct / hll_sketch_agg for a mergeable
    sketch state (same shape as our PERCENTILE sketch); the exact form is
    the oracle-checkable baseline."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        (F.expr("(ts_ns div 1000) div 86400000000") * 86400).alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )


_FUNNEL_W = 86400 * 1_000_000_000  # one day per step, in ns


@query(
    "q68_funnel",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) * 1000 AS tn FROM events
    ),
    u AS (
      SELECT user_id, min(CASE WHEN event_type = 'view' THEN tn END) AS tv
      FROM e GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.tn) AS tc
      FROM e JOIN u USING (user_id)
      WHERE e.event_type = 'click' AND u.tv IS NOT NULL
        AND e.tn > u.tv AND e.tn <= u.tv + {_FUNNEL_W}
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.tn) AS tp
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.tn > c.tc AND e.tn <= c.tc + {_FUNNEL_W}
      GROUP BY 1
    )
    SELECT '1_view' AS stage,
           CAST((SELECT count(*) FROM u WHERE tv IS NOT NULL) AS BIGINT) AS n_users
    UNION ALL
    SELECT '2_click', CAST((SELECT count(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT '3_purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
    """,
)
def q68_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: first view → first
    click within 1 day → first purchase within 1 day of that click.
    Each stage is one conditional-min aggregation plus one user-keyed join —
    all three shuffles share the user_id partitioning, no windows over
    global sorts.

    Round-6 subtree alignment (guide §2.4): tv feeds both its stage count
    and the tc join, tc feeds its count and the tp join — for AQE to reuse
    those shuffle stages instead of re-scanning events per consumer, every
    copy must canonicalize identically. Three no-op-on-the-data tweaks buy
    that: an explicit user_id null-filter at the scan (the join used to
    infer it on one branch only), explicit isNotNull filters on tc/tp (a
    min over joined non-null timestamps is never null), and stage counts
    over the VALUE column (count(tv) == count(1) under the filter) so
    column pruning cannot strip the aggregate out of the counted branch.
    Measured: events scanned 6× → 3× (one pass per event type)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts_ns")
        .filter(F.col("user_id").isNotNull())
    )
    tv = (
        ev.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts_ns"))).alias("tv"))
        .filter(F.col("tv").isNotNull())
    )
    tc = (
        ev.filter(F.col("event_type") == "click")
        .join(tv, "user_id")
        .filter(
            (F.col("ts_ns") > F.col("tv"))
            & (F.col("ts_ns") <= F.col("tv") + F.lit(_FUNNEL_W))
        )
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("tc"))
        .filter(F.col("tc").isNotNull())
    )
    tp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(tc, "user_id")
        .filter(
            (F.col("ts_ns") > F.col("tc"))
            & (F.col("ts_ns") <= F.col("tc") + F.lit(_FUNNEL_W))
        )
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("tp"))
        .filter(F.col("tp").isNotNull())
    )

    def stage(df, name, vcol):
        return df.agg(F.count(vcol).cast("long").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return stage(tv, "1_view", "tv").unionAll(stage(tc, "2_click", "tc")).unionAll(
        stage(tp, "3_purchase", "tp")
    )


@query(
    "q69_cohort_retention",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ),
    c AS (SELECT user_id, min(week) AS cohort FROM a GROUP BY 1)
    SELECT c.cohort, a.week - c.cohort AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q69_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week, counted
    in every later week they return — THE product-analytics rollup over an
    events stream. Two user-keyed aggregations + one co-partitioned join;
    (user, week) pairs dedup map-side before any shuffle."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.select(
            "user_id",
            F.floor(F.col("ts_ns") / F.lit(604800 * 1_000_000_000)).alias("week"),
        )
        .distinct()
    )
    c = a.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        a.join(c, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "q79_interarrival",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) * 1000
               - lag(epoch_us(ts) * 1000) OVER (
                   PARTITION BY event_type ORDER BY epoch_us(ts) * 1000, event_id
                 ) AS gap_ns
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_ns) AS BIGINT) AS n_gaps,
           CAST(quantile_cont(gap_ns, 0.5) AS DOUBLE) AS p50_gap_ns,
           CAST(quantile_cont(gap_ns, 0.95) AS DOUBLE) AS p95_gap_ns,
           CAST(max(gap_ns) AS BIGINT) AS max_gap_ns
    FROM g WHERE gap_ns IS NOT NULL
    GROUP BY 1
    """,
)
def q79_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type (P50/P95/max gap) —
    the burstiness panel of a stream-health dashboard. One lag window
    co-partitioned with the final aggregate on event_type (single
    exchange); gaps are exact integer nanoseconds so the interpolated
    quantiles are engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    g = ev.select(
        "event_type",
        (F.col("ts_ns") - F.lag("ts_ns").over(w)).alias("gap_ns"),
    ).filter(F.col("gap_ns").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.percentile("gap_ns", F.lit(0.5)).alias("p50_gap_ns"),
        F.percentile("gap_ns", F.lit(0.95)).alias("p95_gap_ns"),
        F.max("gap_ns").cast("long").alias("max_gap_ns"),
    )


@query(
    "q80_user_profile",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS BIGINT)
             AS active_days,
           CAST(min(epoch_us(ts) * 1000) AS BIGINT) AS first_ns,
           CAST(max(epoch_us(ts) * 1000) AS BIGINT) AS last_ns
    FROM events GROUP BY 1
    """,
)
def q80_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile: event volume, type breadth, active-day
    count, first/last seen — the feature row user-level models consume.
    Single hash aggregate on user_id with two count-distinct expansions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count_distinct(
            F.floor(F.col("ts_ns") / F.lit(86400 * 1_000_000_000))
        ).cast("long").alias("active_days"),
        F.min("ts_ns").cast("long").alias("first_ns"),
        F.max("ts_ns").cast("long").alias("last_ns"),
    )


@query(
    "q84_props_stats",
    """
    WITH k AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS kv
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(count(kv) AS BIGINT) AS n,
           CAST(sum(kv) AS BIGINT) AS sum_k,
           CAST(min(kv) AS BIGINT) AS min_k,
           CAST(max(kv) AS BIGINT) AS max_k,
           (CAST(sum(kv) AS DOUBLE) / count(kv)) AS avg_k
    FROM k GROUP BY 1
    """,
)
def q84_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup: numeric stats of the JSON `props.k` field
    per event type. get_json_object runs inside the scan projection
    (codegen, no UDF); all aggregates are exact integers with one trailing
    IEEE division for the mean."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    kv = F.get_json_object("props", "$.k").cast("long")
    k = ev.select("event_type", kv.alias("kv"))
    return k.groupBy("event_type").agg(
        F.count("kv").cast("long").alias("n"),
        F.sum("kv").cast("long").alias("sum_k"),
        F.min("kv").cast("long").alias("min_k"),
        F.max("kv").cast("long").alias("max_k"),
        (F.sum("kv").cast("double") / F.count("kv")).alias("avg_k"),
    )


@query(
    "q90_value_histogram",
    """
    SELECT event_type,
           CAST(least(floor(value / 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(value) AS DOUBLE) AS bin_min,
           CAST(max(value) AS DOUBLE) AS bin_max
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q90_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (10-unit bins, top bin
    open) — the distribution panel of a metrics dashboard; one hash
    aggregate, bin math exact."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bin_ = F.least(F.floor(F.col("value") / 10), F.lit(9)).cast("long")
    return ev.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").cast("double").alias("bin_min"),
        F.max("value").cast("double").alias("bin_max"),
    )


@query(
    "q91_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) * 1000, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q91_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (the Markov matrix of the
    behavioral stream). One lead window per user partition, then a global
    25-cell aggregate — the window and the per-user ordering share the
    user_id exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@query(
    "q96_wow_change",
    f"""
    WITH w AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT) AS week,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, week, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM w
    )
    SELECT event_type, week, n, CAST(prev_n AS BIGINT) AS prev_n,
           ((CAST(n AS DOUBLE) - prev_n) / prev_n) AS wow_change
    FROM lagged WHERE prev_n IS NOT NULL AND prev_n > 0
    """,
)
def q96_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type — the growth panel: weekly
    counts, one lag window per type sharing the aggregate's partitioning,
    ratio of exact integers."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            "event_type",
            (F.floor(F.col("ts_ns") / F.lit(604800 * 1_000_000_000)) * 604800)
            .cast("long")
            .alias("week"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lw = Window.partitionBy("event_type").orderBy("week")
    lagged = w.withColumn("prev_n", F.lag("n").over(lw)).filter(
        F.col("prev_n").isNotNull() & (F.col("prev_n") > 0)
    )
    return lagged.select(
        "event_type",
        "week",
        "n",
        F.col("prev_n").cast("long").alias("prev_n"),
        (
            (F.col("n").cast("double") - F.col("prev_n")) / F.col("prev_n")).alias("wow_change"),
    )


@query(
    "q100_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
      FROM events
    ), isl AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ), streaks AS (
      SELECT user_id, island, count(*) AS len FROM isl GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM streaks GROUP BY 1
    """,
)
def q100_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-islands).

    Map-side (user, day) dedup shrinks the stream to at most
    users x days rows before the only shuffle; the island key
    ``day - row_number`` is exact integer arithmetic inside a user-keyed
    window that shares the dedup's hash partitioning, so the whole chain
    is one exchange. At 100 TB the user-day matrix is the small relation
    (|users| x retention-days), not the event count."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id", F.expr("ts_ns div 86400000000000").cast("long").alias("day")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn("island", F.col("day") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("active_days"),
    )


@query(
    "q111_burst_detection",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
    ), burst AS (
      SELECT user_id,
             count(*) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS w_cnt
      FROM e
    )
    SELECT user_id, CAST(max(w_cnt) AS BIGINT) AS max_burst,
           CAST(count(*) AS BIGINT) AS n_events,
           (max(w_cnt) >= 10) AS flagged
    FROM burst GROUP BY 1
    """,
)
def q111_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window burst detection: for every event, the count of the
    same user's events in the trailing hour (a RANGE-frame window over
    epoch seconds — value-based, not row-based, so sparse activity is
    handled exactly); per user, the max burst and a rate-limit flag.

    One user-keyed exchange shared by the window and the final aggregate;
    the RANGE frame is Spark's native sliding frame (no self-join, no
    interval explosion). At 100 TB the frame bound keeps per-key state at
    O(events-in-window), and a hot user is one key — salt by day first if
    a single user exceeds a task's memory."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.expr("ts_ns div 1000000000").cast("long").alias("sec"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    burst = e.withColumn("w_cnt", F.count(F.lit(1)).over(w))
    return burst.groupBy("user_id").agg(
        F.max("w_cnt").cast("long").alias("max_burst"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("w_cnt") >= 10).alias("flagged"),
    )


@query(
    "q124_cooccurrence_salted",
    """
    WITH dt AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM dt a
    JOIN dt b ON a.user_id = b.user_id AND a.day = b.day
             AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def q124_cooccurrence_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day event-type co-occurrence matrix via a SALTED self-join
    (operators/skew.salted_join): which event types the same user
    performs on the same day.

    Why salted: the join key (user_id, day) is organically skewed — a
    bot-grade user's day can hold millions of rows at 100 TB, and a
    plain hash join funnels each hot (user, day) into ONE task. The left
    side gets a deterministic md5 salt (retry-safe; rand() is not), the
    right side replicates 8×, so each hot key spreads over 8 tasks. The
    result set is IDENTICAL to the unsalted join — the oracle is the
    plain SQL join — which is exactly the property the operator
    guarantees. Dedup to (user, day, type) grain first, so the join
    inputs are minimal before replication."""

    ev = load_table(spark, sf_dir, "events")
    # the deduped (user, day, type) frame is BOTH sides of the self-join;
    # checkpoint so the scan + distinct shuffle runs once, not twice
    # (size-gated round 7)
    dt = share(
        ev.select("user_id", F.to_date("ts").alias("day"), "event_type").distinct()
    )
    left = dt.withColumnRenamed("event_type", "type_a")
    right = dt.withColumnRenamed("event_type", "type_b")
    pairs = salted_join(
        left, right, ["user_id", "day"], n_salts=8, salt_from="type_a"
    ).filter(F.col("type_a") < F.col("type_b"))
    return pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "q125_distinct_users_skew",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def q125_distinct_users_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type through the skew-safe
    two-step lowering (operators/skew.distinct_count_skew): event_type
    has a HANDFUL of values over the whole stream — the textbook hot-key
    aggregate. The dedupe shuffle runs on (event_type, user_id), whose
    cardinality is the full user base (spreads across every task); the
    per-type count then sees only the deduped survivors. A naive
    groupBy(event_type).agg(count_distinct(...)) relies on the planner's
    expand — this spells the safe shape out and pins it with a plan
    test."""

    ev = load_table(spark, sf_dir, "events")
    return distinct_count_skew(ev, ["event_type"], "user_id", out_col="n_users")


@query(
    "q128_time_weighted_avg",
    f"""
    WITH o AS (
      SELECT user_id, event_id,
             {C.format(x='value')} AS val_c,
             epoch_ms(ts) AS ms
      FROM events
    ),
    g AS (
      SELECT user_id, val_c,
             lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms
               AS gap_ms
      FROM o
    )
    SELECT user_id,
           (CAST(sum(val_c * gap_ms) AS DOUBLE)
                 / CAST(sum(gap_ms) AS DOUBLE) / 100.0) AS twa_value,
           CAST(sum(gap_ms) AS BIGINT) AS span_ms,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM g WHERE gap_ms IS NOT NULL AND gap_ms > 0
    GROUP BY 1
    """,
)
def q128_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user — each observation
    weighted by how long it was the LATEST observation (the metric a
    sampled gauge needs; a plain AVG over-weights bursts). The core
    irregular-time-series operator the reference's fixed-period buckets
    cannot express.

    Exact: epoch-ms from the exact nanos column, value in integer cents;
    Σ(val·gap) accumulates as decimal(38,0) — a hot user's product sum
    can pass 2^63 at 100 TB (val_c ≤ ~5e6 cents × gaps in ms over years)
    — and DuckDB's BIGINT sum widens to HUGEINT the same way, so both
    engines divide the same exact integers. One user-keyed shuffle
    shared by the lead window and the aggregate (exchange reuse);
    zero-gap ties (same ms) drop out of both numerator and denominator
    identically."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        "user_id",
        "event_id",
        cents("value").alias("val_c"),
        F.expr("ts_ns div 1000000").alias("ms"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    g = o.withColumn("gap_ms", F.lead("ms").over(w) - F.col("ms")).filter(
        F.col("gap_ms").isNotNull() & (F.col("gap_ms") > 0)
    )
    return g.groupBy("user_id").agg(
        (
            F.sum((F.col("val_c") * F.col("gap_ms")).cast("decimal(38,0)"))
            .cast("double")
            / F.sum(F.col("gap_ms").cast("decimal(38,0)")).cast("double")
            / F.lit(100.0)).alias("twa_value"),
        F.sum("gap_ms").cast("long").alias("span_ms"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "q129_gapfill_locf",
    f"""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             sum({C.format(x='value')}) AS s_c,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(bucket) AS bmin, max(bucket) AS bmax FROM b
    ),
    spine AS (
      SELECT t.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(bmin, bmax, 3600)) AS bucket
        FROM bounds
      ) g
    ),
    joined AS (
      SELECT sp.event_type, sp.bucket, b.s_c, b.cnt
      FROM spine sp LEFT JOIN b
        ON b.event_type = sp.event_type AND b.bucket = sp.bucket
    ),
    filled AS (
      SELECT event_type, bucket,
             CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS filled,
             last_value(s_c IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket) AS f_s,
             last_value(cnt IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket) AS f_c
      FROM joined
    )
    SELECT event_type, bucket, CAST(filled AS BIGINT) AS filled,
           (CAST(f_s AS DOUBLE) / f_c / 100.0) AS avg_value
    FROM filled WHERE f_c IS NOT NULL
    """,
)
def q129_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + last-observation-carried-forward: densify the hourly
    per-type average-value series over the full observed range, filling
    empty hours with the most recent hour's value (flagged). The
    standard time-series densification the reference leaves to clients
    (its buckets simply skip empty periods).

    Plan: per-(type, hour) aggregate (one shuffle, map-side combined);
    the spine is generated — sequence() over the 1-row global bounds
    cross-joined with the distinct types, never materialized wider than
    types × hours; LOCF is `last(..., ignorenulls)` over the type-
    partitioned window sharing the spine's partitioning. The carried
    value is the exact integer (Σcents, count) PAIR — carrying a
    pre-divided float would re-round; the division happens once at the
    end. Leading buckets before a type's first observation are dropped
    (no value to carry) in both engines."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            (F.floor(F.expr("ts_ns div 1000000000") / 3600) * 3600)
            .cast("long")
            .alias("bucket"),
            cents("value").alias("val_c"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("val_c").alias("s_c"), F.count(F.lit(1)).alias("cnt"))
    )
    bounds = b.agg(
        F.min("bucket").alias("bmin"), F.max("bucket").alias("bmax")
    )
    # derive the type spine from the already-aggregated b (identical set:
    # every event row lands in exactly one (type, bucket) group) instead
    # of a second scan + distinct over the raw events
    types = b.select("event_type").distinct()
    spine = types.join(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("bmin"), F.col("bmax"), F.lit(3600))
        ).alias("bucket"),
    )
    joined = spine.join(b, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.select(
        "event_type",
        "bucket",
        F.when(F.col("cnt").isNull(), 1).otherwise(0).cast("long").alias("filled"),
        F.last("s_c", ignorenulls=True).over(w).alias("f_s"),
        F.last("cnt", ignorenulls=True).over(w).alias("f_c"),
    )
    return filled.filter(F.col("f_c").isNotNull()).select(
        "event_type",
        "bucket",
        "filled",
        (
            F.col("f_s").cast("double") / F.col("f_c") / F.lit(100.0)).alias("avg_value"),
    )


@query(
    "q140_kmv_overlap",
    """
    WITH h AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ),
    sk AS (
      SELECT event_type, list_sort(list(hx))[1:64] AS kmin
      FROM h GROUP BY 1
    ),
    ex AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.kmin AS ka, b.kmin AS kb
      FROM sk a JOIN sk b ON a.event_type < b.event_type
    ),
    est AS (
      SELECT type_a, type_b,
             len(list_filter(list_sort(list_distinct(ka || kb))[1:64],
                 x -> list_contains(ka, x) AND list_contains(kb, x)))
               AS n_shared,
             len(list_sort(list_distinct(ka || kb))[1:64]) AS n_union_k
      FROM pairs
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(DISTINCT CASE WHEN a.user_id = b.user_id
                                 THEN a.user_id END) AS n_inter,
             count(DISTINCT a.user_id) + count(DISTINCT b.user_id) AS n_sum
      FROM ex a JOIN ex b ON a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, CAST(64 AS BIGINT) AS k,
           CAST(e.n_shared AS BIGINT) AS n_shared,
           (e.n_shared / CAST(e.n_union_k AS DOUBLE)) AS est_jaccard,
           (CAST(x.n_inter AS DOUBLE)
                 / (x.n_sum - x.n_inter)) AS exact_jaccard
    FROM est e JOIN exact x
      ON x.type_a = e.type_a AND x.type_b = e.type_b
    """,
)
def q140_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation via KMV sketches (operators/sketch):
    Jaccard similarity of the user sets of every event-type pair,
    estimated from O(k)-state k-minimum-values sketches and compared
    against the exact Jaccard in the same panel — the sketch answers
    the set-INTERSECTION question HLL (z14) cannot.

    Determinism: the sketch is the k lexicographically-smallest md5 hex
    digests — string order IS numeric order at fixed width, so DuckDB
    replays the identical sketch; the estimate n_shared/|U_k| is an
    exact rational (|U_k|, not k: on small sets the sketch is
    exhaustive and /k would underestimate). Scale: the two-phase salted k-min bounds every
    intermediate at k elements (a hot key never materializes its
    distinct set); the pair join moves k-element arrays, not users.
    The exact panel exists for accuracy audit at test scale — at 100 TB
    one runs only the sketch side."""

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmin"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmin"))
    est = kmv_jaccard(a, b, F.col("type_a") < F.col("type_b"), k=64).select(
        "type_a", "type_b", "n_shared", "est_jaccard"
    )  # n_union_k folds into est_jaccard; not carried to the panel
    # Exact panel via an EQUI-join on user_id (round 6): the original
    # formulation cross-joined the distinct (type, user) frame on
    # type_a < type_b alone — a BroadcastNestedLoopJoin materializing
    # |users_a|·|users_b| rows per type pair (guide §3's exploding join;
    # O(users²) at any scale) just to count matches. The same integers
    # fall out of |A∩B| = count_distinct over the user_id equi-join
    # (each user contributes its own type pairs only) and
    # n_sum = |A| + |B| from per-type distinct counts; the complete
    # type-pair spine (every pair with both sides non-empty, n_inter=0
    # when disjoint) is the tiny type-level cross join. exact_jaccard is
    # computed from the identical (n_inter, n_sum) longs below, so the
    # doubles are bit-identical.
    ex = ev.select("event_type", "user_id").distinct()
    cnt = ex.groupBy("event_type").agg(F.count_distinct("user_id").alias("nu"))
    spine = cnt.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    ).join(
        cnt.select(F.col("event_type").alias("type_b"), F.col("nu").alias("nb")),
        F.col("type_a") < F.col("type_b"),
    )
    inter = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count_distinct(F.col("x.user_id")).alias("n_inter"))
    )
    exact = spine.join(inter, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        F.coalesce(F.col("n_inter"), F.lit(0).cast("long")).alias("n_inter"),
        (F.col("na") + F.col("nb")).alias("n_sum"),
    )
    return (
        est.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.lit(64).cast("long").alias("k"),
            F.col("n_shared").cast("long").alias("n_shared"),
            "est_jaccard",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_sum") - F.col("n_inter"))).alias("exact_jaccard"),
        )
    )


@query(
    "q142_diurnal_profile",
    """
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n,
           (count(*) / CAST(sum(count(*)) OVER (PARTITION BY event_type)
                            AS DOUBLE)) AS share
    FROM events GROUP BY 1, 2
    """,
)
def q142_diurnal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal activity profile: event share by hour-of-day per type —
    the seasonality panel behind anomaly baselines (q70's z-scores
    assume you know the daily shape). Hour is extracted from the NTZ
    wall time (matching the oracle's EXTRACT); the share divides exact
    integer counts once at the end. One aggregate plus a 24-row-per-type
    window that reuses the aggregate's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "hour_of_day",
        "n",
        (F.col("n") / F.sum("n").over(w).cast("double")).alias("share"),
    )


@query(
    "q143_conversion_latency",
    """
    WITH v AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT p.event_id,
             CAST(floor(epoch_ms(p.ts)) AS BIGINT)
               - max(CAST(floor(epoch_ms(v.ts)) AS BIGINT)) AS lat_ms
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
      GROUP BY p.event_id, p.ts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_conversions,
           (quantile_cont(lat_ms, 0.5) / 1000.0) AS p50_s,
           (quantile_cont(lat_ms, 0.95) / 1000.0) AS p95_s,
           (max(lat_ms) / 1000.0) AS max_s
    FROM m
    """,
)
def q143_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase latency distribution: for every purchase, the time
    since that user's MOST RECENT prior view (as-of semantics), then
    exact interpolated P50/P95/max over all conversions — the
    time-to-convert panel that q68's step counts don't give.

    The as-of match is operators/timeops.asof_join — union + one
    running-max window over a single user-keyed shuffle, no range join,
    no per-row subquery; latencies are exact integer milliseconds from
    the nanos column. The oracle brute-forces the same match with a
    correlated join."""

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.expr("ts_ns div 1000000").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.expr("ts_ns div 1000000").alias("t")
    )
    matched = asof_join(
        purchases, views, ("user_id",), "t", strict=False
    ).filter(F.col("asof_t").isNotNull())
    lat = matched.select((F.col("t") - F.col("asof_t")).alias("lat_ms"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        (percentile_exact("lat_ms", 0.5) / F.lit(1000.0)).alias("p50_s"),
        (percentile_exact("lat_ms", 0.95) / F.lit(1000.0)).alias(
            "p95_s"
        ),
        (F.max("lat_ms") / F.lit(1000.0)).alias("max_s"),
    )


@query(
    "q153_interval_join",
    f"""
    WITH ev AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             {C.format(x='value')} AS vc
      FROM events
    ),
    counts AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    hot AS (
      SELECT event_type, bucket FROM (
        SELECT event_type, bucket,
               row_number() OVER (
                 PARTITION BY event_type ORDER BY c DESC, bucket
               ) AS rn
        FROM counts
      ) WHERE rn <= 5
    ),
    win AS (
      SELECT event_type AS window_type,
             bucket - 1800 AS ws, bucket + 5400 AS we
      FROM hot
    )
    SELECT w.window_type, w.ws AS window_start, e.event_type,
           count(*) AS n_events, sum(e.vc)/100.0 AS sum_value
    FROM win w JOIN ev e ON e.es >= w.ws AND e.es < w.we
    GROUP BY 1, 2, 3
    """,
)
def q153_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join, binned: each event type's 5 busiest
    hours widen to unaligned 2-hour windows [hour−30m, hour+90m), and every
    raw event landing in a window is attributed to it, cross-type.

    The oracle joins on the raw BETWEEN predicate — in Spark that theta-join
    would plan a BroadcastNestedLoopJoin (O(|ev|·|win|) comparisons), so
    ``timeops.interval_join`` quantizes the axis into 1-hour bins, explodes
    each window to the ~3 bins it overlaps, and equi-joins on the bin before
    re-checking the exact predicate — a plain hash join at any scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 3600).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), "bucket")
    win = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("event_type").alias("window_type"),
            (F.col("bucket") - 1800).alias("ws"),
            (F.col("bucket") + 5400).alias("we"),
        )
    )
    pts = ev.select(
        "event_type",
        timeops.bucket_epoch("ts", 1).alias("es"),
        cents("value").alias("vc"),
    )
    j = timeops.interval_join(pts, win, "es", "ws", "we", bin_width=3600)
    return j.groupBy(
        "window_type", F.col("ws").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("vc") / F.lit(100.0)).alias("sum_value"),
    )


@query(
    "q154_heavy_hitters",
    """
    WITH v AS (
      SELECT CAST(floor(value) AS BIGINT) AS value_bin
      FROM events WHERE value IS NOT NULL
    )
    SELECT value_bin, count(*) AS n_occurrences
    FROM v GROUP BY 1
    HAVING count(*) * 60 >= (SELECT count(*) FROM v)
    """,
)
def q154_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items: integer value bins occurring in ≥ 1/60 of all
    events. The oracle is the textbook full groupBy+HAVING; the Spark side
    is sketch.heavy_hitters — per-partition Misra-Gries candidate summaries
    (no shuffle of the key space) + an exact broadcast recount, so the same
    answer costs O(candidates) state instead of O(distinct keys) at 100 TB."""

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        F.floor("value").cast("long").alias("value_bin")
    )
    return heavy_hitters(v, "value_bin", 60)


@query(
    "q161_sliding_distinct",
    """
    WITH ev AS (
      SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ev)
    SELECT d.day, count(DISTINCT e.user_id) AS users_7d
    FROM days d JOIN ev e
      ON e.day BETWEEN d.day - 6*86400 AND d.day
    GROUP BY 1
    """,
)
def q161_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding distinct users per day — the rolling-MAU shape.
    COUNT(DISTINCT) cannot ride a RANGE window frame, and the oracle's
    interval self-join is quadratic-ish; the scale form dedups to
    (user, day) pairs first, then explodes each pair to the ≤7 windows it
    can serve (bounded fan-out), semi-joins to observed days, and counts
    distinct per window — every stage linear in distinct (user, day)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        timeops.bucket_epoch("ts", 86400).alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    tgt = ud.select(
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(6 * 86400), F.lit(86400)
            )
        ).alias("day_t"),
        "user_id",
    )
    return (
        tgt.join(days, tgt["day_t"] == days["day"])
        .select("day", "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("users_7d"))
    )


@query(
    "q172_sliding_distinct_kmv",
    """
    WITH ev AS (
      SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day, user_id
      FROM events
    ),
    ud AS (SELECT DISTINCT day, user_id FROM ev),
    days AS (SELECT DISTINCT day FROM ev),
    win AS (
      SELECT d.day AS day_t, u.user_id
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 6*86400 AND d.day
    ),
    wd AS (SELECT DISTINCT day_t, user_id FROM win),
    exact AS (SELECT day_t, count(*) AS exact_users FROM wd GROUP BY 1),
    h AS (SELECT DISTINCT day_t, md5(CAST(user_id AS VARCHAR)) AS hx FROM wd),
    r AS (
      SELECT day_t, hx,
             row_number() OVER (PARTITION BY day_t ORDER BY hx) AS rn,
             count(*) OVER (PARTITION BY day_t) AS nd
      FROM h
    ),
    kth AS (
      SELECT day_t, nd, hx AS u64
      FROM r WHERE rn = 64
    )
    SELECT e.day_t AS day, CAST(e.exact_users AS BIGINT) AS exact_users,
           CASE WHEN k.u64 IS NULL THEN CAST(e.exact_users AS DOUBLE)
                ELSE 63.0 / (CAST(('0x' || substr(k.u64, 1, 8)) AS BIGINT)
                             / 4294967296.0)
           END AS kmv_estimate
    FROM exact e LEFT JOIN kth k ON k.day_t = e.day_t
    """,
)
def q172_sliding_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users via MERGEABLE KMV sketches: each day
    folds to one k=64-minimum-hash row; a window's sketch is the k
    smallest of the union of its 7 daily sketches — raw (user, day) rows
    are touched ONCE, then every window works on O(7k) state. This is the
    scale form of q161 (whose exact explode re-shuffles every pair per
    window) — at 100 TB the daily sketches are a few KB each and windowed
    distinct becomes metadata-sized work.

    Determinism: the KMV "hash" is the md5 hex string (lexicographic
    order == numeric order), so sketch, union, and the (k−1)/U_k
    estimate replay exactly in DuckDB; windows with fewer than k distinct
    values short-circuit to the exact count in both engines. Exact count
    rides along for the error panel."""

    K = 64
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        timeops.bucket_epoch("ts", 86400).alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    # exact rolling distinct (the q161 shape) for the error column
    tgt = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6 * 86400), F.lit(86400))
        ).alias("day_t"),
        "user_id",
    )
    wd = (
        tgt.join(days, tgt["day_t"] == days["day"])
        .select("day_t", "user_id")
        .distinct()
    )
    exact = wd.groupBy("day_t").agg(F.count(F.lit(1)).alias("exact_users"))
    # daily KMV sketches → exploded to the ≤7 windows they serve → merged
    daily = kmv_sketch(ud, ["day"], "user_id", k=K)
    served = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6 * 86400), F.lit(86400))
        ).alias("day_t"),
        "kmin",
    ).join(days.withColumnRenamed("day", "day_t"), "day_t")
    merged = served.groupBy("day_t").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmin")))), 1, K
        ).alias("kmin")
    )
    est = merged.select(
        "day_t",
        F.when(F.size("kmin") < K, F.size("kmin").cast("double")).otherwise(
            F.lit(float(K - 1))
            / (
                F.conv(F.substring(F.element_at("kmin", K), 1, 8), 16, 10).cast(
                    "long"
                )
                / F.lit(4294967296.0)
            )
        ).alias("kmv_estimate"),
    )
    return exact.join(est, "day_t").select(
        F.col("day_t").alias("day"),
        F.col("exact_users").cast("long").alias("exact_users"),
        "kmv_estimate",
    )
