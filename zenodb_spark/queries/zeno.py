"""Core ZenoDB semantics over the ``events`` stream (SURVEY.md §2.3), and the
engine entries (``z*``): the full SQL-dialect engine (schema → ingest →
dialect query) validated against the DuckDB oracle. The engine entries use
only order-independent aggregates (COUNT/MIN/MAX/histogram-sketch), so
values are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zenodb_spark.catalog import load_table
from zenodb_spark.engine import DB
from zenodb_spark.functions.dims import CONCAT, DECODE, LEN, REPLACEALL, SPLIT, SUBSTR
from zenodb_spark.functions.measures import BOUNDED, IF, cents, safe_div
from zenodb_spark.operators import timeops
from zenodb_spark.operators.crosstab import crosstab
from zenodb_spark.operators.percentile import hist_agg, hist_quantile, percentile_exact
from zenodb_spark.operators.topk import topk
from zenodb_spark.queries.common import BUCKET, C, query


@query(
    "q01_sum_period",
    f"""
    SELECT event_type, {BUCKET.format(p=3600)} AS bucket,
           sum({C.format(x='value')})/100.0 AS sum_value,
           count(*) AS n_points
    FROM events GROUP BY 1, 2
    """,
)
def q01_sum_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT value, _points FROM events GROUP BY event_type, period(1h) —
    default-to-SUM + the implicit _points counter (reference sql/sql.go:727,
    core/core.go:26)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 3600).alias("bucket")
    ).agg(
        (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
        F.count(F.lit(1)).alias("n_points"),
    )


@query(
    "q02_avg_min_max",
    f"""
    SELECT event_type,
           (sum({C.format(x='value')})/100.0) / count(value) AS avg_value,
           min(value) AS min_value, max(value) AS max_value,
           count(*) AS n_points
    FROM events GROUP BY 1
    """,
)
def q02_avg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/MIN/MAX/COUNT aggregates (reference expr/aggregates.go:4–50)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        ((F.sum(cents("value")) / F.lit(100.0)) / F.count("value")).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("n_points"),
    )


@query(
    "q03_if_conditional",
    """
    SELECT user_id % 10 AS cohort,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
           count(*) AS total,
           count(CASE WHEN event_type = 'error' THEN 1 END) / count(*) AS error_rate
    FROM events GROUP BY 1
    """,
)
def q03_if_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IF(cond, agg) — conditional aggregation, the reference's correlation
    primitive (reference expr/if.go:16–95, README 'bye bye JOINs')."""
    ev = load_table(spark, sf_dir, "events")
    errors = F.count(IF(F.col("event_type") == "error", F.lit(1)))
    return ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        errors.alias("errors"),
        F.count(F.lit(1)).alias("total"),
        (errors / F.count(F.lit(1))).alias("error_rate"),
    )


@query(
    "q04_bounded_avg",
    f"""
    SELECT event_type,
           (sum(CASE WHEN value >= 10 AND value <= 90 THEN {C.format(x='value')} END)/100.0)
             / count(CASE WHEN value >= 10 AND value <= 90 THEN 1 END) AS bounded_avg,
           count(CASE WHEN value >= 10 AND value <= 90 THEN 1 END) AS n_in_bounds
    FROM events GROUP BY 1
    """,
)
def q04_bounded_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG(BOUNDED(value, 10, 90)) — out-of-range values treated as unset
    (reference expr/bounded.go:14–68)."""
    ev = load_table(spark, sf_dir, "events")
    b = BOUNDED("value", 10, 90)
    return ev.groupBy("event_type").agg(
        ((F.sum(cents(b)) / F.lit(100.0)) / F.count(b)).alias("bounded_avg"),
        F.count(b).alias("n_in_bounds"),
    )


@query(
    "q05_wavg",
    f"""
    SELECT event_type,
           (sum({C.format(x='value')} * CAST(props->>'k' AS BIGINT))/100.0)
             / sum(CAST(props->>'k' AS BIGINT)) AS wavg_value,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_weight
    FROM events GROUP BY 1
    """,
)
def q05_wavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAVG(value, k) — weighted mean Σvw/Σw with the JSON prop k as weight
    (reference expr/avg.go:17–37)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        ((F.sum(cents("value") * k) / F.lit(100.0)) / F.sum(k)).alias("wavg_value"),
        F.sum(k).alias("sum_weight"),
    )


@query(
    "q06_having",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum({C.format(x='l_extendedprice')})/100.0 AS sum_price
    FROM lineitem GROUP BY 1, 2
    HAVING sum(l_quantity) > 1000 AND count(*) > 10
    """,
)
def q06_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on aggregates, including one (count) not in the SELECT list —
    the synthetic `_having` column trick (reference planner/having.go:11–68)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("sum_price"),
            F.count(F.lit(1)).alias("_having_n"),
        )
        .filter((F.col("sum_qty") > 1000) & (F.col("_having_n") > 10))
        .drop("_having_n")
    )


@query(
    "q07_topk",
    """
    SELECT user_id, count(*) AS n_purchases
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY n_purchases DESC, user_id LIMIT 5
    """,
)
def q07_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT top-k (reference core/sort.go, core/limit.go) —
    compiles to TakeOrderedAndProject (per-partition top-k, no global sort).
    Tie-broken by user_id for a deterministic result set."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    return topk(agg, [F.col("n_purchases").desc(), F.col("user_id")], 5)


@query(
    "q08_group_by_time_only",
    f"""
    SELECT {BUCKET.format(p=86400)} AS bucket,
           count(*) AS n_points,
           sum({C.format(x='value')})/100.0 AS sum_value
    FROM events GROUP BY 1
    """,
)
def q08_group_by_time_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY _ — a single global time series, no dims (reference
    sql/sql.go:586–596, zenodb_test.go:415–420)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(timeops.bucket_epoch("ts", 86400).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q09_crosstab",
    "SELECT "
    + f"{BUCKET.format(p=86400)} AS bucket, "
    + ", ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}_n" for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)
def q09_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSSTAB(event_type): pivot distinct values into column groups
    (reference core/group.go:185–246). Spark pivot does the same two-pass
    distinct-value discovery the reference does by buffering."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", timeops.bucket_epoch("ts", 86400)
    )
    out = crosstab(ev, ["bucket"], "event_type", {"n": F.count(F.lit(1))})
    return out.na.fill(0, [f"{t}_n" for t in _EVENT_TYPES])


@query(
    "q10_crosstabt",
    "SELECT "
    + f"{BUCKET.format(p=86400)} AS bucket, "
    + ", ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}_n" for t in _EVENT_TYPES
    )
    + ", count(*) AS total_n FROM events GROUP BY 1",
)
def q10_crosstabt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSSTABT — crosstab plus total_* columns (reference sql/sql.go:108–123)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", timeops.bucket_epoch("ts", 86400)
    )
    out = crosstab(ev, ["bucket"], "event_type", {"n": F.count(F.lit(1))}, totals=True)
    return out.na.fill(0, [f"{t}_n" for t in _EVENT_TYPES])


@query(
    "q11_shift",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.bucket, d.n,
           coalesce(prev.n, 0.0) AS n_1d,
           d.n - coalesce(prev.n, 0.0) AS delta_1d
    FROM d LEFT JOIN d prev
      ON prev.event_type = d.event_type AND prev.bucket + 86400 = d.bucket
    """,
)
def q11_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIFT(n, '1d') — prior-day value aligned into the current bucket via a
    co-partitioned self-join on (dims, bucket − 1d); correct on sparse bucket
    axes (reference expr/shift.go:16–92)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", timeops.bucket_epoch("ts", 86400).alias("bucket")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    out = timeops.shift_join(d, ["event_type"], "bucket", ["n"], 86400, "_1d")
    return out.withColumn("delta_1d", F.col("n") - F.col("n_1d"))


@query(
    "q12_stride",
    f"""
    SELECT event_type,
           CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS bucket,
           count(*) AS n_points,
           sum({C.format(x='value')})/100.0 AS sum_value
    FROM events
    WHERE CAST(floor(epoch(ts)) AS BIGINT) % 21600 < 3600
    GROUP BY 1, 2
    """,
)
def q12_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIDE(6h) over 1h resolution — sample the first hour of every 6-hour
    stride (reference planner/local.go:144–150, encoding/seq.go:309–316)."""
    ev = load_table(spark, sf_dir, "events")
    ev = timeops.stride_filter(ev, "ts", 21600, 3600)
    return ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 21600).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
    )


@query(
    "q13_percentile",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q13_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the query-time form of the reference's
    PERCENTILE — expr/percentile.go; Spark `percentile` ≡ quantile_cont)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        percentile_exact("value", 0.5).alias("p50"),
        percentile_exact("value", 0.95).alias("p95"),
        percentile_exact("value", 0.99).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q14_percentile_sketch",
    """
    WITH b AS (
      SELECT event_type, least(CAST(floor(value*10+0.5) AS BIGINT), 1000) AS bin
      FROM events WHERE value >= 0 AND value <= 100
    ), c AS (
      SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2
    ), d AS (
      SELECT event_type, bin,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM c
    )
    SELECT event_type,
           min(CASE WHEN cum >= CAST(ceil(tot*50/100.0) AS BIGINT) THEN bin END)/10.0 AS p50_sketch,
           min(CASE WHEN cum >= CAST(ceil(tot*95/100.0) AS BIGINT) THEN bin END)/10.0 AS p95_sketch,
           min(CASE WHEN cum >= CAST(ceil(tot*99/100.0) AS BIGINT) THEN bin END)/10.0 AS p99_sketch
    FROM d GROUP BY 1
    """,
)
def q14_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE(value, p, 0, 100, 1) — the mergeable bounded-histogram
    sketch (reference expr/percentile.go:31–173): state = sparse
    map<bigint,bigint> of occupied bin counts, merge = key-wise sum, read =
    first-bin-at-cumulative-target.
    Deterministic integer math; DuckDB oracle replays the same logic."""
    ev = load_table(spark, sf_dir, "events")
    h = hist_agg(ev, ["event_type"], "value", 0.0, 100.0, 1, "hist")
    return h.select(
        "event_type",
        hist_quantile("hist", 50, 0.0, 1).alias("p50_sketch"),
        hist_quantile("hist", 95, 0.0, 1).alias("p95_sketch"),
        hist_quantile("hist", 99, 0.0, 1).alias("p99_sketch"),
    )


@query(
    "q15_in_subquery",
    """
    SELECT event_type, count(*) AS n
    FROM events
    WHERE user_id IN (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 90
    )
    GROUP BY 1
    """,
)
def q15_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE dim IN (SELECT …) — uncorrelated subquery as a broadcast
    left-semi join (reference planner/subquery.go:13–100)."""
    ev = load_table(spark, sf_dir, "events")
    sub = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .select("user_id")
        .distinct()
    )
    return (
        ev.join(F.broadcast(sub), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q16_from_subquery",
    f"""
    SELECT event_type,
           sum(n) / count(n) AS avg_daily, max(n) AS max_daily
    FROM (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ) GROUP BY 1
    """,
)
def q16_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM (SELECT …) — table-valued nesting: outer aggregation re-groups
    the inner aggregation (reference sql/sql.go:463–484)."""
    ev = load_table(spark, sf_dir, "events")
    inner = ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 86400).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    return inner.groupBy("event_type").agg(
        (F.sum("n") / F.count("n")).alias("avg_daily"),
        F.max("n").alias("max_daily"),
    )


@query(
    "q17_asof_until",
    f"""
    SELECT event_type, count(*) AS n, sum({C.format(x='value')})/100.0 AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1
    """,
)
def q17_asof_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF '…' UNTIL '…' — half-open time range pushed into the parquet scan
    (reference planner/local.go:110–135)."""
    ev = load_table(spark, sf_dir, "events")
    ev = timeops.time_range(ev, "ts", "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
    )


@query(
    "q18_dim_functions",
    """
    SELECT concat_ws('-', lang, str_split(source, 'src')[2]) AS nm,
           CASE lang WHEN 'en' THEN 'english' WHEN 'es' THEN 'spanish'
                     WHEN 'de' THEN 'german' WHEN 'fr' THEN 'french'
                     ELSE 'other' END AS lang_label,
           len(regexp_replace(source, '[0-9]', '#', 'g')) AS src_len,
           substr(source, 1, 3) AS src_prefix,
           count(*) AS n
    FROM documents GROUP BY 1, 2, 3, 4
    """,
)
def q18_dim_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension expression functions: CONCAT/SPLIT/SUBSTR/REPLACEALL/LEN/
    DECODE (reference goexpr surface, sql/sql.go:76–123)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        CONCAT("-", F.col("lang"), SPLIT("source", "src", 1)).alias("nm"),
        DECODE(
            "lang", "en", "english", "es", "spanish", "de", "german", "fr", "french", "other"
        ).alias("lang_label"),
        LEN(REPLACEALL("source", "[0-9]", "#")).alias("src_len"),
        SUBSTR("source", 1, 3).alias("src_prefix"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q19_calc_divzero",
    f"""
    SELECT event_type,
           count(CASE WHEN value > 200 THEN 1 END) AS a,
           count(CASE WHEN value < -1 THEN 1 END) AS b,
           CASE WHEN count(CASE WHEN value < -1 THEN 1 END) <> 0
                THEN count(CASE WHEN value > 200 THEN 1 END) / count(CASE WHEN value < -1 THEN 1 END)
                WHEN count(CASE WHEN value > 200 THEN 1 END) = 0 THEN 0.0
                ELSE 1.7976931348623157e308 END AS zero_over_zero,
           CASE WHEN count(CASE WHEN value < -1 THEN 1 END) <> 0
                THEN count(*) / count(CASE WHEN value < -1 THEN 1 END)
                WHEN count(*) = 0 THEN 0.0
                ELSE 1.7976931348623157e308 END AS n_over_zero
    FROM events GROUP BY 1
    """,
)
def q19_calc_divzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived arithmetic with the reference's div-by-zero convention:
    0/0 → 0, x/0 → MaxFloat64 (reference expr/calcs.go:20–28)."""
    ev = load_table(spark, sf_dir, "events")
    a = F.count(IF(F.col("value") > 200, F.lit(1)))
    b = F.count(IF(F.col("value") < -1, F.lit(1)))
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        a.alias("a"),
        b.alias("b"),
        safe_div(a, b).alias("zero_over_zero"),
        safe_div(n, b).alias("n_over_zero"),
    )


@query(
    "q20_log_functions",
    """
    SELECT event_type, count(*) AS n,
           round(ln(count(*)), 9) AS ln_n,
           round(ln(count(*)) / ln(2.0), 9) AS log2_n,
           round(ln(count(*)) / ln(10.0), 9) AS log10_n
    FROM events GROUP BY 1
    """,
)
def q20_log_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation LN/LOG2/LOG10 (reference expr/math.go:12–16).

    log2/log10 are expressed as ln(x)/ln(k), and every log output is
    rounded to 9 decimals on BOTH sides: JVM Math.log and libm disagree by
    1 ulp on some inputs (e.g. ln(74.0)), so unrounded log parity is
    luck-of-the-input."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        F.round(F.log(n), 9).alias("ln_n"),
        F.round(F.log(n) / F.log(F.lit(2.0)), 9).alias("log2_n"),
        F.round(F.log(n) / F.log(F.lit(10.0)), 9).alias("log10_n"),
    )


_ENGINE_CACHE: dict[str, DB] = {}

_ENGINE_SCHEMA = {
    "ev_hourly": {
        "sql": (
            "SELECT COUNT(value) AS cnt, MIN(value) AS mn, MAX(value) AS mx, "
            "IF(event_type = 'error', COUNT(value)) AS errors, "
            "PERCENTILE(value, 50, 0, 100, 1) AS med, "
            "MIN(BOUNDED(value, 10, 90)) AS bmn, "
            "COUNTDISTINCT(user_id) AS du, "
            "COUNTDISTINCT(user_id, 64) AS du_k "
            "FROM events GROUP BY event_type, period('1h')"
        ),
    },
    "ev_daily": {
        "view": True,
        "sql": "SELECT cnt FROM ev_hourly GROUP BY event_type, period('1d')",
    },
}


def _engine_db(spark: SparkSession, sf_dir: str) -> DB:
    db = _ENGINE_CACHE.get(sf_dir)
    if db is None:
        db = DB(spark)
        db.apply_schema(_ENGINE_SCHEMA)
        db.insert("events", load_table(spark, sf_dir, "events"))
        for t in db.tables.values():
            t.compact()
        _ENGINE_CACHE[sf_dir] = db
    return db


def _as_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn("bucket", F.unix_timestamp("_time").cast("long")).drop("_time")


_P128D = 128 * 86400

_HIST_REPLAY = """
    WITH b AS (
      SELECT event_type, {bucket} AS bucket,
             least(CAST(floor(value*10+0.5) AS BIGINT), 1000) AS bin
      FROM events WHERE value >= 0 AND value <= 100
    ), c AS (
      SELECT event_type, bucket, bin, count(*) AS n FROM b GROUP BY 1, 2, 3
    ), d AS (
      SELECT event_type, bucket, bin,
             sum(n) OVER (PARTITION BY event_type, bucket ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY event_type, bucket) AS tot
      FROM c
    )
    SELECT event_type, bucket,
           min(CASE WHEN cum >= CAST(ceil(tot*{p}/100.0) AS BIGINT) THEN bin END)/10.0 AS {name}
    FROM d GROUP BY 1, 2
"""


@query(
    "z01_engine_rollup_sketch",
    f"""
    WITH base AS (
      SELECT event_type, {BUCKET.format(p=_P128D)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt,
             min(value) AS mn, max(value) AS mx,
             CAST(count(CASE WHEN event_type = 'error' THEN value END) AS DOUBLE) AS errors
      FROM events GROUP BY 1, 2
    ),
    med AS ({_HIST_REPLAY.format(bucket=BUCKET.format(p=_P128D), p=50, name="med")}),
    p95 AS ({_HIST_REPLAY.format(bucket=BUCKET.format(p=_P128D), p=95, name="med_p95")})
    SELECT base.*, med.med, p95.med_p95
    FROM base JOIN med USING (event_type, bucket) JOIN p95 USING (event_type, bucket)
    """,
)
def z01_engine_rollup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: hourly pre-aggregated table (COUNT/MIN/MAX + IF-gated
    COUNT + mergeable percentile sketch) re-aggregated by the dialect to
    128-day buckets, with a 2-arg percentile re-read — the reference's
    core store-coarse-merge-read loop (SURVEY §1.4)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, mn, mx, errors, med, PERCENTILE(med, 95) AS med_p95 "
        "FROM ev_hourly GROUP BY event_type, period('128d')"
    )
    return _as_bucket(out)


@query(
    "z02_engine_shift",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.bucket, d.cnt,
           coalesce(prev.cnt, 0.0) AS cnt_1d
    FROM d LEFT JOIN d prev
      ON prev.event_type = d.event_type AND prev.bucket + 86400 = d.bucket
    """,
)
def z02_engine_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: SHIFT through the dialect — prior-day value aligned via
    the co-partitioned self-join plan (reference expr/shift.go)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, SHIFT(cnt, '1d') AS cnt_1d FROM ev_hourly "
        "GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


@query(
    "z03_engine_where_having",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt
    FROM events
    WHERE event_type IN ('click', 'error') OR event_type LIKE 'sign%'
    GROUP BY 1, 2
    HAVING CAST(count(value) AS DOUBLE) > 50
    """,
)
def z03_engine_where_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: WHERE with IN-list + anchored LIKE ('sign%' matches
    'signup' but would not match 'design') over stored dims, HAVING over the
    merged aggregate."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_hourly "
        "WHERE event_type IN ('click', 'error') OR event_type LIKE 'sign%' "
        "GROUP BY event_type, period('1d') HAVING cnt > 50"
    )
    return _as_bucket(out)


@query(
    "z04_engine_view",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def z04_engine_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: a view (ev_daily) derived from ev_hourly's definition —
    field inheritance + independent storage (reference table.go:194–250)."""
    db = _engine_db(spark, sf_dir)
    return _as_bucket(db.query("SELECT cnt FROM ev_daily GROUP BY event_type, period('1d')"))


@query(
    "z05_engine_crosshift",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.bucket, d.cnt AS cs,
           coalesce(p1.cnt, 0.0) AS cs_1d,
           coalesce(p2.cnt, 0.0) AS cs_2d
    FROM d
    LEFT JOIN d p1 ON p1.event_type = d.event_type AND p1.bucket + 86400 = d.bucket
    LEFT JOIN d p2 ON p2.event_type = d.event_type AND p2.bucket + 172800 = d.bucket
    """,
)
def z05_engine_crosshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: CROSSHIFT(cnt, '2d', '1d') -- the macro family of SHIFT
    columns (cs, cs_1d, cs_2d), each a co-partitioned self-join on the
    bucket axis (reference sql/sql.go:363-422 addCrosshiftExpr)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT CROSSHIFT(cnt, '2d', '1d') AS cs FROM ev_hourly "
        "GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


_CT_COLS = ",\n           ".join(
    f"CAST(nullif(count(CASE WHEN event_type = '{t}' THEN value END), 0) AS DOUBLE) AS {t}_cnt"
    for t in _EVENT_TYPES
)


@query(
    "z06_engine_crosstab",
    f"""
    SELECT {BUCKET.format(p=10 * 86400)} AS bucket,
           {_CT_COLS},
           CAST(count(value) AS DOUBLE) AS total_cnt
    FROM events GROUP BY 1
    """,
)
def z06_engine_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: CROSSTABT(event_type) pivot with totals over a global
    (GROUP BY _) 10-day series -- distinct crosstab values become column
    groups {val}_cnt plus total_cnt (reference core/group.go:185-246)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_hourly GROUP BY _, CROSSTABT(event_type), period('10d')"
    )
    return _as_bucket(out)


@query(
    "z07_engine_in_subquery",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt
    FROM events
    WHERE event_type IN (
      SELECT event_type FROM events GROUP BY 1 HAVING count(value) > 2000
    )
    GROUP BY 1, 2
    """,
)
def z07_engine_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: WHERE dim IN (SELECT ...) -- the uncorrelated subquery is
    pre-executed and its single selected dim spliced in as a value list
    (reference planner/subquery.go:13-100, sql/sql.go:1028-1069)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_hourly "
        "WHERE event_type IN (SELECT cnt FROM ev_hourly "
        "GROUP BY event_type, period('128d') HAVING cnt > 2000) "
        "GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


@query(
    "z08_engine_from_subquery",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(floor(bucket/864000)*864000 AS BIGINT) AS bucket,
           CAST(sum(cnt) AS DOUBLE) AS cnt
    FROM d GROUP BY 1
    """,
)
def z08_engine_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: FROM-subquery nesting -- inner daily flat rows re-grouped
    by the outer query to a global 10-day series (reference
    sql/sql.go:463-484, core/unflatten.go: the Unflatten->Group path).
    SUM-of-counts is exact (integer-valued doubles)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM (SELECT cnt FROM ev_hourly GROUP BY event_type, period('1d')) "
        "GROUP BY _, period('10d')"
    )
    return _as_bucket(out)


@query(
    "z09_engine_stride",
    f"""
    SELECT event_type, {BUCKET.format(p=172800)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt
    FROM events
    WHERE CAST(floor(epoch(ts)) AS BIGINT) % 172800 < 3600
    GROUP BY 1, 2
    """,
)
def z09_engine_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: STRIDE('2d') -- sample the first table-resolution (1h)
    slice of every 2-day stride (reference sql/sql.go:551-560,
    encoding/seq.go:309-316 StrideSlice)."""
    db = _engine_db(spark, sf_dir)
    out = db.query("SELECT cnt FROM ev_hourly GROUP BY event_type, STRIDE('2d')")
    return _as_bucket(out)


@query(
    "z10_engine_order_limit",
    f"""
    WITH d AS (
      SELECT {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1
    )
    SELECT bucket, cnt FROM d ORDER BY bucket DESC LIMIT 5 OFFSET 2
    """,
)
def z10_engine_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: ORDER BY _time DESC + 'LIMIT offset, n' applied post-sort
    (reference sql/sql.go:630-661, core/limit.go, core/offset.go); the time
    axis gives a total order so the selected row set is deterministic."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_daily GROUP BY _, period('1d') ORDER BY _time DESC LIMIT 2, 5"
    )
    return _as_bucket(out)


@query(
    "z11_engine_asof_bounded",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           min(value) AS mn, max(value) AS mx,
           min(CASE WHEN value >= 10 AND value <= 90 THEN value END) AS bmn
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY 1, 2
    """,
)
def z11_engine_asof_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: ASOF/UNTIL time-range over stored buckets (reference
    sql/sql.go:497-523, planner/local.go:110-135) + BOUNDED values gated at
    ingest into the accumulator (reference expr/bounded.go:14-68)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT mn, mx, bmn FROM ev_hourly "
        "ASOF '2024-01-10' UNTIL '2024-01-20' GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


@query(
    "z12_engine_kitchen_sink",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           count(value) / 2.0 AS ccnt,
           round(ln(CAST(count(value) AS DOUBLE)) / ln(2.0), 9) AS lcnt,
           CAST(count(CASE WHEN event_type = 'error' THEN value END) AS DOUBLE) AS cnt_err,
           CAST(5.1 AS DOUBLE) AS cval,
           CAST(1.0 AS DOUBLE) AS present,
           CAST(count(*) AS DOUBLE) AS _points,
           round(ln(CAST(count(*) AS DOUBLE)) / ln(10.0), 9) AS lpoints
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-20'
      AND event_type IN (
        SELECT event_type FROM events GROUP BY 1
        HAVING CAST(count(value) AS DOUBLE) * 2 > 500
      )
    GROUP BY 1, 2
    HAVING CAST(count(value) AS DOUBLE) > 10
    """,
)
def z12_engine_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: the reference's big integration query shape
    (zenodb_test.go:675-691) — measure arithmetic and LOG2/LOG10 over
    merged state, a query-time IF gate, a constant column, `_ AS present`
    plus `_points` (both reading the points counter), ASOF/UNTIL, an
    IN-subquery whose HAVING carries an unknown-field disjunct (absent
    field -> not-true, reference expr/field.go:44-47), an unknown-field
    disjunct in the outer HAVING, and ORDER BY dim DESC."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt / 2 AS ccnt, LOG2(cnt) AS lcnt, "
        "IF(event_type = 'error', cnt) AS cnt_err, 5.1 AS cval, "
        "_ AS present, _points, LOG10(_points) AS lpoints "
        "FROM ev_hourly ASOF '2024-01-02' UNTIL '2024-01-20' "
        "WHERE event_type IN (SELECT event_type FROM ev_hourly "
        "GROUP BY event_type, period('128d') HAVING cnt * 2 > 500 OR unknown = 12) "
        "GROUP BY event_type, period('1d') "
        "HAVING cnt > 10 OR unknown = 12 ORDER BY event_type DESC"
    )
    # ln() disagrees by 1 ulp between the JVM and libm on some inputs
    # (Math.log(74.0) vs DuckDB's log: ...169 vs ...17); round the log
    # outputs to 9 decimals on BOTH sides so the oracle tolerance is
    # explicit instead of luck-of-the-input. (Safe for transcendental
    # outputs — irrational values do not land on decimal half-points; the
    # integer-ratio columns elsewhere stay UNrounded because their exact
    # halves are where engine round() implementations disagree.)
    out = out.withColumn("lcnt", F.round("lcnt", 9)).withColumn(
        "lpoints", F.round("lpoints", 9)
    )
    return _as_bucket(out)


@query(
    "z13_engine_dim_functions",
    f"""
    SELECT concat_ws('|', substr(event_type, 1, 3),
                     CASE WHEN event_type = 'error' THEN 'E' ELSE 'ok' END) AS tag,
           split_part(regexp_replace(event_type, 'r', 'X', 'g'), 'X', 1) AS head,
           len(event_type) AS elen,
           {BUCKET.format(p=_P128D)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt,
           max(value) AS mx
    FROM events GROUP BY 1, 2, 3, 4
    """,
)
def z13_engine_dim_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: goexpr dim functions in the dialect GROUP BY — nested
    CONCAT/SUBSTR/DECODE, SPLIT over REPLACEALL, LEN (reference
    sql/sql.go:76–123 registers these; dims.go applies them to grouped
    dims). Derived dims re-key the merged hourly state, so COUNT states
    add and MAX states max across event_types that collapse to one tag —
    q18 covers the operator surface, this covers the dialect path."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, mx FROM ev_hourly "
        "GROUP BY CONCAT('|', SUBSTR(event_type, 1, 3), "
        "DECODE(event_type, 'error', 'E', 'ok')) AS tag, "
        "SPLIT(REPLACEALL(event_type, 'r', 'X'), 'X', 0) AS head, "
        "LEN(event_type) AS elen, period('128d')"
    )
    return _as_bucket(out)


@query(
    "z14_engine_countdistinct",
    f"""
    SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt,
           CAST(count(DISTINCT user_id) AS DOUBLE) AS du
    FROM events GROUP BY 1, 2
    """,
)
def z14_engine_countdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: COUNTDISTINCT — a beyond-reference mergeable aggregate
    (the reference's fixed set, expr/aggregates.go, has no distinct). State
    is a DataSketches HLL sketch per (dims, hour): partial sketches at
    ingest, hll_union_agg across parts and when re-bucketing 1h→1d, a
    single estimate at finalize — the exact shape of the reference's
    mergeable PERCENTILE histogram. At oracle cardinalities (≤150 distinct
    users) the sketch is still in exact coupon mode, so the estimate equals
    DuckDB's exact COUNT(DISTINCT); at 100 TB it degrades gracefully to
    ±2% instead of blowing up the state."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, du FROM ev_hourly GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


@query(
    "z23_engine_countdistinct_kmv",
    f"""
    WITH ud AS (
      SELECT DISTINCT event_type, {BUCKET.format(p=86400)} AS bucket,
             md5(CAST(CAST(user_id AS DOUBLE) AS VARCHAR)) AS hx
      FROM events
    ),
    r AS (
      SELECT event_type, bucket, hx,
             row_number() OVER (PARTITION BY event_type, bucket ORDER BY hx) AS rn,
             count(*) OVER (PARTITION BY event_type, bucket) AS nd
      FROM ud
    ),
    kth AS (SELECT event_type, bucket, hx AS h64 FROM r WHERE rn = 64),
    agg AS (SELECT event_type, bucket, max(nd) AS nd FROM r GROUP BY 1, 2)
    SELECT a.event_type, a.bucket,
           CAST(a.nd AS DOUBLE) AS du,
           CASE WHEN k.h64 IS NULL THEN CAST(a.nd AS DOUBLE)
                ELSE 63.0 / (CAST(('0x' || substr(k.h64, 1, 8)) AS BIGINT)
                             / 4294967296.0)
           END AS du_k
    FROM agg a LEFT JOIN kth k ON k.event_type = a.event_type
                              AND k.bucket = a.bucket
    """,
)
def z23_engine_countdistinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: the BOUNDED approximate COUNTDISTINCT dialect state —
    `COUNTDISTINCT(user_id, 64)` declares a KMV sketch (k smallest md5 hex
    digests of the distinct value strings, Beyer et al. SIGMOD'07) instead
    of the exact dsetv2 set, capping per-group state at O(k) for any
    cardinality. This query exercises the full lifecycle the exact state
    goes through: 1h ingest states → cross-resolution re-merge to 1d →
    estimate at finalize, next to the exact `du` for the error panel.

    The sketch MERGE is lossless (k smallest of a union of k-min lists ==
    k-min of the union), so the re-merged 1d sketch is bit-identical to a
    sketch built directly from raw daily data — which is exactly what the
    oracle computes: DuckDB replays md5 over the same value strings,
    takes the 64th-smallest digest per (event_type, day), and applies the
    same (k−1)/h_(k) estimator (32-bit prefix / 2^32). Groups below k
    distinct members short-circuit to the exact count in both engines.
    Value-string parity: dialect values are doubles; gate data (integral
    user_id < 10^7) prints identically ("123.0") in the JVM and DuckDB —
    the estimator convention is shared with q172's KMV operator."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT du, du_k FROM ev_hourly GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


_Z24_CELLS = ",\n           ".join(
    f"max(CASE WHEN c.event_type = '{t}' THEN c.cnt END) AS {t}_cnt,\n           "
    f"max(CASE WHEN c.event_type = '{t}' THEN c.pcnt END) AS {t}_pcnt"
    for t in _EVENT_TYPES
)


@query(
    "z24_engine_crosstab_shift",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT bucket, CAST(sum(cnt) AS DOUBLE) AS total_cnt FROM d GROUP BY 1
    ),
    cell AS (
      SELECT d.event_type, d.bucket, d.cnt, coalesce(p.cnt, 0.0) AS pcnt
      FROM d LEFT JOIN d p
        ON p.event_type = d.event_type AND p.bucket + 86400 = d.bucket
    )
    SELECT t.bucket,
           {_Z24_CELLS},
           t.total_cnt,
           coalesce(pt.total_cnt, 0.0) AS total_pcnt
    FROM tot t
    LEFT JOIN cell c ON c.bucket = t.bucket
    LEFT JOIN tot pt ON pt.bucket + 86400 = t.bucket
    GROUP BY t.bucket, t.total_cnt, pt.total_cnt
    """,
)
def z24_engine_crosstab_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: SHIFT inside a CROSSTABT pivot (round-6 fuzz grammar
    extension surfaced as a driver-gated composition): every pivot value
    gets a {val}_pcnt sibling reading the series one day back, plus
    total_cnt/total_pcnt at the totals grain. Semantics pinned by the
    oracle: shift reads the UNGATED full series (reference
    encoding/seq.go reads below the output window; HAVING would apply
    after), a pcnt cell exists exactly where its current cell exists, and
    an absent shift source coalesces to 0 while an absent current cell is
    NULL — the engine's sparse-pivot convention (core/group.go:185-246 +
    expr/shift.go composed)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, SHIFT(cnt, '1d') AS pcnt FROM ev_hourly "
        "GROUP BY _, CROSSTABT(event_type), period('1d')"
    )
    return _as_bucket(out)


@query(
    "z25_engine_in_subquery_stride",
    f"""
    SELECT event_type, {BUCKET.format(p=172800)} AS bucket,
           CAST(count(value) AS DOUBLE) AS cnt
    FROM events
    WHERE CAST(floor(epoch(ts)) AS BIGINT) % 172800 < 86400
      AND event_type IN (
        SELECT event_type FROM events GROUP BY 1 HAVING count(value) > 2000
      )
    GROUP BY 1, 2
    """,
)
def z25_engine_in_subquery_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: WHERE dim IN (SELECT ...) composed with
    period('1d') + stride('2d') — the round-6 fuzz pair surfaced as a
    driver-gated query: the uncorrelated subquery splices its group dim
    in as a membership list (planner/subquery.go), then the stride phase
    keeps the first 1d slice of every 2d window and re-buckets to the 2d
    grid (sql/sql.go:551-560 + encoding/seq.go:309-316 StrideSlice) —
    subquery filtering happens at SCAN grain, before the slice, which is
    what the oracle's conjunction pins."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_hourly "
        "WHERE event_type IN (SELECT cnt FROM ev_hourly "
        "GROUP BY event_type, period('128d') HAVING cnt > 2000) "
        "GROUP BY event_type, period('1d'), stride('2d')"
    )
    return _as_bucket(out)


@query(
    "z15_engine_set_ops",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket, cnt FROM (
      SELECT * FROM d WHERE event_type = 'click'
      UNION ALL
      SELECT * FROM d WHERE event_type <> 'click'
      UNION
      SELECT * FROM d
      EXCEPT
      SELECT * FROM d WHERE event_type = 'error'
    )
    """,
)
def z15_engine_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: UNION ALL / UNION / EXCEPT chain between dialect queries
    (extension — SURVEY §2.6: the reference has no set ops; Spark's are
    native). The disjoint halves re-union to duplicates of the whole, UNION
    dedups them back, EXCEPT carves the error series out — every semantics
    branch exercised in one oracle-checked expression."""
    db = _engine_db(spark, sf_dir)
    base = "SELECT cnt FROM ev_daily {w} GROUP BY event_type, period('1d')"
    out = db.query(
        " UNION ALL ".join([base.format(w="WHERE event_type = 'click'")])
        + " UNION ALL "
        + base.format(w="WHERE event_type <> 'click'")
        + " UNION "
        + base.format(w="")
        + " EXCEPT "
        + base.format(w="WHERE event_type = 'error'")
    )
    return _as_bucket(out)


@query(
    "z16_engine_set_order",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket, cnt FROM (
      SELECT * FROM d WHERE event_type = 'error'
      UNION ALL
      SELECT * FROM d WHERE event_type = 'click'
    ) ORDER BY cnt DESC, event_type, bucket LIMIT 10
    """,
)
def z16_engine_set_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: trailing ORDER BY/LIMIT on a UNION ALL chain orders the
    COMBINED result (ANSI lift, parser moves it from the last operand to
    the chain root) — oracle-locked so the semantics can't regress."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt FROM ev_daily WHERE event_type = 'error' "
        "GROUP BY event_type, period('1d') "
        "UNION ALL "
        "SELECT cnt FROM ev_daily WHERE event_type = 'click' "
        "GROUP BY event_type, period('1d') "
        "ORDER BY cnt DESC, event_type, _time LIMIT 10"
    )
    return _as_bucket(out)


_Z17_ASOF = "ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-26'"


@query(
    "z17_engine_stride_sketch_limit",
    f"""
    WITH base AS (
      SELECT event_type, {BUCKET.format(p=172800)} AS bucket,
             CAST(count(value) AS DOUBLE) AS cnt,
             min(value) + max(value) AS span,
             CAST(count(CASE WHEN event_type = 'error' THEN value END) AS DOUBLE) AS errors,
             CAST(count(DISTINCT user_id) AS DOUBLE) AS du
      FROM events
      WHERE {_Z17_ASOF}
      GROUP BY 1, 2
    ),
    p AS ({_HIST_REPLAY.format(bucket=BUCKET.format(p=172800), p=75, name="p75").replace(
        "FROM events WHERE", "FROM events WHERE " + _Z17_ASOF + " AND ")})
    SELECT base.event_type, base.bucket, base.cnt, base.span, p.p75,
           base.errors / base.cnt AS err_rate, base.du
    FROM base JOIN p USING (event_type, bucket)
    WHERE base.bucket % 345600 < 172800 AND base.du > 1
    ORDER BY base.bucket, base.event_type
    LIMIT 6 OFFSET 2
    """,
)
def z17_engine_stride_sketch_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE composition: ASOF/UNTIL range + period('2d') re-merge +
    stride('4d') bucket-phase filter + a 2-arg PERCENTILE re-read of the
    stored sketch + COUNTDISTINCT state merged across resolutions + field
    arithmetic (mn+mx, errors/cnt) + HAVING on a selected field + ORDER BY
    _time with 'LIMIT offset, n' — the combined shape none of z01–z16
    exercises in ONE statement (reference query.go pipeline order:
    filter → merge → having → sort → offset/limit)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt, mn + mx AS span, PERCENTILE(med, 75) AS p75, "
        "errors / cnt AS err_rate, du "
        "FROM ev_hourly ASOF '2024-01-02' UNTIL '2024-01-26' "
        "GROUP BY event_type, period('2d'), stride('4d') "
        "HAVING du > 1 ORDER BY _time, event_type LIMIT 2, 6"
    )
    return _as_bucket(out)


@query(
    "z18_engine_shift_over_subquery",
    f"""
    WITH inner_d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS ct
      FROM events GROUP BY 1, 2
    ),
    outer_d AS (
      SELECT event_type,
             CAST(floor(bucket / 172800) * 172800 AS BIGINT) AS bucket,
             sum(ct) AS ct
      FROM inner_d GROUP BY 1, 2
    )
    SELECT o.event_type, o.bucket, o.ct, coalesce(p.ct, 0.0) AS prev_ct
    FROM outer_d o
    LEFT JOIN outer_d p
      ON p.event_type = o.event_type AND p.bucket + 172800 = o.bucket
    """,
)
def z18_engine_shift_over_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE composition: SHIFT applied OVER a FROM-subquery — the
    inner query re-aggregates the stored table to daily counts, the outer
    re-groups to 2-day buckets (default-to-SUM on the subquery field) and
    joins its own 2-day-shifted series. Exercises the unflatten→regroup
    path (z08) and the co-partitioned shift join (z02) TOGETHER, which no
    other z query does. Counts stay exact integers inside doubles, so the
    re-sum is order-independent."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT ct, SHIFT(ct, '2d') AS prev_ct FROM "
        "(SELECT cnt AS ct FROM ev_hourly GROUP BY event_type, period('1d')) "
        "GROUP BY event_type, period('2d')"
    )
    return _as_bucket(out)


@query(
    "z19_engine_subquery_having_regroup",
    f"""
    WITH inner_d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS ct
      FROM events GROUP BY 1, 2
      HAVING count(value) > 5
    )
    SELECT CAST(floor(bucket / 345600) * 345600 AS BIGINT) AS bucket,
           sum(ct) AS ct
    FROM inner_d GROUP BY 1
    """,
)
def z19_engine_subquery_having_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE composition: a HAVING-filtered FROM-subquery re-grouped
    to the GLOBAL series (GROUP BY _) at a coarser resolution with ORDER BY
    _time — subquery HAVING rows must drop BEFORE the outer re-aggregation
    (reference query pipeline order), which z08's plain regroup never
    checks."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT ct FROM (SELECT cnt AS ct FROM ev_hourly "
        "GROUP BY event_type, period('1d') HAVING cnt > 5) "
        "GROUP BY _, period('4d') ORDER BY _time"
    )
    return _as_bucket(out)


@query(
    "z20_engine_shift_asof",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS ct
      FROM events GROUP BY 1, 2
    )
    SELECT o.event_type, o.bucket, o.ct, coalesce(p.ct, 0.0) AS prev_ct
    FROM d o
    LEFT JOIN d p
      ON p.event_type = o.event_type AND p.bucket + 86400 = o.bucket
    WHERE o.bucket >= 1704844800 AND o.bucket < 1705708800
    """,
)
def z20_engine_shift_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: SHIFT under ASOF/UNTIL — the shifted series at the
    FIRST in-range bucket must surface the true pre-ASOF value (the
    reference truncates the shifted source at asOf+shift and grows the
    merge window, encoding/seq.go:244–276; the oracle lags over the FULL
    series and only then trims to [asof, until)). Before the round-4 fix
    the engine filtered state at ASOF first, so boundary buckets lost
    their lag values to the 0.0 coalesce."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt AS ct, SHIFT(cnt, '1d') AS prev_ct FROM ev_hourly "
        "ASOF '2024-01-10' UNTIL '2024-01-20' GROUP BY event_type, period('1d')"
    )
    return _as_bucket(out)


@query(
    "z21_engine_shift_expression",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS ct
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT o.event_type, o.bucket, o.ct, coalesce(p.ct, 0.0) AS prev
      FROM d o
      LEFT JOIN d p
        ON p.event_type = o.event_type AND p.bucket + 86400 = o.bucket
    )
    SELECT event_type, bucket, ct - prev AS delta
    FROM j WHERE prev > 0 AND ct - prev > -5
    """,
)
def z21_engine_shift_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: SHIFT inside ARITHMETIC and HAVING — the day-over-day
    delta `cnt - SHIFT(cnt,'1d')` as one SELECT field, HAVING-filtered on
    both the shifted value and the composed delta. Before the round-4
    session-2 restructure the engine only allowed SHIFT as a bare
    top-level field (the reference composes shifted exprs like any other
    field, expr/shift.go)."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt - SHIFT(cnt, '1d') AS delta, SHIFT(cnt, '1d') AS prev "
        "FROM ev_hourly GROUP BY event_type, period('1d') "
        "HAVING prev > 0 AND delta > 0 - 5"
    )
    return _as_bucket(out).drop("prev")


@query(
    "z22_engine_order_by_hidden",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket,
             CAST(count(value) AS DOUBLE) AS ct,
             min(value) AS mn
      FROM events GROUP BY 1, 2
    ),
    ranked AS (SELECT event_type, bucket, ct FROM d
               ORDER BY mn, event_type, bucket LIMIT 7 OFFSET 2)
    SELECT event_type, bucket, ct FROM ranked
    """,
)
def z22_engine_order_by_hidden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE: ORDER BY a field OUTSIDE the SELECT list + LIMIT
    offset,n — the sort key (mn) is materialized as a hidden column,
    consumed by the order/limit, and dropped from the output (reference
    sql_test.go orders by non-selected fields; core sorts the flat rows
    on any field). Ties broken by selected columns for determinism."""
    db = _engine_db(spark, sf_dir)
    out = db.query(
        "SELECT cnt AS ct FROM ev_hourly "
        "GROUP BY event_type, period('1d') "
        "ORDER BY mn, event_type, _time LIMIT 2, 7"
    )
    return _as_bucket(out)
