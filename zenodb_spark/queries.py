"""Driver-facing query inventory: every implemented operator from
SURVEY.md §2 (plus the LLM-data-pipeline extensions) as a
(spark_impl, oracle_sql) pair.

Contract (see __spark_entry__.py): each Spark impl takes (spark, sf_dir) and
returns a DataFrame whose column names AND values match the DuckDB oracle.

Determinism design (the whole file follows these rules so the driver's
order-insensitive value-hash comparison is exact, not approximate):

- fractional SUM/AVG go through integer "cents" (floor(x·100+0.5) summed as
  BIGINT, divided back at the end) — integer addition is associative, so
  results are identical under any partitioning, in both engines;
- ratios are ratios-of-exact-integers (identical double division);
- time buckets are BIGINT epoch seconds (identical floor arithmetic);
- percentiles are either exact interpolated (percentile ≡ quantile_cont,
  verified bit-equal) or integer histogram-sketch reads;
- string/hash ops use md5 + regex constructs verified to agree between
  Spark (Java regex) and DuckDB (RE2) for the patterns used;
- any ln()/log() output is quantized to integer micro-nats per DISTINCT
  key (token, bigram, idf term, sketch bin) BEFORE entering a sum, so
  aggregate scores are exact integer sums with one trailing IEEE division
  (q62/q64/q71/q72); sqrt/division chains on exact-integer inputs are
  fixed IEEE sequences and need no quantization (q70);
- rankings/top-k always order on exact integers (cents, micro-units) with
  an id tie-break, never on recomputed floats;
- NO engine-side round(x, 9) on integer-ratio outputs: both engines emit
  the identical raw double and the driver's canonicalizer rounds once, in
  Python — engine round() implementations disagree exactly at the decimal
  half-points integer ratios frequently produce. Transcendental outputs
  (ln: q20, z12) are the one exception: they differ by 1 ulp across
  engines, never sit on decimal halves, and therefore round on BOTH sides;
- deterministic sampling uses md5-uniform (conv of the hex prefix), never
  rand() (q37/q58/q65).

DuckDB porting notes: no WITH ORDINALITY — use `unnest(range(0, len(v)))
AS u(i)` plus 1-based `v[i+1]`; list slices `v[a:b]` are 1-based inclusive
(matching F.slice(v, a, b-a+1)).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.engine import DB
from zenodb_spark.functions.measures import IF, BOUNDED, MAX_FLOAT64, cents, safe_div
from zenodb_spark.functions.dims import CONCAT, DECODE, LEN, REPLACEALL, SPLIT, SUBSTR
from zenodb_spark.operators import dedup, similarity, textstats, timeops
from zenodb_spark.operators.crosstab import crosstab
from zenodb_spark.operators.percentile import hist_agg, hist_quantile, percentile_exact
from zenodb_spark.operators.util import share
from zenodb_spark.operators.topk import topk

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# DuckDB oracle macros (kept in lockstep with the Spark-side helpers)
C = "CAST(floor({x}*100+0.5) AS BIGINT)"  # cents() equivalent
BUCKET = "CAST(floor(epoch(ts)/{p})*{p} AS BIGINT)"  # bucket_epoch() equivalent
NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"  # normalize_text()


def query(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Core ZenoDB semantics over the `events` stream (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


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
    sketch (reference expr/percentile.go:31–173): state = array<long> of bin
    counts, merge = element-wise add, read = first-bin-at-cumulative-target.
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


# ---------------------------------------------------------------------------
# Star-schema analytics (scale-shaped aggregation + joins)
# ---------------------------------------------------------------------------


@query(
    "q21_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum({C.format(x='l_extendedprice')})/100.0 AS sum_base_price,
           sum(CAST(floor(l_extendedprice*(1-l_discount)*100+0.5) AS BIGINT))/100.0 AS sum_disc_price,
           sum(l_quantity) / count(*) AS avg_qty,
           (sum({C.format(x='l_extendedprice')})/100.0) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def q21_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one wide map-side-combined hash
    aggregate over the fact table — the canonical 100 TB scan shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(disc_cents) / F.lit(100.0)).alias("sum_disc_price"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        ((F.sum(cents("l_extendedprice")) / F.lit(100.0)) / F.count(F.lit(1))).alias(
            "avg_price"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q22_join_enrich",
    f"""
    SELECT n.n_name AS nation, count(*) AS n_orders,
           sum({C.format(x='o_totalprice')})/100.0 AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q22_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment joins (the Spark-native replacement for the
    reference's Redis/geo per-row lookups). Nation (25 rows, O(1) in SF)
    is broadcast-hinted; customer scales with SF so it carries NO hint —
    AQE broadcasts the 2-column pruned side while it fits and
    shuffle-joins beyond (a forced hint would OOM at extreme SF)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (BASELINE.json north star)
# ---------------------------------------------------------------------------


@query(
    "q23_dedup_exact",
    f"""
    SELECT md5({NORM.format(x='text')}) AS fingerprint,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the normalized content digest."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id")


_SHINGLE_SQL = """
      SELECT doc, shingle FROM (
        SELECT doc_id AS doc, unnest(list_distinct(
          [array_to_string(t[i+1:i+3], ' ') for i in range(greatest(len(t)-2, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split({norm}, ' ') AS t FROM documents)
      ) WHERE len(shingle) > 0
""".format(norm=NORM.format(x="text"))

_JACCARD_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE i / (sa.sz + sb.sz - i) >= {{thr}}
"""


@query("q24_ngram_jaccard", _JACCARD_SQL.format(thr=0.2))
def q24_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram-shingle Jaccard ≥ 0.2 via the
    counting-vs-prefix auto-planner (operators/dedup.py): the planner probes
    Σ C(df,2) and the prefix-candidate volume with O(1)-row aggregates and
    picks whichever exact plan is cheaper for the corpus at hand — counting
    (one shuffle, no verify join) on dense small-vocab corpora, AllPairs/
    PPJoin prefix+verify when hot Zipfian shingles would make C(df,2)
    quadratic. Both plans are lossless, so the brute-force oracle holds
    regardless of which is chosen."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs_auto(docs, "text", "doc_id", n=3, threshold=0.2)


@query("q25_minhash_lsh", _JACCARD_SQL.format(thr=0.5))
def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 8-band LSH candidates, exact-Jaccard verified at 0.5 —
    the oracle is the semantic spec (all true pairs ≥ 0.5); LSH is the
    pruning mechanism. Hashes are deterministic (md5), so recall is a fixed
    verified outcome, not a per-run probability: every true pair in the
    corpus (all J ≥ 0.8; miss bound (1−J²)^8 ≤ 3e-4) is oracle-checked to
    survive at both gate scale factors."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, num_hashes=16, bands=8
    )


def _simhash_oracle() -> str:
    votes = ", ".join(
        "sum(CASE WHEN substr(md5(tok), {j1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}".format(
            j1=j + 1, j=j
        )
        for j in range(16)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), votes AS (
      SELECT doc, {votes} FROM toks WHERE len(tok) > 0 GROUP BY 1
    )
    SELECT doc, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@query("q26_simhash", _simhash_oracle())
def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints from md5 nibble majority votes —
    deterministic in any engine with md5."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "text", "doc_id", bits=16)


@query(
    "q27_ann_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
      FROM q JOIN c ON query_id <> neighbor_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q27_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for query vectors (vec_id < 10):
    broadcast query side, single streaming pass over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5, dim=64
    )


@query(
    "q28_text_quality",
    """
    WITH f AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_words,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           sum(n_punct) / sum(n_tokens) AS punct_ratio,
           sum(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END) / count(*) AS frac_long
    FROM f GROUP BY 1
    """,
)
def q28_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features: token/word/punct counts + corpus-level
    ratios (ratios of exact integer sums)."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "lang",
        textstats.word_count(F.trim(F.col("text"))).alias("n_words"),
        textstats.token_count("text").alias("n_tokens"),
        textstats.punct_count("text").alias("n_punct"),
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("sum_words"),
        F.sum("n_tokens").alias("sum_tokens"),
        (F.sum("n_punct") / F.sum("n_tokens")).alias("punct_ratio"),
        (
            F.sum(F.when(F.col("n_words") >= 20, F.lit(1)).otherwise(F.lit(0)))
            / F.count(F.lit(1))
        ).alias("frac_long"),
    )


def _langid_oracle() -> str:
    def cnt(w: str) -> str:
        doubled = f"regexp_replace(' ' || lower(text) || ' ', ' ', '  ', 'g')"
        needle = f"  {w}  ".replace(" ", "  ")
        # needle with doubled spaces: '  w  '
        n = f"  {w}  "
        return f"CAST((len({doubled}) - len(replace({doubled}, '{n}', ''))) / {len(n)} AS BIGINT)"

    langs = sorted(textstats.STOPWORDS)
    scores = {
        lang: " + ".join(cnt(w) for w in textstats.STOPWORDS[lang]) for lang in langs
    }
    score_cols = ", ".join(f"({scores[lang]}) AS s_{lang}" for lang in langs)
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    pred = "CASE "
    for lang in langs:
        pred += f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}' "
    pred += "ELSE 'und' END"
    return f"""
    WITH s AS (SELECT lang, {score_cols} FROM documents),
    p AS (SELECT lang, {pred} AS pred_lang FROM s)
    SELECT lang, count(*) AS n,
           count(CASE WHEN pred_lang = lang THEN 1 END) AS n_correct,
           count(CASE WHEN pred_lang = lang THEN 1 END) / count(*) AS accuracy
    FROM p GROUP BY 1
    """


@query("q29_langid", _langid_oracle())
def q29_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax) evaluated against the
    labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    p = textstats.langid(docs, "text")
    return p.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(IF(F.col("pred_lang") == F.col("lang"), F.lit(1))).alias("n_correct"),
        (
            F.count(IF(F.col("pred_lang") == F.col("lang"), F.lit(1))) / F.count(F.lit(1))
        ).alias("accuracy"),
    )


@query(
    "q30_fingerprint",
    f"""
    SELECT substr(md5({NORM.format(x='text')}), 1, 2) AS shard,
           count(*) AS n, min(doc_id) AS min_doc
    FROM documents GROUP BY 1
    """,
)
def q30_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting + shard assignment (md5 of normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = textstats.fingerprint(docs, "text", "doc_id")
    return fp.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc")
    )


@query(
    "q31_binary_meta",
    """
    SELECT count(*) AS n_media,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           count(DISTINCT md5(text)) AS n_distinct
    FROM documents
    """,
)
def q31_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads + metadata processed via
    Arrow-batched mapInPandas (decode stubbed — no media libs here); the
    digest equals DuckDB's md5-of-blob, proving the byte path end-to-end."""
    from zenodb_spark.operators.multimodal import attach_media, extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    feats = extract_features(media)
    return feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("digest").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# Engine-level entries: the full SQL-dialect engine (schema → ingest →
# dialect query) validated against the DuckDB oracle. Only order-independent
# aggregates (COUNT/MIN/MAX/histogram-sketch) are used so values are exact.
# ---------------------------------------------------------------------------

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

# ---------------------------------------------------------------------------
# Extensions round 2: embedding near-dup, LSH-bucketed ANN, token stats,
# engine-level CROSSHIFT and CROSSTABT
# ---------------------------------------------------------------------------


@query(
    "q32_embed_neardup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT doc_a, doc_b, cosine FROM p WHERE cosine >= 0.4
    """,
)
def q32_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4), exact, via the
    triangle-blocked all-pairs equi-join (no cross join / broadcast of the
    corpus; shuffle N*blocks rows) -- the dedup family's cosine member."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, blocks=8, dim=64
    )


def _ann_lsh_oracle(bits: int = 8, dim: int = 64, seed: int = 42, k: int = 5) -> str:
    from zenodb_spark.operators.similarity import _planes

    planes = _planes(dim, bits, seed)
    lits = ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lits[j]}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    probes = ", ".join(["qb"] + [f"xor(qb, {1 << j})" for j in range(bits)])
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    fp AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM fp WHERE vec_id < 10),
    probes AS (SELECT query_id, qv, unnest([{probes}]) AS bucket FROM q),
    cand AS (
      SELECT query_id, qv, c.vec_id AS neighbor_id, c.v AS cv
      FROM probes JOIN fp c USING (bucket) WHERE query_id <> c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
      FROM cand
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@query("q33_ann_lsh", _ann_lsh_oracle())
def q33_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 cosine (the 100 TB ANN path): 8-bit
    random-hyperplane fingerprints, multi-probe over hamming-1 buckets,
    exact re-rank within candidates. The oracle replays the identical
    bucketing (plane literals inlined), so the comparison verifies the LSH
    plumbing itself, not just the exact fallback."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, bits=8, dim=64, seed=42,
    )


@query(
    "q34_token_stats",
    """
    WITH f AS (
      SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           quantile_cont(n_tokens, 0.5) AS med_tokens
    FROM f GROUP BY 1
    """,
)
def q34_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget accounting (BPE-ish regex tokenizer): doc
    counts, total/max tokens, exact median tokens per doc."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select("source", textstats.token_count("text").alias("n_tokens"))
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        percentile_exact(F.col("n_tokens").cast("double"), 0.5).alias("med_tokens"),
    )


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


_CT_TYPES = ["click", "error", "purchase", "signup", "view"]
_CT_COLS = ",\n           ".join(
    f"CAST(nullif(count(CASE WHEN event_type = '{t}' THEN value END), 0) AS DOUBLE) AS {t}_cnt"
    for t in _CT_TYPES
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
    "q35_shipping_priority",
    f"""
    SELECT l.l_orderkey AS orderkey,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0 AS revenue,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY 1, 3
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q35_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-k revenue.
    Scale plan: every join side is SF-scaled, so none carries a hint —
    AQE picks broadcast when a filtered side fits; orders⋈lineitem
    shuffles on orderkey; integer-cents revenue keeps the sum associative
    so the top-k is deterministic (ties broken by key)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # no broadcast hints anywhere: customer is SF-scaled even after the
    # segment filter, and orders is a fact — AQE upgrades either join to a
    # broadcast at runtime when a side truly fits, and a hard-coded hint
    # would OOM at 100× scale where AQE would have shuffled
    joined = l.join(
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.unix_timestamp("o_orderdate").alias("orderdate"),
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


@query(
    "q36_revenue_by_nation",
    f"""
    SELECT n.n_name AS nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q36_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dims star join. Nation is broadcast-hinted (O(1) rows);
    supplier scales with SF so AQE decides its side — broadcast while the
    2-column pruned build fits, shuffle join beyond. The fact never
    carries a hint; the only guaranteed exchange is the final groupBy."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q37_hash_sample",
    """
    WITH s AS (
      SELECT source, doc_id FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10 = 0
    )
    SELECT source, count(*) AS n_sampled, min(doc_id) AS min_doc
    FROM s GROUP BY 1
    """,
)
def q37_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample: md5-of-id bucket (engine-independent,
    reproducible across runs/engines — the sampling primitive a training
    pipeline needs; F.rand() is not cross-engine verifiable)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    return (
        docs.filter(bucket % 10 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_doc"))
    )


@query(
    "q38_stratified_topk",
    """
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    SELECT lang, doc_id, n_chars, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q38_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-group top-k (dataset curation: best docs per language)
    via a partitioned window — ties broken by id for determinism."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


@query(
    "q39_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q39_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals in one pass (beyond the
    reference, which has no grouping sets — SURVEY §2.3; free in Catalyst,
    partial-aggregated like any groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "q40_dedup_apply",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY md5({NORM.format(x='text')}) ORDER BY doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc
    FROM r WHERE rn = 1 GROUP BY 1
    """,
)
def q40_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLY: the corpus with exact duplicates removed (keep lowest
    id per normalized fingerprint), summarized per source."""
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup.dedup_apply(docs, "text", "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_doc")
    )


@query(
    "q41_simhash_pairs",
    f"""
    WITH f AS ({_simhash_oracle().strip()})
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM f a JOIN f b ON a.doc < b.doc
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def q41_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 2) via pigeonhole segment
    blocking: only docs agreeing exactly on >=1 of 3 fingerprint segments
    are compared — the oracle brute-forces all pairs, so the comparison
    proves the blocking loses nothing (pigeonhole guarantee)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = dedup.simhash(docs, "text", "doc_id", bits=16)
    return dedup.simhash_pairs(fp, max_hamming=2, bits=16)


def _ivf_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    from zenodb_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, k, seed)
    terms = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})")
    darr = "[" + ", ".join(terms) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (
      SELECT vec_id, {darr} AS d FROM e
    )
    SELECT CAST(list_position(d, list_min(d)) AS INTEGER) AS centroid,
           count(*) AS n_vectors, min(vec_id) AS min_vec
    FROM a GROUP BY 1
    """


@query("q42_ivf_assign", _ivf_oracle())
def q42_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (the inverted-file ANN scale path, companion
    to q33's LSH): nearest-centroid assignment with bit-identical distance
    math; summarized as list sizes per centroid."""
    from zenodb_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, ivf_centroids(64, 8, 43), "vec_id", "embedding")
    return assigned.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec")
    )


def _ivf_search_oracle(dim: int = 64, k: int = 8, seed: int = 43, nprobe: int = 2, topk: int = 5) -> str:
    from zenodb_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, k, seed)
    terms = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})")
    darr = "[" + ", ".join(terms) + "]"
    probe_structs = (
        "[" + ", ".join(f"{{'d': d[{i + 1}], 'i': {i + 1}}}" for i in range(k)) + "]"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v, {darr} AS d,
             CAST(list_position({darr}, list_min({darr})) AS INTEGER) AS centroid
      FROM e
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv,
             list_sort({probe_structs})[1:{nprobe}] AS probes
      FROM assigned WHERE vec_id < 10
    ),
    qp AS (SELECT query_id, qv, unnest(probes).i AS centroid FROM q),
    cand AS (
      SELECT query_id, qv, a.vec_id AS neighbor_id, a.v AS cv
      FROM qp JOIN assigned a USING (centroid)
      WHERE query_id <> a.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
      FROM cand
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {topk}
    """


@query("q43_ivf_search", _ivf_search_oracle())
def q43_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search: probe the 2 nearest centroid lists per query,
    exact cosine re-rank within — the oracle replays the identical
    quantization and probing, verifying the inverted-file plumbing."""
    from zenodb_spark.operators.similarity import ivf_centroids, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search(
        emb, emb.filter(F.col("vec_id") < 10), ivf_centroids(64, 8, 43),
        "vec_id", "embedding", k=5, nprobe=2,
    )


# ---------------------------------------------------------------------------
# Extensions round 3: chunking, PII scrubbing, benchmark decontamination
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48


@query(
    "q44_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), starts AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), {_STRIDE})) AS start
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id AS doc,
           CAST(start // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(toks[start+1:start+{_CHUNK}]) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[start+1:start+{_CHUNK}], ' ')) AS chunk_hash
    FROM starts
    """,
)
def q44_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking ({_CHUNK}-token chunks, stride {_STRIDE}) — the
    tokenizer-feed stage of a pretraining pipeline; one narrow array-ops
    pass, no shuffle."""
    from zenodb_spark.operators.pipeline import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", _CHUNK, _STRIDE)


def _pii_oracle() -> str:
    from zenodb_spark.operators.pipeline import EMAIL_RE, IPV4_RE, PHONE_RE

    # the synthetic corpus carries no PII, so both engines seed the same
    # deterministic contacts line per doc — the patterns must actually FIRE
    # for the oracle to prove the redaction semantics
    seeded = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
        "or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || ' tel 555-01' || "
        "CAST(doc_id % 10 AS VARCHAR) || '-2345'"
    )
    norm = NORM.format(x=seeded)
    scrub = (
        f"regexp_replace(regexp_replace(regexp_replace({norm}, "
        f"'{EMAIL_RE}', '<EMAIL>', 'g'), '{IPV4_RE}', '<IP>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
    SELECT doc_id AS doc,
           CAST(len(regexp_extract_all({norm}, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all({norm}, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all({norm}, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           md5({scrub}) AS scrubbed_hash
    FROM documents
    """


@query("q45_pii_scrub", _pii_oracle())
def q45_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/IPv4/phone shapes) with per-doc counts and the
    scrubbed-content fingerprint; patterns restricted to the Java-regex ∩
    RE2 common subset so both engines agree byte-for-byte. The corpus has
    no natural PII, so a deterministic per-doc contacts line is seeded into
    the text (identically in the oracle) to make every pattern fire."""
    from zenodb_spark.operators.pipeline import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-01"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("-2345"),
        ),
    )
    return pii_scrub(seeded, "text", "doc_id")


@query(
    "q46_decontaminate",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i+1:i+4], ' ') AS gram
      FROM t, unnest(range(0, greatest(len(toks) - 4, 0) + 1)) AS u(i)
      WHERE len(array_to_string(toks[i+1:i+4], ' ')) > 0
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0
    )
    SELECT g.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_shared
    FROM grams g JOIN bench b USING (gram)
    WHERE g.doc_id % 100 <> 0
    GROUP BY 1
    """,
)
def q46_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id%100≠0) sharing any
    word 4-gram with the benchmark split (doc_id%100=0). The benchmark's
    distinct grams broadcast; one explode + semi-join-shaped count per doc —
    the standard pretraining leakage check at corpus scale."""
    from zenodb_spark.operators.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0),
        "text",
        "doc_id",
        n=4,
    )


@query(
    "q47_dedup_clusters",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
    ),
    labs AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY 1)
    SELECT doc, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labs
    """,
)
def q47_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: 3-gram-Jaccard >= 0.2 pairs as edges (auto-
    planned exact join), connected components by alternating large-star/
    small-star rounds (Kiveris et al. SoCC'14; cluster id = component's min
    doc id, O(log n) rounds on any graph shape). The oracle recomputes the
    same components with a recursive reachability CTE — same fixpoint,
    different engine."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(docs, "text", "doc_id", n=3, threshold=0.2)


@query(
    "q48_repetition",
    f"""
    WITH t AS (
      SELECT doc_id AS doc, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ),
    base AS (
      SELECT doc, toks, len(toks) AS n, len(list_distinct(toks)) AS nuniq
      FROM t
    ),
    bi AS (
      SELECT doc, unnest([array_to_string(toks[i+1:i+2], ' ')
                          for i in range(greatest(len(toks)-1, 0))]) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    bi_counts AS (SELECT doc, gram, count(*) AS c FROM bi GROUP BY 1, 2),
    bi_top AS (SELECT doc, max(c) AS best, sum(c) AS tot FROM bi_counts GROUP BY 1),
    tri AS (
      SELECT doc, unnest([array_to_string(toks[i+1:i+3], ' ')
                          for i in range(greatest(len(toks)-2, 0))]) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    tri_stats AS (
      SELECT doc, count(DISTINCT gram) AS d, count(*) AS tot FROM tri GROUP BY 1
    )
    SELECT b.doc,
           CAST(b.n AS BIGINT) AS n_tokens,
           b.nuniq / b.n AS uniq_token_frac,
           coalesce(bt.best / bt.tot, 0.0) AS top_bigram_frac,
           coalesce(1.0 - ts.d / ts.tot, 0.0) AS dup_trigram_frac
    FROM base b
    LEFT JOIN bi_top bt USING (doc)
    LEFT JOIN tri_stats ts USING (doc)
    """,
)
def q48_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (type-token ratio, top-bigram fraction,
    duplicate-trigram fraction) — the Gopher/C4 repetition filters. One
    narrow in-row pass on the Spark side (sorted-run fold, no explode); the
    oracle recomputes via unnest + group-by."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.repetition_signals(docs, "text", "doc_id")


_SHINGLE5_SQL = """
      SELECT doc, shingle FROM (
        SELECT doc_id AS doc, unnest(list_distinct(
          [array_to_string(t[i+1:i+5], ' ') for i in range(greatest(len(t)-4, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split({norm}, ' ') AS t FROM documents)
      ) WHERE len(shingle) > 0
""".format(norm=NORM.format(x="text"))


@query(
    "q49_dup_ngram_fraction",
    f"""
    WITH sh AS ({_SHINGLE5_SQL}),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
    SELECT doc, count(*) AS n_shingles,
           sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / count(*) AS dup_frac
    FROM sh JOIN dfreq USING (shingle)
    GROUP BY 1
    """,
)
def q49_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate 5-gram fraction per doc — the cross-document
    boilerplate signal (template/header text that survives doc-level dedup).
    Linear everywhere: df-count groupBy + postings join + per-doc groupBy;
    no pair materialization (contrast q24's pair join)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cross_doc_dup_fraction(docs, "text", "doc_id", n=5)


@query(
    "q50_vocab_stats",
    f"""
    WITH toks AS (
      SELECT source, lang, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    )
    SELECT source, lang, count(*) AS n_tokens,
           count(DISTINCT tok) AS vocab,
           count(DISTINCT tok) / count(*) AS type_token_ratio
    FROM toks WHERE len(tok) > 0
    GROUP BY 1, 2
    """,
)
def q50_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) vocabulary report: token occurrences, exact
    distinct-token vocabulary, type-token ratio. Exact distinct is the
    oracle-checkable form; `approx_count_distinct` (HLL) is the stated
    100 TB swap (one fewer shuffle, fixed-size sketch state)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.vocab_stats(docs, "text", ("source", "lang"))


def _semdedup_oracle(dim: int = 64, k: int = 8, seed: int = 43, thr: float = 0.38) -> str:
    from zenodb_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, k, seed)
    terms = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})")
    darr = "[" + ", ".join(terms) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v,
             CAST(list_position({darr}, list_min({darr})) AS INTEGER) AS centroid,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM e
    ),
    p AS (
      SELECT a.centroid, a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
      FROM assigned a JOIN assigned b
        ON a.centroid = b.centroid AND a.vec_id < b.vec_id
    )
    SELECT centroid, vec_b AS dropped_vec, count(*) AS n_dups, max(cosine) AS best_cos
    FROM p WHERE cosine >= {thr!r}
    GROUP BY 1, 2
    """


@query("q51_semdedup", _semdedup_oracle())
def q51_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): coarse-cluster
    the embeddings (the q42 IVF cells), then within each cell drop every
    vector with a lower-id neighbor at cosine >= 0.38 (keep-lowest-id).
    The quadratic search is confined to cells — k scales with the corpus so
    cell size stays bounded; pairs come from one co-partitioned self-join
    on the centroid key."""
    from zenodb_spark.operators.similarity import ivf_centroids, semdedup_drop_list

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_drop_list(emb, ivf_centroids(64, 8, 43), "vec_id", "embedding", 0.38)


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


@query(
    "q56_running_revenue",
    f"""
    WITH m AS (
      SELECT n.n_name AS nation,
             CAST(epoch(date_trunc('month', o.o_orderdate)) AS BIGINT) AS month_start,
             sum({C.format(x='o.o_totalprice')}) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, month_start,
           cents / 100.0 AS revenue,
           sum(cents) OVER (PARTITION BY nation ORDER BY month_start
                            ROWS UNBOUNDED PRECEDING) / 100.0 AS cum_revenue
    FROM m
    """,
)
def q56_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative (running-total) window aggregation: monthly revenue per
    nation plus its running sum over months. Beyond-parity window surface
    (reference SHIFT only reaches fixed offsets). Scale shape: fact shuffles
    once into the monthly groupBy (dims broadcast), then the window runs
    inside each nation partition — 25 keys × few hundred months, trivially
    in-memory; integer cents keep the running sum exact. Customer carries
    no broadcast hint (SF-scaled; AQE decides), nation does (O(1))."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "month_start"
            ),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("month_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "nation",
        "month_start",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        (F.sum("cents").over(w) / F.lit(100.0)).alias("cum_revenue"),
    )


@query(
    "q57_centroid_outliers",
    """
    WITH base AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
      FROM (SELECT label, unnest(q) AS v, generate_subscripts(q, 1) AS pos FROM base)
      GROUP BY 1, 2
    ),
    carr AS (SELECT label, list(s ORDER BY pos) AS c FROM cent GROUP BY 1),
    scored AS (
      SELECT b.vec_id, b.label,
             CAST(CAST(list_sum(list_transform(range(1, 65), i -> b.q[i] * carr.c[i]))
                       AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(list_sum(list_transform(b.q, x -> x*x)) AS BIGINT) AS DOUBLE))
                  * sqrt(CAST(CAST(list_sum(list_transform(carr.c, x -> x*x)) AS BIGINT) AS DOUBLE)))
               AS cos_c
      FROM base b JOIN carr USING (label)
    )
    SELECT label, vec_id, cos_c, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos_c, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q57_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality filtering by centroid distance (the CCNet /
    cluster-pruning curation step): per label, the 3 vectors FARTHEST from
    the label centroid (lowest cosine). Cross-engine exact: components are
    quantized to integer millionths, centroid = exact integer component
    sums (cosine is scale-invariant, so the un-divided sum vector IS the
    centroid), and the final cosine is built from three exact integers
    with one sqrt/mul/div chain — bit-identical in IEEE doubles.

    Scale shape: centroids = one (label, pos) partial agg (640 rows), sent
    back as a BROADCAST array join; per-vector scoring is a codegen'd
    zip_with/aggregate fold — corpus is read once, shuffled never (only
    the 640-row centroid agg and the final top-3 window shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )
    base = emb.select("vec_id", "label", q.alias("q"))
    cent = (
        base.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"))
    )
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select("label", F.transform("ps", lambda x: x["s"]).alias("c"))
    )
    j = base.join(F.broadcast(carr), "label")

    def _isum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    dot = _isum(F.zip_with("q", "c", lambda a, b: a * b))
    nv = _isum(F.transform("q", lambda a: a * a))
    nc = _isum(F.transform("c", lambda a: a * a))
    scored = j.select(
        "label",
        "vec_id",
        (
            dot.cast("double")
            / (F.sqrt(nv.cast("double")) * F.sqrt(nc.cast("double")))
        ).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy("cos_c", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "cos_c", "rn")
    )


@query(
    "q58_token_budget_mix",
    """
    WITH d AS (
      SELECT source, doc_id,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    cum AS (
      SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM d
    ),
    tot AS (SELECT source, count(*) AS n_total FROM d GROUP BY 1)
    SELECT c.source, count(*) AS n_docs,
           CAST(max(c.cum_tokens) AS BIGINT) AS sum_tokens,
           t.n_total
    FROM cum c JOIN tot t ON c.source = t.source
    WHERE c.cum_tokens <= 20000
    GROUP BY 1, 4
    """,
)
def q58_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly: per source, select documents in deterministic
    md5 order until a per-source token budget (20k) is filled — the "data
    mixing" step that turns per-source weights into a concrete document
    subset. The md5 order is an engine-independent shuffle, so the chosen
    subset is reproducible anywhere; token counts are exact integers.

    Scale shape: one narrow pass computes token counts, one shuffle per
    window partition (source) orders and accumulates, and the per-source
    totals ride a tiny broadcast join. At 100 TB the running sum stays a
    single pass — no iterative take-until loop, no driver coordination."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        textstats.token_count("text").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        cum.filter(F.col("cum_tokens") <= 20000)
        .join(F.broadcast(tot), "source")
        .groupBy("source", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("cum_tokens").cast("long").alias("sum_tokens"),
        )
        .select("source", "n_docs", "sum_tokens", "n_total")
    )


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
    for t in _CT_TYPES
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
    import os
    import tempfile

    from zenodb_spark.streaming.ingest import start_table_stream

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


_PARA = 20


@query(
    "q60_paragraph_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), starts AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), {_PARA})) AS start
      FROM t WHERE len(toks) > 0
    ), chunks AS (
      SELECT doc_id, CAST(start // {_PARA} AS BIGINT) AS cidx,
             array_to_string(toks[start+1:start+{_PARA}], ' ') AS chunk
      FROM starts
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, cidx) AS rn
      FROM chunks
    )
    SELECT doc_id AS doc,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_chunks,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_chunks,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1), ''))
             AS clean_hash
    FROM ranked GROUP BY doc_id
    """,
)
def q60_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph-level exact dedup: {_PARA}-token paragraphs kept
    only at their first corpus-wide occurrence, documents reassembled from
    the survivors. One explode + one paragraph-hash shuffle + one doc
    shuffle — linear end to end (operators/pipeline.py:paragraph_dedup)."""
    from zenodb_spark.operators.pipeline import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "text", "doc_id", _PARA)


@query(
    "q61_decontaminate_bloom",
    ORACLE["q46_decontaminate"],
)
def q61_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a Bloom pre-filter (k=3 hashes mod 2^20 bits):
    the eval set broadcasts as a set-bit table of longs instead of raw
    gram strings; only all-k-bits-set candidates reach the exact verify
    join, so the answer is bit-identical to q46's exact overlap — which is
    precisely what the shared oracle asserts (no false negatives)."""
    from zenodb_spark.operators.pipeline import decontaminate_bloom

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_bloom(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0),
        "text",
        "doc_id",
        n=4,
    )


@query(
    "q62_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), dt AS (
      SELECT doc_id, tok, count(*) AS occ FROM toks WHERE len(tok) > 0
      GROUP BY doc_id, tok
    ), freq AS (
      SELECT tok, sum(occ) AS cnt FROM dt GROUP BY tok
    ), tot AS (
      SELECT sum(cnt) AS t FROM freq
    ), lp AS (
      SELECT tok,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1000000 + 0.5) AS BIGINT)
               AS lp_micro
      FROM freq, tot
    )
    SELECT doc_id AS doc,
           CAST(sum(occ) AS BIGINT) AS n_tokens,
           (CAST(sum(occ * lp_micro) AS DOUBLE) / CAST(sum(occ) AS DOUBLE)
                 / 1000000) AS avg_logprob
    FROM dt JOIN lp USING (tok)
    GROUP BY doc_id
    """,
)
def q62_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-prob per document under the corpus's own unigram LM
    (micro-nat integer quantization before summing — engine-exact); the
    cheap perplexity-style quality filter of a pretraining pipeline
    (operators/textstats.py:unigram_logprob)."""
    from zenodb_spark.operators.textstats import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id")


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


def _kmeans_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    from zenodb_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim, k, seed)
    terms = []
    for c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(
            f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})"
        )
    darr = "[" + ", ".join(terms) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id, v, {darr} AS d FROM e),
    asn AS (
      SELECT vec_id, v, CAST(list_position(d, list_min(d)) AS INTEGER) AS centroid
      FROM a
    ),
    comp AS (
      SELECT centroid, CAST(i AS BIGINT) AS dim_idx,
             CAST(floor(v[i + 1] * 1000000 + 0.5) AS BIGINT) AS xq
      FROM asn, unnest(range(0, len(v))) AS u(i)
    )
    SELECT centroid, dim_idx, CAST(count(*) AS BIGINT) AS n_assigned,
           (CAST(sum(xq) AS DOUBLE) / count(*) / 1000000) AS value
    FROM comp GROUP BY 1, 2
    """


@query("q63_kmeans_step", _kmeans_oracle())
def q63_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration refining the IVF coarse centroids:
    bit-exact nearest-centroid assignment, integer-quantized component sums,
    k·dim output rows. The oracle replays assignment AND update exactly —
    proving the training loop `kmeans_train` iterates on
    (operators/similarity.py:kmeans_step)."""
    from zenodb_spark.operators.similarity import ivf_centroids, kmeans_step

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_step(emb, ivf_centroids(64, 8, 43))


def _bm25_cte(k1: float = 1.5, b: float = 0.75) -> str:
    """The BM25 oracle's CTE chain (corpus/query split → `ranked`), shared
    by q64 and the q187 RRF fusion so the two oracles cannot drift."""
    n = NORM.format(x="text")
    return f"""corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 <> 0),
    qs AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id % 100 = 0),
    toks AS (SELECT doc_id AS doc, unnest(string_split({n}, ' ')) AS tok FROM corpus),
    tf AS (SELECT doc, tok, count(*) AS tf FROM toks WHERE len(tok) > 0 GROUP BY 1, 2),
    dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
    ),
    dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
      SELECT tok, avgdl,
             CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1000000 + 0.5)
                  AS BIGINT) AS idf_micro
      FROM dft, stats
    ),
    qtok AS (
      SELECT DISTINCT qid, tok FROM (
        SELECT qid, unnest(string_split({n}, ' ')) AS tok FROM qs
      ) WHERE len(tok) > 0
    ),
    term AS (
      SELECT qid, doc,
             CAST(floor((idf_micro / 1000000.0) * (tf * {k1 + 1.0!r})
                        / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl))
                        * 1000000 + 0.5) AS BIGINT) AS s_micro
      FROM qtok JOIN idf USING (tok) JOIN tf USING (tok) JOIN dl USING (doc)
    ),
    scored AS (SELECT qid, doc, sum(s_micro) AS sm FROM term GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sm DESC, doc) AS rank
      FROM scored
    )"""


def _bm25_oracle(k1: float = 1.5, b: float = 0.75, topk: int = 10) -> str:
    return f"""
    WITH {_bm25_cte(k1, b)}
    SELECT qid, doc, (CAST(sm AS DOUBLE) / 1000000) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {topk}
    """


@query("q64_bm25_topk", _bm25_oracle())
def q64_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BM25 retrieval: the eval split (doc_id%100=0) queries the
    corpus (doc_id%100<>0); top-10 per query on integer-quantized scores
    (idf and per-term scores quantize to micro-units before any float sum —
    engine-exact, see operators/retrieval.py:bm25_topk)."""
    from zenodb_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("qid"), "text"
        ),
    )


@query(
    "q65_quality_resample",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, len(toks) AS n, len(list_distinct(toks)) AS d
      FROM t WHERE len(toks) > 0
    ), w AS (
      SELECT doc_id, source, n, d,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM s
    )
    SELECT doc_id AS doc, source, CAST(n AS BIGINT) AS n_tokens,
           (CAST(d AS DOUBLE) / n) AS ttr
    FROM w WHERE u < CAST(d AS DOUBLE) / n
    """,
)
def q65_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic resampling: each doc survives with
    probability equal to its type-token ratio (repetitive soup down-weighted)
    via the md5-uniform trick — reproducible across engines and runs, unlike
    rand(). One narrow pass, no shuffle; the curation primitive behind
    quality-tiered data mixes."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    d = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("d"),
    ).filter(F.col("n") > 0)
    u = F.conv(F.substring(F.md5(F.col("doc").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) / F.lit(4294967296.0)
    ttr = F.col("d").cast("double") / F.col("n")
    return d.filter(u < ttr).select(
        "doc",
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        (ttr).alias("ttr"),
    )


@query(
    "q66_containment",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / sa.sz AS containment
    FROM inter JOIN sizes sa ON sa.doc = doc_a
    WHERE i / sa.sz >= 0.8
    """,
)
def q66_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset pairs: shingle-set containment >= 0.8 (contained side
    doc_a) — catches quotes/boilerplate copies that Jaccard misses. Auto-
    planned exact join: counting formulation on dense corpora, contained-
    side prefix filter + verify in the Zipfian regime; the oracle brute-
    forces every pair, proving either plan lossless
    (operators/dedup.py:containment_pairs)."""
    from zenodb_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", n=3, threshold=0.8)


@query(
    "q67_dedup_keep_best",
    f"""
    WITH t AS (
      SELECT doc_id, source, {NORM.format(x='text')} AS norm,
             string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, norm,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
      FROM t WHERE len(toks) > 0
    ), r AS (
      SELECT doc_id, source, ttr,
             row_number() OVER (
               PARTITION BY md5(norm) ORDER BY ttr DESC, doc_id
             ) AS rn
      FROM s
    )
    SELECT doc_id AS doc, source, (ttr) AS ttr
    FROM r WHERE rn = 1
    """,
)
def q67_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority dedup: among exact duplicates keep the HIGHEST-quality copy
    (type-token ratio, id tie-break) instead of the lowest id — the curation
    rule real pipelines use when duplicates differ in metadata. Same single
    fingerprint-shuffle window as dedup_apply, just a different order."""
    from zenodb_spark.operators.dedup import dedup_apply, normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    enriched = docs.withColumn(
        "ttr", F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    ).filter(F.size(toks) > 0)
    kept = dedup_apply(enriched, "text", "doc_id", priority=[F.desc("ttr")])
    return kept.select(
        F.col("doc_id").alias("doc"), "source", F.col("ttr").alias("ttr")
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
    "q70_anomaly_zscore",
    f"""
    WITH b AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, bucket, n,
             CAST(count(n) OVER tw AS BIGINT) AS m,
             CAST(sum(n) OVER tw AS BIGINT) AS s,
             CAST(sum(n * n) OVER tw AS BIGINT) AS s2
      FROM b
      WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket, n,
           ((n - CAST(s AS DOUBLE) / m)
                 / sqrt(CAST(m * s2 - s * s AS DOUBLE) / (m * m))) AS z
    FROM w
    WHERE m >= 12 AND (m * s2 - s * s) > 0
      AND abs((n - CAST(s AS DOUBLE) / m)
              / sqrt(CAST(m * s2 - s * s AS DOUBLE) / (m * m))) > 2.0
    """,
)
def q70_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on hourly event counts: each bucket
    scored against its trailing 24 observed buckets (warm-up ≥ 12, zero
    variance excluded). Mean/variance come from exact integer window sums
    (s, s²), so z is a fixed IEEE sequence — engine-exact with no
    quantization. One aggregation + one co-partitioned window per key; at
    100 TB the window never re-shuffles (same (event_type, bucket)
    partitioning as the aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type",
            (F.floor(F.col("ts_ns") / F.lit(3600 * 1_000_000_000)) * 3600)
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tw = (
        Window.partitionBy("event_type").orderBy("bucket").rowsBetween(-24, -1)
    )
    w = (
        b.withColumn("m", F.count("n").over(tw).cast("long"))
        .withColumn("s", F.sum("n").over(tw).cast("long"))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(tw).cast("long"))
    )
    z = (F.col("n") - F.col("s").cast("double") / F.col("m")) / F.sqrt(
        (F.col("m") * F.col("s2") - F.col("s") * F.col("s")).cast("double")
        / (F.col("m") * F.col("m"))
    )
    return (
        w.filter(
            (F.col("m") >= 12)
            & ((F.col("m") * F.col("s2") - F.col("s") * F.col("s")) > 0)
            & (F.abs(z) > 2.0)
        )
        .select("event_type", "bucket", "n", (z).alias("z"))
    )


@query(
    "q71_tfidf_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc, tok, count(*) AS tf FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
    ), stats AS (
      SELECT count(DISTINCT doc) AS n_docs FROM tf
    ), dft AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT tok,
             CAST(floor(ln((n_docs + 1.0) / (df + 1.0)) * 1000000 + 0.5) AS BIGINT)
               AS idf_micro
      FROM dft, stats
    ), scored AS (
      SELECT doc, tok, tf * idf_micro AS w_micro FROM tf JOIN idf USING (tok)
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc ORDER BY w_micro DESC, tok) AS rank
      FROM scored
    )
    SELECT doc, tok AS term,
           (CAST(w_micro AS DOUBLE) / 1000000) AS tfidf,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q71_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (smoothed idf = ln((N+1)/(df+1)),
    quantized to micro-nats; ranking on exact integer tf·idf so order is
    engine-identical). The corpus-tagging primitive: two hash aggregates,
    one token-keyed join, one per-doc top-k window with map-side
    WindowGroupLimit pruning."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(normalize_text("text"), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    # tf feeds three differently-pruned consumers (n_docs, idf, scored);
    # checkpoint so the corpus is scanned + exploded once, not three times
    # (round 6; Catalyst cannot stage-reuse subtrees that prune apart);
    # size-gated round 7 — below the gate the rescans are cheaper than the
    # materialization job
    tf = share(toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("tf")))
    stats = tf.agg(F.count_distinct("doc").alias("n_docs"))
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.floor(
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(idf, "tok").select(
        "doc", "tok", (F.col("tf") * F.col("idf_micro")).alias("w_micro")
    )
    w = Window.partitionBy("doc").orderBy(F.desc("w_micro"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "doc",
            F.col("tok").alias("term"),
            (F.col("w_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "tfidf"
            ),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@query(
    "q73_source_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), c AS (
      SELECT DISTINCT source,
             md5(array_to_string(toks[start+1:start+{_PARA}], ' ')) AS h
      FROM t, unnest(range(0, len(toks), {_PARA})) AS u(start)
      WHERE len(toks) > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM c a JOIN c b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q73_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: count of {_PARA}-token paragraphs
    shared between each source pair — the data-governance rollup that tells
    you which feeds copy from which. One paragraph-hash aggregation, pair
    generation from the per-hash source SET (bounded by source count, never
    by corpus size), no self-join of the corpus."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    d = docs.select("source", toks.alias("toks")).filter(F.size("toks") > 0)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(_PARA)
    )
    chunks = d.select(
        "source",
        F.explode(starts).alias("start"),
        F.col("toks"),
    ).select(
        "source",
        F.md5(F.array_join(F.slice(F.col("toks"), F.col("start") + 1, _PARA), " ")).alias("h"),
    )
    per_hash = chunks.groupBy("h").agg(
        F.array_sort(F.collect_set("source")).alias("sources")
    )
    return (
        per_hash.filter(F.size("sources") >= 2)
        .select(F.posexplode("sources").alias("i", "source_a"), F.col("sources"))
        .select("i", "source_a", F.explode("sources").alias("source_b"), F.col("sources"))
        .filter(F.array_position("sources", F.col("source_b")) - 1 > F.col("i"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


@query(
    "q72_bigram_logprob",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), uni AS (
      SELECT tok, count(*) AS c1 FROM (
        SELECT unnest(toks) AS tok FROM t
      ) WHERE len(tok) > 0 GROUP BY 1
    ), tot AS (SELECT sum(c1) AS tt FROM uni),
    dbg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, count(*) AS occ
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2 AND len(toks[i]) > 0 AND len(toks[i+1]) > 0
      GROUP BY 1, 2, 3
    ), big AS (
      SELECT w1, w2, sum(occ) AS c2 FROM dbg GROUP BY 1, 2
    ), lp2 AS (
      SELECT b.w1, b.w2,
             CAST(floor(ln(CAST(b.c2 AS DOUBLE) / u.c1) * 1000000 + 0.5) AS BIGINT)
               AS lp_micro
      FROM big b JOIN uni u ON u.tok = b.w1
    )
    SELECT doc_id AS doc, CAST(sum(occ) AS BIGINT) AS n_bigrams,
           (CAST(sum(occ * lp_micro) AS DOUBLE) / CAST(sum(occ) AS DOUBLE)
                 / 1000000) AS avg_logprob
    FROM dbg JOIN lp2 USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q72_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-prob per document under the corpus's own bigram LM
    (P(w2|w1) = c(w1 w2)/c(w1)) — the sharper perplexity-style filter above
    q62's unigram. Same exactness scheme: micro-nat quantization per
    DISTINCT bigram before any summation. Every bigram in the corpus is
    seen by construction (the model IS the corpus), so no backoff term
    enters the sum."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.col("doc_id").alias("doc"), F.split(normalize_text("text"), " ").alias("toks")
    )
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n = F.size("toks")
    # the bigram rows feed BOTH the LM build (big) and the scoring join;
    # checkpoint so the corpus is scanned + bigram-exploded once (round 6).
    # UNCONDITIONAL (not size-gated): both consumers read the full (w1, w2)
    # rows — nothing prunes — so the duplicate explode is paid at any
    # scale; round-7 interleaved A/B kept this a local win too (1.17 vs
    # 1.31 s at sf0.1, min-of-5, consistent across two sessions)
    pairs = t.filter(n >= 2).select(
        "doc",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc", "p.w1", "p.w2").filter(
        (F.length("w1") > 0) & (F.length("w2") > 0)
    ).localCheckpoint(eager=True)
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    lp2 = big.join(uni.withColumnRenamed("tok", "w1"), "w1").select(
        "w1",
        "w2",
        F.floor(
            F.log(F.col("c2").cast("double") / F.col("c1")) * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    # Dense-vocab regime (the q64 BM25 planner's pattern): when the LM table
    # is model-sized (≤ cap, NOT corpus-proportional) broadcast it and score
    # raw occurrences — the per-(doc, bigram) shuffle disappears entirely;
    # both groupBy(doc) aggregations complete map-side because a doc's
    # bigrams are generated inside one task. On Heaps-law corpora where the
    # bigram table outgrows the cap, fall back to the shuffle join on the
    # aggregated (doc, bigram) frame.
    lp2 = lp2.localCheckpoint(eager=False)
    if lp2.count() <= 1_000_000:
        scored = pairs.join(F.broadcast(lp2), ["w1", "w2"])
        return scored.groupBy("doc").agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.sum("lp_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1_000_000.0)
            ).alias("avg_logprob"),
        )
    dbg = pairs.groupBy("doc", "w1", "w2").agg(F.count(F.lit(1)).alias("occ"))
    return (
        dbg.join(lp2, ["w1", "w2"])
        .groupBy("doc")
        .agg(
            F.sum("occ").cast("long").alias("n_bigrams"),
            (
                F.sum(F.col("occ") * F.col("lp_micro")).cast("double")
                / F.sum("occ").cast("double")
                / F.lit(1_000_000.0)).alias("avg_logprob"),
        )
    )


@query(
    "q74_bpe_pairs",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), pairs AS (
      SELECT substr(tok, i, 2) AS pair
      FROM toks, unnest(range(1, len(tok))) AS u(i)
      WHERE len(tok) >= 2
    ), counted AS (
      SELECT pair, count(*) AS n FROM pairs GROUP BY 1
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rank FROM counted
    )
    SELECT pair, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 50
    """,
)
def q74_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs over all token occurrences — the
    first merge-candidate table of BPE tokenizer training, distributed:
    one explode chain (tokens → in-token positions) and one hash aggregate;
    the final global top-50 is a TakeOrdered over the (tiny) pair
    vocabulary, not over corpus rows."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # top-50 via orderBy+limit (TakeOrderedAndProject: map-side heaps, no
    # global window over the pair vocabulary); the rank window then runs
    # over exactly 50 rows
    top = counted.orderBy(F.desc("n"), F.asc("pair")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "pair", F.col("n").cast("long").alias("n"), F.col("rank").cast("long").alias("rank")
    )


@query(
    "q75_length_quantiles",
    f"""
    WITH s AS (
      SELECT source, len(string_split({NORM.format(x='text')}, ' ')) AS n_tokens
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_cont(n_tokens, 0.95) AS DOUBLE) AS p95,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM s GROUP BY 1
    """,
)
def q75_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (exact interpolated P50/P95
    + max) — the length-histogram panel of a dataset card. One hash
    aggregate; F.percentile is quantile_cont-exact so values hash-match."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "source", F.size(F.split(normalize_text("text"), " ")).alias("n_tokens")
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile("n_tokens", F.lit(0.5)).alias("p50"),
        F.percentile("n_tokens", F.lit(0.95)).alias("p95"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@query(
    "q76_dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             string_split({NORM.format(x='text')}, ' ') AS toks,
             md5({NORM.format(x='text')}) AS fp
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM t GROUP BY 1
    """,
)
def q76_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop dataset-card rollup per source: doc/token volumes, exact
    dedup rate (distinct fingerprints), language spread, id range — the
    summary table a corpus release ships with. Single pass, one hash
    aggregate with two count-distinct expansions."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    t = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(norm, " ")).alias("n_toks"),
        F.md5(norm).alias("fp"),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.count_distinct("fp").cast("long").alias("n_unique_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@query(
    "q77_top_returners",
    f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name, n.n_name AS nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0
             AS lost_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, custkey
    LIMIT 20
    """,
)
def q77_top_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned revenue. The returned
    filter prunes the fact scan; orders⋈lineitem shuffles on orderkey and
    customer joins WITHOUT a forced broadcast (customer grows with scale
    factor — AQE broadcasts while it fits, shuffle-joins beyond; only the
    25-row nation is hinted); final top-20 is TakeOrderedAndProject on the
    integer-cents revenue (exact, so the global order is
    engine-identical)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev_cents = F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            (rev_cents / F.lit(100.0)).alias("lost_revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("custkey"))
        .limit(20)
    )


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


@query(
    "q78_balanced_sample",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id AS doc, source, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 5
    """,
)
def q78_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced eval-set construction: exactly 5 docs per source, chosen by
    md5-of-id order — deterministic across engines/runs AND stable under
    corpus growth for the already-sampled ids (a doc's hash never changes).
    Per-source window with map-side WindowGroupLimit pruning."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("doc_id").alias("doc"), "source", F.col("rn").cast("long").alias("rn")
        )
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
    "q81_token_pmi",
    f"""
    WITH t AS (
      SELECT doc_id, list_distinct(string_split({NORM.format(x='text')}, ' ')) AS toks
      FROM documents
    ), d AS (SELECT count(*) AS nd FROM t),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), df_t AS (
      SELECT tok, count(*) AS df FROM tok WHERE len(tok) > 0 GROUP BY 1
    ), pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      WHERE len(a.tok) > 0 AND len(b.tok) > 0
      GROUP BY 1, 2
    ), scored AS (
      SELECT tok_a, tok_b, n_ab,
             CAST(floor(ln((CAST(n_ab AS DOUBLE) * nd)
                           / (CAST(fa.df AS DOUBLE) * fb.df))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_micro
      FROM pairs
      JOIN df_t fa ON fa.tok = tok_a
      JOIN df_t fb ON fb.tok = tok_b
      CROSS JOIN d
      WHERE n_ab >= 5
    )
    SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
           (CAST(pmi_micro AS DOUBLE) / 1000000) AS pmi
    FROM scored
    ORDER BY pmi_micro DESC, tok_a, tok_b LIMIT 30
    """,
)
def q81_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token associations by document-level PMI: ln(P(a,b)/(P(a)P(b)))
    over per-doc distinct tokens, support ≥ 5, micro-nat quantized ranking.
    Pair generation explodes each doc's distinct-token set against itself
    (bounded by per-doc vocabulary, not corpus size); frequencies join
    back broadcast. The collocation-mining primitive."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.array_distinct(F.split(normalize_text("text"), " ")).alias("toks"),
    )
    tok = t.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.length("tok") > 0
    )
    nd = t.agg(F.count(F.lit(1)).alias("nd"))
    df_t = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    a = tok.select("doc_id", F.col("tok").alias("tok_a"))
    b = tok.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    fa = df_t.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    fb = df_t.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    scored = (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.floor(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("nd"))
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_micro"), "tok_a", "tok_b")
        .limit(30)
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            (F.col("pmi_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "pmi"
            ),
        )
    )


@query(
    "q82_forecast_revenue",
    f"""
    SELECT sum({C.format(x='l_extendedprice * l_discount')})/100.0 AS revenue_delta,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q82_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global aggregate. All four predicates reach
    the parquet scan (PushedFilters); the plan is scan → partial agg →
    single-row final — the minimal possible shape."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))) / F.lit(100.0)).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@query(
    "q83_late_order_priority",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY 1
    """,
)
def q83_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a window with at least one lineitem
    shipped after the order date, counted per priority. The EXISTS becomes
    a left-semi join on orderkey carrying the correlated date predicate -
    lineitem never materializes into the output, and the date window
    prunes the orders scan before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
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
    "q85_weighted_sample_k",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split({NORM.format(x='text')}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS w
      FROM t WHERE len(toks) > 0
    ), keyed AS (
      SELECT doc_id, source, w,
             CAST(floor(
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 1) / 4294967297.0) / w * 1000000 + 0.5)
               AS BIGINT) AS key_micro
      FROM s
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY key_micro DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id AS doc, source, (w) AS weight, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def q85_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=3 per source
    (Efraimidis–Spirakis A-ES: rank by u^(1/w), realized as ln(u)/w with
    md5-uniform u and TTR weights, micro-nat quantized so the order is
    engine-exact). The principled counterpart to q65's Bernoulli
    resampling: exactly k survivors per stratum, quality-biased,
    reproducible. One narrow pass + per-source top-k window."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    s = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("w"),
    ).filter(F.size(toks) > 0)
    v = F.conv(F.substring(F.md5(F.col("doc").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    key_micro = (
        F.floor(
            F.log((v + F.lit(1)) / F.lit(4294967297.0)) / F.col("w") * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
    ).cast("long")
    w = Window.partitionBy("source").orderBy(F.desc("key_micro"), F.asc("doc"))
    return (
        s.withColumn("key_micro", key_micro)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc", "source", F.col("w").alias("weight"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


@query(
    "q86_promo_revenue",
    f"""
    WITH j AS (
      SELECT p_type,
             {C.format(x='l_extendedprice * (1 - l_discount)')} AS rev_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
    )
    SELECT (100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev_c
                                       ELSE 0 END) AS DOUBLE)
                 / sum(rev_c)) AS economy_share_pct,
           CAST(sum(rev_c) AS BIGINT) AS total_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM j
    """,
)
def q86_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one part class's share of monthly revenue. The
    date window prunes lineitem at the scan; part carries NO broadcast
    hint — like customer/orders it scales with SF, so AQE broadcasts only
    while the (2-column-pruned) build side truly fits and shuffle-joins on
    partkey beyond; the share is a ratio of two exact cent sums, a single
    IEEE division."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-02-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = l.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "p_type", rev_c.alias("rev_c")
    )
    eco = F.sum(F.when(F.col("p_type") == "ECONOMY", F.col("rev_c")).otherwise(0))
    return j.agg(
        (F.lit(100.0) * eco.cast("double") / F.sum("rev_c")).alias(
            "economy_share_pct"
        ),
        F.sum("rev_c").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


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
    import tempfile

    from zenodb_spark.streaming.ingest import windowed_rollup_stream

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
    "q88_length_diversity_corr",
    f"""
    WITH s AS (
      SELECT source,
             CAST(len(string_split({NORM.format(x='text')}, ' ')) AS BIGINT) AS x,
             CAST(floor(CAST(len(list_distinct(string_split({NORM.format(x='text')}, ' ')))
                             AS DOUBLE)
                        / len(string_split({NORM.format(x='text')}, ' '))
                        * 1000000 + 0.5) AS BIGINT) AS y
      FROM documents
      WHERE len(string_split({NORM.format(x='text')}, ' ')) > 0
    ), m AS (
      SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM s GROUP BY 1
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
             AS pearson_r
    FROM m
    WHERE (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
    """,
)
def q88_length_diversity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Pearson correlation between document length and
    lexical diversity (TTR, micro-quantized) per source — the curation
    diagnostic for 'are long docs just repetitive?'. Built from six exact
    integer sums, NOT the engines' float corr() (whose summation order is
    nondeterministic); the closed form then runs a fixed IEEE sequence."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    s = docs.select(
        "source",
        F.size(toks).cast("long").alias("x"),
        F.floor(
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks)
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("y"),
    ).filter(F.size(toks) > 0)
    m = s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return (
        m.filter(varx * vary > 0)
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            (cov / F.sqrt(varx * vary)).alias("pearson_r"),
        )
    )


@query(
    "q89_source_entropy",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), f AS (
      SELECT source, tok, count(*) AS cnt FROM toks WHERE len(tok) > 0
      GROUP BY 1, 2
    ), t AS (
      SELECT source, sum(cnt) AS tt FROM f GROUP BY 1
    ), lp AS (
      SELECT f.source, f.cnt,
             CAST(floor(ln(CAST(f.cnt AS DOUBLE) / t.tt) * 1000000 + 0.5) AS BIGINT)
               AS lp_micro,
             t.tt
      FROM f JOIN t USING (source)
    )
    SELECT source,
           CAST(max(tt) AS BIGINT) AS n_tokens,
           (-CAST(sum(cnt * lp_micro) AS DOUBLE) / max(tt) / 1000000)
             AS entropy_nats
    FROM lp GROUP BY source
    """,
)
def q89_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (nats) — the
    vocabulary-diversity panel of a dataset card; low entropy flags
    template/boilerplate feeds. Same micro-nat scheme as q62: ln quantizes
    per DISTINCT (source, token), the entropy sum is exact integers."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    f = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    t = f.groupBy("source").agg(F.sum("cnt").alias("tt"))
    lp = f.join(t, "source").select(
        "source",
        "cnt",
        "tt",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("tt")) * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return lp.groupBy("source").agg(
        F.max("tt").cast("long").alias("n_tokens"),
        (
            -F.sum(F.col("cnt") * F.col("lp_micro")).cast("double")
            / F.max("tt")
            / F.lit(1_000_000.0)).alias("entropy_nats"),
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
    "q92_pareto_parts",
    f"""
    WITH r AS (
      SELECT l_partkey, sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS rev_c
      FROM lineitem GROUP BY 1
    ), t AS (SELECT sum(rev_c) AS total FROM r),
    ranked AS (
      SELECT l_partkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS cum_c,
             total
      FROM r, t
    )
    SELECT CASE WHEN cum_c <= total * 0.5 THEN 'A'
                WHEN cum_c <= total * 0.8 THEN 'B' ELSE 'C' END AS klass,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_cents
    FROM ranked GROUP BY 1
    """,
)
def q92_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by revenue share: running
    cumulative share over the revenue-ranked part list (exact cents, so
    rank and class boundaries are engine-identical), bucketed at 50%/80%.
    The cumulative sum uses the two-phase distributed prefix scan
    (operators/prefix.py:running_total) — the part list is SF-scaled, so a
    bare global-order window would funnel it through one task."""
    from zenodb_spark.operators.prefix import running_total

    l = load_table(spark, sf_dir, "lineitem")
    r = l.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev_c"
        )
    )
    t = r.agg(F.sum("rev_c").alias("total"))
    ranked = running_total(
        r.crossJoin(F.broadcast(t)),
        [F.desc("rev_c"), F.asc("l_partkey")],
        "rev_c",
        out_col="cum_c",
    )
    klass = (
        F.when(F.col("cum_c") <= F.col("total") * 0.5, "A")
        .when(F.col("cum_c") <= F.col("total") * 0.8, "B")
        .otherwise("C")
    )
    return ranked.groupBy(klass.alias("klass")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_c").cast("long").alias("revenue_cents"),
    )


@query(
    "q93_order_size_dist",
    """
    WITH s AS (
      SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM s GROUP BY 1
    """,
)
def q93_order_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution (lines per order): two chained hash
    aggregates, the second over at most a few dozen distinct sizes —
    the basket-size panel of an order dashboard."""
    l = load_table(spark, sf_dir, "lineitem")
    s = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return s.groupBy(F.col("n_lines").cast("long").alias("n_lines")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@query(
    "q94_source_kl",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), f AS (
      SELECT source, tok, count(*) AS cnt FROM toks WHERE len(tok) > 0
      GROUP BY 1, 2
    ), st AS (SELECT source, sum(cnt) AS ts FROM f GROUP BY 1),
    g AS (SELECT tok, sum(cnt) AS gcnt FROM f GROUP BY 1),
    gt AS (SELECT sum(gcnt) AS tg FROM g),
    terms AS (
      SELECT f.source, f.cnt, st.ts,
             CAST(floor(ln((CAST(f.cnt AS DOUBLE) / st.ts)
                           / (CAST(g.gcnt AS DOUBLE) / gt.tg))
                        * 1000000 + 0.5) AS BIGINT) AS lr_micro
      FROM f JOIN st USING (source) JOIN g USING (tok) CROSS JOIN gt
    )
    SELECT source,
           (CAST(sum(cnt * lr_micro) AS DOUBLE) / max(ts) / 1000000)
             AS kl_nats
    FROM terms GROUP BY source
    """,
)
def q94_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the corpus
    distribution — the domain-shift panel of a data-mixing dashboard
    (which feeds deviate, and how much). Log-ratios quantize to micro-nats
    per DISTINCT (source, token); both normalizers are exact integer sums;
    all joins are token-keyed with the global-frequency side
    AQE-broadcastable."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    f = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    st = f.groupBy("source").agg(F.sum("cnt").alias("ts"))
    g = f.groupBy("tok").agg(F.sum("cnt").alias("gcnt"))
    gt = g.agg(F.sum("gcnt").alias("tg"))
    terms = (
        f.join(st, "source")
        .join(g, "tok")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            "cnt",
            "ts",
            F.floor(
                F.log(
                    (F.col("cnt").cast("double") / F.col("ts"))
                    / (F.col("gcnt").cast("double") / F.col("tg"))
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return terms.groupBy("source").agg(
        (
            F.sum(F.col("cnt") * F.col("lr_micro")).cast("double")
            / F.max("ts")
            / F.lit(1_000_000.0)).alias("kl_nats")
    )


@query(
    "q95_source_dup_rate",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.2
    ),
    dup_docs AS (
      SELECT DISTINCT doc FROM (
        SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs
      )
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dd.doc) AS BIGINT) AS n_near_dup,
           (CAST(count(dd.doc) AS DOUBLE) / count(*)) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON dd.doc = d.doc_id
    GROUP BY 1
    """,
)
def q95_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate rate per source: fraction of each feed's documents
    that participate in any Jaccard≥0.2 near-dup pair — the per-feed
    quality number a curation dashboard leads with. Pairs come from the
    auto-planned lossless join; the doc set flows back through one
    membership left-join."""
    from zenodb_spark.operators.dedup import ngram_jaccard_pairs_auto

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_auto(docs, "text", "doc_id", n=3, threshold=0.2)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        docs.join(dup_docs, docs.doc_id == dup_docs.doc, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("__dup").cast("long").alias("n_near_dup"),
            (
                F.count("__dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


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
    "q97_top_token_per_source",
    f"""
    WITH f AS (
      SELECT source, tok, count(*) AS cnt FROM (
        SELECT source, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
        FROM documents
      ) WHERE len(tok) > 0 GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY cnt DESC, tok) AS rn
      FROM f
    )
    SELECT source, tok AS top_token, CAST(cnt AS BIGINT) AS cnt
    FROM r WHERE rn = 1
    """,
)
def q97_top_token_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent token per source (deterministic tie-break on the
    token string — bare max_by/arg_max has no tie rule in either engine,
    so the argmax is a per-source WindowGroupLimit-pruned window)."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(
            "source", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("tok").alias("top_token"), F.col("cnt").cast("long").alias("cnt"))
    )


@query(
    "q98_value_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(med.m AS DOUBLE) AS median_value,
           CAST(quantile_cont(abs(e.value - med.m), 0.5) AS DOUBLE) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY 1, 2
    """,
)
def q98_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of event values per type — the robust
    spread statistic outlier-heavy metrics need. Two exact interpolated
    percentile passes; the per-type medians join back broadcast, and both
    aggregations share the event_type partitioning."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.col("m").alias("median_value"))
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad")
        )
    )


@query(
    "q99_fulfillment_latency",
    """
    WITH span AS (
      SELECT o.o_orderkey,
             CAST(date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS BIGINT)
               AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    )
    SELECT days, CAST(count(*) AS BIGINT) AS n_orders
    FROM span GROUP BY 1
    """,
)
def q99_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfillment latency distribution: days from order date to the
    LAST line shipment, counted per day bucket. One orderkey shuffle join
    + per-order max + a tiny distribution aggregate — exact integer day
    arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    span = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(F.col("last_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("days")
        )
    )
    return span.groupBy("days").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))


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
    "q101_ab_lift",
    """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % 2 AS variant
      FROM events
    ), conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), cells AS (
      SELECT a.variant,
             count(*) AS n_users,
             count(c.user_id) AS n_converted
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY 1
    )
    SELECT variant,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_converted AS BIGINT) AS n_converted,
           (n_converted / CAST(n_users AS DOUBLE)) AS conv_rate
    FROM cells
    """,
)
def q101_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: md5-hash split of users into two variants
    (engine-reproducible, unlike rand()), per-variant conversion to
    'purchase'. Both the assignment dedup and the converter dedup are
    map-side-combined user aggregates; the left join is user-keyed and
    collapses to two cells before any driver math. The z-test itself is a
    driver-side formula over these four exact integers — the distributed
    part ends at the 2-row contingency table."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    )
    assign = ev.select("user_id").distinct().select(
        "user_id", variant.alias("variant")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("converted").cast("long").alias("n_converted"),
        )
    )
    return cells.select(
        "variant",
        "n_users",
        "n_converted",
        (
            F.col("n_converted").cast("double") / F.col("n_users")).alias("conv_rate"),
    )


@query(
    "q102_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, sum({C.format(x='l_quantity')}) AS qty_c
      FROM lineitem GROUP BY 1
      HAVING sum({C.format(x='l_quantity')}) > 25000
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           {C.format(x='o_totalprice')} AS totalprice_c,
           big.qty_c/100.0 AS total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q102_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem per order,
    HAVING sum(qty) > 250, then join back to orders and customer.

    The quantity aggregate runs partial+final on the orderkey shuffle and
    the HAVING prunes it to a tiny survivor set BEFORE either join, so at
    scale both joins see only the filtered keys; orders joins on the same
    orderkey partitioning (exchange reuse) and AQE broadcast-converts the
    survivor side. Exact cents throughout."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > 25000)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            cents("o_totalprice").alias("totalprice_c"),
            (F.col("qty_c") / F.lit(100.0)).alias("total_qty"),
        )
    )


@query(
    "q103_trade_flows",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0
             AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    """,
)
def q103_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade-flow matrix (TPC-H Q7 shape on available columns):
    revenue between supplier nation and customer nation.

    Join strategy for 100 TB: only the O(25)-row nation relations carry
    broadcast hints; supplier and customer are SF-scaled, so their joins
    are left to AQE (broadcast while they fit, shuffle beyond). Orders x
    lineitem is the one unavoidable fact-fact shuffle on orderkey; the
    final 25x25 cell aggregate is map-side combined. Exact cents
    revenue."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    # supplier is SF-scaled: no forced broadcast (AQE decides); only the
    # O(25)-row nation relations carry hints
    lsupp = l.join(
        s.select("s_suppkey", "s_nationkey"),
        F.col("s_suppkey") == F.col("l_suppkey"),
    ).join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
    cust = o.join(
        c.select("c_custkey", "c_nationkey"),
        F.col("c_custkey") == F.col("o_custkey"),
    ).join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
    return (
        lsupp.join(cust, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / F.lit(100.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q104_sequence_packing",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split({NORM.format(x='text')}, ' '),
                             t -> len(t) > 0)) AS n_tok
      FROM documents
    ), ordered AS (
      SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM ordered GROUP BY 1, 2
    """,
)
def q104_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): per source, documents
    are concatenated in md5-of-id order and cut into 2048-token sequences;
    a doc belongs to the sequence where it starts. Deterministic (hash
    order, exact integer cumsum) and reproducible across engines/runs —
    the property a training pipeline needs to re-materialize the same
    batches. One per-source window; for a single source at 100 TB swap in
    operators/prefix.running_total (the distributed prefix scan) — same
    cumsum contract without a one-partition window."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(
            F.filter(
                F.split(normalize_text("text"), " "), lambda t: F.length(t) > 0
            )
        ).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = toks.withColumn("cum", F.sum("n_tok").over(w))
    return (
        ordered.select(
            "source",
            F.expr("(cum - n_tok) div 2048").cast("long").alias("seq_id"),
            "n_tok",
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


@query(
    "q105_embedding_dim_stats",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT CAST(i AS BIGINT) AS dim_idx,
             CAST(floor(v[i + 1] * 1000000 + 0.5) AS BIGINT) AS q
      FROM e, unnest(range(0, len(v))) AS u(i)
    )
    SELECT dim_idx, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS DOUBLE) / count(*) / 1000000 AS mean,
           sqrt((CAST(sum(q*q) AS DOUBLE)
                 - CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE)
                   / count(*)) / count(*)) / 1000000 AS std
    FROM d GROUP BY 1
    """,
)
def q105_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std over the embedding corpus — the whitening /
    normalization statistics an embedding pipeline computes before PQ or
    cosine work. posexplode → one 64-group aggregate, map-side combined;
    values are micro-quantized BEFORE summing so Σq and Σq² are exact
    integers (sums stay < 2⁵³ through ~10⁹ vectors; beyond that shard the
    aggregate), and the trailing mean/std formulas are fixed IEEE
    sequences identical in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim_idx", "val")).select(
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.floor(F.col("val").cast("double") * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    n = F.count(F.lit(1))
    sq = F.sum("q").cast("double")
    sq2 = F.sum(F.col("q") * F.col("q")).cast("double")
    # NO engine-side (…): both engines produce the identical raw
    # double (exact integer sums, fixed IEEE sequence), but their decimal
    # ROUNDING of that double can disagree by 1 ulp exactly at half-way
    # points (observed at sf0.1); the driver's canonicalizer rounds in
    # Python on both sides, which is the one place it is consistent.
    return d.groupBy("dim_idx").agg(
        n.cast("long").alias("n"),
        (sq / n.cast("double") / F.lit(1e6)).alias("mean"),
        (
            F.sqrt((sq2 - sq * sq / n.cast("double")) / n.cast("double"))
            / F.lit(1e6)
        ).alias("std"),
    )


@query(
    "q106_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ), dt AS (
      SELECT doc_id, lang, tok, count(*) AS occ FROM toks WHERE len(tok) > 0
      GROUP BY 1, 2, 3
    ), raw AS (
      SELECT tok, sum(occ) AS cr FROM dt GROUP BY 1
    ), tgt AS (
      SELECT tok, sum(occ) AS ct FROM dt WHERE lang = 'en' GROUP BY 1
    ), tot AS (
      SELECT (SELECT sum(cr) FROM raw) AS nr,
             (SELECT count(*) FROM raw) AS v,
             (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt
    ), wt AS (
      SELECT r.tok,
             CAST(floor((ln((coalesce(t.ct, 0) + 1.0) / (tot.nt + tot.v))
                         - ln((r.cr + 1.0) / (tot.nr + tot.v))) * 1000000 + 0.5)
                  AS BIGINT) AS w_micro
      FROM raw r LEFT JOIN tgt t ON r.tok = t.tok, tot
    ), scored AS (
      SELECT dt.doc_id, sum(dt.occ) AS n_tokens,
             sum(dt.occ * wt.w_micro) AS s_micro
      FROM dt JOIN wt ON dt.tok = wt.tok GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           (CAST(s_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000)
             AS importance
    FROM scored
    ORDER BY s_micro * 1000000 / n_tokens DESC, doc_id LIMIT 50
    """,
)
def q106_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: per-doc mean log-ratio of a target
    unigram LM (lang='en' slice) over the raw-corpus LM, add-1 smoothed
    over the shared vocabulary — the importance-resampling score used to
    select pretraining data toward a target distribution.

    Each distinct token's log-ratio is quantized to integer micro-nats
    before any summation (per-doc totals are exact integer sums, so the
    top-50 ranking orders on exact integers with a doc tie-break — never
    on recomputed floats). Two vocabulary aggregates + one join of
    doc-token rows against the weight table; AQE broadcasts the weight
    table while the vocabulary fits."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(normalize_text("text"), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    # dt feeds five differently-pruned consumers (raw LM, target LM, the
    # two totals, scoring); checkpoint so the corpus is scanned + exploded
    # once, not five times (round-6 measured plan; size-gated round 7)
    dt = share(
        toks.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("occ"))
    )
    raw = dt.groupBy("tok").agg(F.sum("occ").alias("cr"))
    tgt = dt.filter(F.col("lang") == "en").groupBy("tok").agg(
        F.sum("occ").alias("ct")
    )
    tot = raw.agg(
        F.sum("cr").alias("nr"), F.count(F.lit(1)).alias("v")
    ).crossJoin(
        dt.filter(F.col("lang") == "en").agg(
            F.coalesce(F.sum("occ"), F.lit(0)).alias("nt")
        )
    )
    wt = (
        raw.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("nt") + F.col("v"))
                    )
                    - F.log((F.col("cr") + F.lit(1.0)) / (F.col("nr") + F.col("v")))
                )
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w_micro"),
        )
    )
    scored = (
        dt.join(wt, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_tokens"),
            F.sum(F.col("occ") * F.col("w_micro")).alias("s_micro"),
        )
    )
    return (
        scored.orderBy(
            F.desc(F.col("s_micro") * F.lit(1_000_000) / F.col("n_tokens")),
            F.asc("doc_id"),
        )
        .limit(50)
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("s_micro").cast("double")
                / F.col("n_tokens").cast("double")
                / F.lit(1e6)).alias("importance"),
        )
    )


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 8, seed: int = 101) -> str:
    from zenodb_spark.operators.similarity import pq_codebooks

    cbs = pq_codebooks(dim, m, k, seed)
    sub = dim // m
    parts = []
    for j, cb in enumerate(cbs):
        lo, hi = j * sub + 1, (j + 1) * sub
        sl = f"v[{lo}:{hi}]"
        terms = []
        for c in cb:
            lit = "[" + ", ".join(repr(x) for x in c) + "]"
            cc = repr(sum((x * x for x in c), 0.0))
            terms.append(
                f"(list_dot_product({sl}, {sl})"
                f" - 2.0 * list_dot_product({sl}, {lit}) + {cc})"
            )
        darr = "[" + ", ".join(terms) + "]"
        parts.append(
            f"SELECT vec_id, {j + 1} AS subspace,"
            f" CAST(list_position({darr}, list_min({darr})) AS INTEGER) AS code,"
            f" CAST(floor(list_min({darr}) * 1000000 + 0.5) AS BIGINT) AS err_micro"
            f" FROM e"
        )
    union = " UNION ALL ".join(parts)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS ({union})
    SELECT subspace, code, CAST(count(*) AS BIGINT) AS n_vecs,
           (CAST(sum(err_micro) AS DOUBLE) / count(*) / 1000000)
             AS avg_err
    FROM codes GROUP BY 1, 2
    """


@query("q107_pq_codes", _pq_oracle())
def q107_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code statistics: encode every embedding as m=4
    one-byte codes (operators/similarity.pq_assign) and report per
    (subspace, codeword) occupancy + mean quantization error — the code
    balance / distortion panel that validates an IVF-PQ index build. One
    narrow no-shuffle projection then a 32-cell aggregate; errors are
    micro-quantized before summing (exact integer sums, one trailing
    division)."""
    from zenodb_spark.operators.similarity import pq_assign, pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_assign(emb, pq_codebooks(64, 4, 8, 101))
    n = F.count(F.lit(1))
    return codes.groupBy("subspace", "code").agg(
        n.cast("long").alias("n_vecs"),
        (
            F.sum("err_micro").cast("double") / n.cast("double") / F.lit(1e6)).alias("avg_err"),
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
    import tempfile

    from zenodb_spark.streaming.stateful import stream_dedup_first

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


def _ann_recall_oracle() -> str:
    brute = ORACLE["q27_ann_cosine"]
    lsh = _ann_lsh_oracle()
    return f"""
    SELECT b.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_matched,
           CAST(5 AS BIGINT) AS k,
           (count(l.neighbor_id) / 5.0) AS recall
    FROM ({brute}) b
    LEFT JOIN ({lsh}) l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY 1
    """


@query("q109_ann_recall", _ann_recall_oracle())
def q109_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@5 of the LSH-bucketed search (q33)
    against the exact brute-force top-5 (q27), per query vector — the
    metric that decides whether an approximate index is shippable. Both
    sides reuse the library operators unchanged; the join is on the tiny
    top-k outputs (k rows per query), so the harness adds no scan cost
    beyond the two searches themselves."""
    emb = load_table(spark, sf_dir, "embeddings")
    qside = emb.filter(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(emb, qside, "vec_id", "embedding", k=5, dim=64)
    lsh = similarity.lsh_cosine_topk(
        emb, qside, "vec_id", "embedding", k=5, bits=8, dim=64, seed=42
    )
    b = brute.select("query_id", "neighbor_id")
    l = lsh.select("query_id", F.col("neighbor_id").alias("l_neighbor"))
    joined = b.join(
        l,
        (b.query_id == l.query_id) & (b.neighbor_id == l.l_neighbor),
        "left",
    ).select(b.query_id.alias("qid"), "l_neighbor")
    return joined.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("l_neighbor").cast("long").alias("n_matched"),
        F.lit(5).cast("long").alias("k"),
        (F.count("l_neighbor") / F.lit(5.0)).alias("recall"),
    )


@query(
    "q110_clean_pipeline",
    f"""
    WITH feat AS (
      SELECT doc_id, source, lang,
             len(list_filter(string_split({NORM.format(x='text')}, ' '),
                             t -> len(t) > 0)) AS n_words,
             md5({NORM.format(x='text')}) AS fp
      FROM documents
    ), staged AS (
      SELECT *,
             (lang <> 'en') AS rej_lang,
             (lang = 'en' AND n_words < 20) AS rej_quality
      FROM feat
    ), surv AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM staged WHERE NOT rej_lang AND NOT rej_quality
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN s.rej_lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_reject,
           CAST(sum(CASE WHEN s.rej_quality THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_reject,
           CAST(coalesce(sum(CASE WHEN v.rn > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_dup_reject,
           CAST(coalesce(sum(CASE WHEN v.rn = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_kept
    FROM staged s LEFT JOIN surv v ON s.doc_id = v.doc_id
    GROUP BY 1
    """,
)
def q110_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4-style cleanup pipeline with per-stage rejection
    accounting: language filter → min-length quality filter → corpus-wide
    exact dedup (keep lowest doc_id), reported per source as a
    conservation-checked funnel (total = lang + quality + dup + kept).

    This is the composition a real curation run executes; every stage is
    an operator the suite already verifies in isolation. Scale shape: one
    narrow feature projection, the dedup window shuffles only the
    lang+quality survivors on fingerprint, and the report joins back on
    doc_id — all linear, no driver collect."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(
            F.filter(F.split(normalize_text("text"), " "), lambda t: F.length(t) > 0)
        ).alias("n_words"),
        F.md5(normalize_text("text")).alias("fp"),
    )
    staged = feat.select(
        "*",
        (F.col("lang") != "en").alias("rej_lang"),
        ((F.col("lang") == "en") & (F.col("n_words") < 20)).alias("rej_quality"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        staged.filter(~F.col("rej_lang") & ~F.col("rej_quality"))
        .withColumn("rn", F.row_number().over(w))
        .select(F.col("doc_id").alias("v_doc"), "rn")
    )
    joined = staged.join(surv, staged.doc_id == surv.v_doc, "left")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        flag(F.col("rej_lang")).alias("n_lang_reject"),
        flag(F.col("rej_quality")).alias("n_quality_reject"),
        flag(F.col("rn") > 1).alias("n_dup_reject"),
        flag(F.col("rn") == 1).alias("n_kept"),
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
    "q112_dup_span_coverage",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks
      FROM documents
    ), wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS s,
             md5(array_to_string(toks[i + 1:i + 10], ' ')) AS h
      FROM t, unnest(range(0, len(toks) - 9)) AS u(i)
      WHERE len(toks) >= 10
    ), dup AS (
      SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
    ), marks AS (
      SELECT w.doc_id, w.s,
             max(w.s + 9) OVER (
               PARTITION BY w.doc_id ORDER BY w.s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM wins w JOIN dup USING (h)
    ), cov AS (
      SELECT doc_id,
             sum(greatest(0, (s + 9) - greatest(coalesce(prev_end, -1), s - 1)))
               AS covered
      FROM marks GROUP BY 1
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
           (CAST(coalesce(c.covered, 0) AS DOUBLE) / len(t.toks))
             AS dup_frac
    FROM t LEFT JOIN cov c USING (doc_id)
    WHERE len(t.toks) > 0
    """,
)
def q112_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate-span coverage (the Lee et al. 2021
    "Deduplicating Training Data" signal, window-approximated): every
    overlapping 10-token window is hashed; windows occurring >= 2 times
    corpus-wide mark their spans, and each document reports the fraction
    of its tokens covered by the UNION of its duplicated spans (interval
    union via the running-max-end island trick — exact integer overlap
    math, no per-token explosion of the union step).

    Differs from q49 (distinct-shingle document frequency) by measuring
    positional coverage of repeats — the quantity an exact-substring
    dedup pass would actually remove. Scale: stride-1 windows cost one
    row per token (linear); the dup-hash aggregate is map-side combined;
    span marks rejoin on window hash and the union window shares the
    doc-keyed exchange. A suffix-array formulation finds arbitrary-length
    repeats; the fixed-W window is its bounded, shuffle-friendly
    approximation (spans >= W are caught exactly)."""
    from zenodb_spark.operators.dedup import normalize_text

    W = 10
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.filter(
            F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    wins = (
        t.filter(F.size("toks") >= W)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("toks") - W)).alias("s"),
            "toks",
        )
        .select(
            "doc_id",
            F.col("s").cast("long").alias("s"),
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("s") + 1, W))).alias("h"),
        )
    )
    dup = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marks = wins.join(dup.select("h"), "h").withColumn(
        "prev_end", F.max(F.col("s") + (W - 1)).over(w)
    )
    cov = marks.groupBy("doc_id").agg(
        F.sum(
            F.greatest(
                F.lit(0),
                (F.col("s") + (W - 1))
                - F.greatest(F.coalesce(F.col("prev_end"), F.lit(-1)), F.col("s") - 1),
            )
        ).alias("covered")
    )
    return (
        t.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("covered"),
            (
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_tokens")).alias("dup_frac"),
        )
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
    import tempfile

    from zenodb_spark.streaming.stateful import stream_key_counts

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


# ---------------------------------------------------------------------------
# Round-5: remaining classic TPC-H decision-support shapes (adapted to the
# testdata columns) — correlated subqueries decorrelated into joins, scalar
# subqueries as 1-row broadcasts, NOT IN as anti-joins. These are the join/
# subquery patterns the reference cannot express (single-table dialect,
# SURVEY §2.4) but a migrating analytics user runs daily.
# ---------------------------------------------------------------------------


@query(
    "q114_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def q114_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): how many customers
    placed k non-urgent orders each, including the zero-order tail that
    only a LEFT OUTER join can see.

    Scale: the non-equi condition rides the equi-join as a pushed filter
    on the orders scan (priority predicate reaches parquet); both inputs
    shuffle once on custkey, the count-per-customer aggregate reuses that
    exchange, and the final count-of-counts is a tiny second aggregate
    (≤ max-orders-per-customer rows). No window, no broadcast of an
    SF-scaled side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q115_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, rev.rev_c / 100.0 AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.rev_c = (SELECT max(rev_c) FROM rev)
    """,
)
def q115_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose Q1-1997
    revenue equals the maximum — a scalar subquery kept as a 1-row
    broadcast so ties survive (the reference point of Q15 vs a LIMIT 1).

    Scale: the shipdate range prunes the lineitem scan via row-group
    stats; revenue is one partial+final aggregate on suppkey; max(rev) is
    a 1-row global aggregate cross-joined (broadcast) back — no second
    pass over lineitem and no global sort. Exact integer cents make
    "equals the max" well-defined (float revenue would make ties
    platform-dependent)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_c"
            )
        )
    )
    mx = rev.agg(F.max("rev_c").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("rev_c") == F.col("max_rev"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c") / F.lit(100.0)).alias("total_revenue"),
        )
    )


@query(
    "q116_parts_supplier_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#12'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q116_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per (brand, type, size), excluding blacklisted suppliers via
    NOT IN (subquery) — lowered to a LEFT ANTI join, the scale-safe form
    (no driver-side value list; reference planner/subquery.go splices
    values instead, fine at its scale, driver-OOM at 100 TB).

    Scale: brand/size predicates prune the part scan; part joins AQE-
    style (broadcast while it fits); the anti-join's right side (negative-
    balance suppliers) is a small filtered fraction so AQE broadcasts it;
    COUNT(DISTINCT suppkey) expands then two-phase aggregates — exact, as
    the fixed set sizes here are small per group."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q117_small_quantity_revenue",
    f"""
    WITH pq AS (
      SELECT l_partkey,
             sum({C.format(x='l_quantity')}) AS sum_qty_c,
             count(*) AS cnt
      FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand,
           sum({C.format(x='l.l_extendedprice')}) / 700.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN pq ON pq.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE 5 * {C.format(x='l.l_quantity')} * pq.cnt < pq.sum_qty_c
    GROUP BY 1
    """,
)
def q117_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    quantity is below 20% of their part's average quantity — the classic
    correlated aggregate, decorrelated into a per-part aggregate joined
    back to the fact (one partkey shuffle shared by both sides, exchange
    reuse) instead of a per-row subquery.

    The threshold compare is exact integer algebra: qty < 0.2·avg ⇔
    5·qty_c·cnt < Σqty_c — no float division, so Spark and the oracle
    agree bit-for-bit. Part join carries no hint (SF-scaled; AQE
    decides). (Round 6 tried q121's single-exchange repartition pattern
    here and it measured SLOWER: the per-part aggregate is part-grain —
    broadcastable — so the decorrelated join never shuffles the fact
    side at all, and forcing a partkey repartition added the one shuffle
    the broadcast join avoids. Kept the two-scan broadcast shape.)"""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pq = l.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        l.join(pq, F.col("pq_partkey") == F.col("l_partkey"))
        .filter(
            F.lit(5) * cents("l_quantity") * F.col("cnt") < F.col("sum_qty_c")
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(700.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q118_disjunctive_revenue",
    f"""
    SELECT sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) / 100.0
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q118_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs that references BOTH join sides, so no single conjunct can
    be pushed below the join automatically. We add the implied per-side
    envelopes explicitly — p_brand in (12,23,34) ∧ p_size ≤ 15 on part,
    l_quantity ∈ [1,30] on lineitem — which Catalyst pushes to both
    scans (parquet dictionary/stats pruning), shrinking the join inputs
    by orders of magnitude at 100 TB; the exact disjunction then filters
    the joined rows. This manual envelope-extraction is the documented
    pattern for OR-across-join predicates."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 15)
    )
    j = l.join(p, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        (
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            / F.lit(100.0)
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q119_rich_inactive_customers",
    f"""
    WITH pos AS (
      SELECT c_custkey, c_nationkey,
             {C.format(x='c_acctbal')} AS bal_c
      FROM customer WHERE c_acctbal > 0
    ),
    stats AS (SELECT sum(bal_c) AS s, count(*) AS n FROM pos)
    SELECT nn.n_name, CAST(count(*) AS BIGINT) AS numcust,
           sum(pos.bal_c) / 100.0 AS totacctbal
    FROM pos
    CROSS JOIN stats
    JOIN nation nn ON nn.n_nationkey = pos.c_nationkey
    WHERE pos.bal_c * stats.n > stats.s
      AND pos.c_custkey NOT IN
        (SELECT o_custkey FROM orders
         WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY 1
    """,
)
def q119_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers with an
    above-average positive balance with no RECENT order (none since
    2001-01-01 — the date window Q22 puts on the order history; every
    customer in this corpus has SOME order), rolled up per nation. Two classic subquery forms at once: a scalar aggregate
    (global avg) and NOT IN against a fact table.

    Scale: the scalar (Σbal, n) is a 1-row broadcast; "above average" is
    exact integer algebra (bal·n > Σ — no float divide); NOT IN lowers to
    a LEFT ANTI join that shuffles on custkey (orders is SF-scaled — a
    value-list splice would OOM the driver); the O(25) nation join is
    broadcast. One fact shuffle total."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", cents("c_acctbal").alias("bal_c")
    )
    stats = pos.agg(
        F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        pos.join(F.broadcast(stats))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / F.lit(100.0)).alias("totacctbal"),
        )
    )


@query(
    "q120_important_parts",
    f"""
    WITH val AS (
      SELECT l_partkey,
             sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS val_c
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(val_c) AS tot_c, count(*) AS n_parts FROM val)
    SELECT val.l_partkey AS partkey, val.val_c / 100.0 AS value
    FROM val, tot
    WHERE val.val_c * tot.n_parts * 10 > tot.tot_c * 15
    """,
)
def q120_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue share
    exceeds 1.5x the average part's share — HAVING against a scalar
    subquery over the same aggregate (Q11's fixed fraction made
    SF-relative so the survivor set is non-trivial at every scale).

    Scale: one partkey aggregate; the total re-aggregates THAT (not the
    base fact — no second lineitem pass); the threshold compare is exact
    integer (val·n·10 > tot·15) against a 1-row broadcast. The reference
    has no cross-row HAVING like this (single-table HAVING only,
    SURVEY §2.3)."""
    l = load_table(spark, sf_dir, "lineitem")
    val = l.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "val_c"
        )
    )
    tot = val.agg(
        F.sum("val_c").alias("tot_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("val_c") * F.col("n_parts") * 10 > F.col("tot_c") * 15)
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("val_c") / F.lit(100.0)).alias("value"),
        )
    )


@query(
    "q121_suppliers_at_fault",
    """
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret
      FROM per_supp GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_supp ps
    JOIN per_order po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.ret = 1 AND po.n_supp >= 2 AND po.n_ret = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 20
    """,
)
def q121_suppliers_at_fault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in multi-
    supplier orders where EXACTLY ONE supplier had returned lines, blame
    that supplier — the EXISTS ∧ NOT-EXISTS double correlation, lowered
    to two chained aggregates on the orderkey axis instead of two
    correlated probes per row.

    Scale (round-6 single-exchange rewrite, guide §2.4): ONE explicit
    orderkey repartition up front (no count argument, so the width follows
    spark.sql.shuffle.partitions / AQE, not a local constant); hash(ok)
    satisfies the clustered distribution of BOTH aggregation grains
    ((ok,sk) and (ok)) and of the fault self-join, so the per-supplier
    flags, the per-order roll-up and the join all run WITHOUT further
    exchanges — the measured before-plan paid three separate lineitem-
    derived exchanges for the same data. The final per-supplier count is
    a small aggregate and the top-20 is TakeOrderedAndProject (no global
    sort). Deterministic: tie-broken by suppkey."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # the explicit key null-filters (no-ops on TPC-H data: both keys are
    # spec-NOT-NULL, and the inner joins below drop null keys anyway) make
    # the two consumers of this exchange canonically IDENTICAL — without
    # them Spark infers isnotnull(l_suppkey) on only one branch and the
    # shuffle runs twice instead of being AQE-stage-reused
    lr = (
        l.filter(F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("retf"),
        )
        .repartition("l_orderkey")
    )
    per_supp = lr.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("retf").alias("ret")
    )
    per_order = per_supp.groupBy(F.col("l_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("ret").alias("n_ret")
    )
    faults = (
        per_supp.filter(F.col("ret") == 1)
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_ret") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        faults.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
        .limit(20)
    )


@query(
    "q122_order_value_deciles",
    f"""
    WITH r AS (
      SELECT {C.format(x='o_totalprice')} AS tp_c,
             row_number() OVER (
               ORDER BY {C.format(x='o_totalprice')}, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(tp_c) / 100.0 AS lo,
           max(tp_c) / 100.0 AS hi,
           sum(tp_c) / 100.0 AS total
    FROM r GROUP BY 1
    """,
)
def q122_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth deciles of order value (exact, distributed): every
    order ranked by (value, orderkey), decile = floor((rank−1)·10 / n).

    The naive form — NTILE/row_number over an unpartitioned window — is a
    single-task global sort at 100 TB. Here the rank comes from the
    two-phase distributed prefix scan (operators/prefix.running_total:
    range exchange → parallel local windows → per-partition offsets), so
    no stage sees more than one partition's rows; n is a 1-row broadcast.
    Exact integer rank math reproduces the oracle's row_number formula
    bit-for-bit (ties broken by orderkey)."""
    from zenodb_spark.operators.prefix import running_total

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("tp_c"), F.lit(1).alias("one")
    )
    ranked = running_total(o, ["tp_c", "o_orderkey"], "one", out_col="rn")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(n))
        .withColumn(
            "decile", F.expr("((rn - 1) * 10) div n")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("tp_c") / F.lit(100.0)).alias("lo"),
            (F.max("tp_c") / F.lit(100.0)).alias("hi"),
            (F.sum("tp_c") / F.lit(100.0)).alias("total"),
        )
    )


@query(
    "q123_acctbal_gini",
    f"""
    WITH pos AS (
      SELECT c_nationkey, c_custkey, {C.format(x='c_acctbal')} AS bal_c
      FROM customer WHERE c_acctbal > 0
    ),
    ranked AS (
      SELECT c_nationkey, bal_c,
             row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY bal_c, c_custkey) AS i
      FROM pos
    )
    SELECT nn.n_name, CAST(count(*) AS BIGINT) AS n_cust,
           (CAST(2 * sum(i * bal_c) - (count(*) + 1) * sum(bal_c)
                      AS DOUBLE)
                 / CAST(count(*) * sum(bal_c) AS DOUBLE)) AS gini
    FROM ranked JOIN nation nn ON nn.n_nationkey = ranked.c_nationkey
    GROUP BY 1
    """,
)
def q123_acctbal_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of (positive) customer account
    balances — inequality panel via the exact rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over balances sorted ascending.

    Scale: the rank window is PARTITIONED by nation (parallel across
    nations; within one nation the frame is the per-nation customer
    count — for truly skewed single-key frames the prefix-scan form of
    q122 is the swap). All sums are exact integers until the final
    division; ties in bal_c contribute the same Σi·x under any tie
    order, so the result is deterministic without a tie-break column
    (one is used anyway). O(25) nation join broadcast."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_nationkey", "c_custkey", cents("c_acctbal").alias("bal_c")
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal_c", "c_custkey")
    ranked = pos.withColumn("i", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (
                (
                    2 * F.sum(F.col("i") * F.col("bal_c"))
                    - (F.count(F.lit(1)) + 1) * F.sum("bal_c")
                ).cast("double")
                / (F.count(F.lit(1)) * F.sum("bal_c")).cast("double")).alias("gini"),
        )
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
    from zenodb_spark.operators.skew import salted_join

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
    from zenodb_spark.operators.skew import distinct_count_skew

    ev = load_table(spark, sf_dir, "events")
    return distinct_count_skew(ev, ["event_type"], "user_id", out_col="n_users")


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
    import tempfile

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
    "q127_bucketed_join",
    f"""
    SELECT o.o_orderstatus,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) / 100.0
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q127_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED storage (sources/bucketed): orders
    and lineitem are materialized once, bucketed+sorted by orderkey with
    the same bucket count, and the revenue join then runs with NO
    shuffle exchange on either side — the optimizer proves co-location
    from the bucket spec (pinned by a plan test).

    This is the write-once/join-forever pattern for the 100 TB fact
    tables: the one shuffle happens at landing time; every subsequent
    orderkey join or aggregate reads co-located buckets. The final
    3-row status rollup still exchanges — that aggregate is on a
    different key and is tiny. Values are identical to the plain join
    (the oracle), since bucketing changes layout, not content."""
    from zenodb_spark.sources.bucketed import read_bucketed, write_bucketed

    # md5, not hash(): Python string hashing is PYTHONHASHSEED-randomized
    # per process, so hash()-derived table names were nondeterministic —
    # each run minted a new managed location and occasionally COLLIDED
    # with a stale one from an earlier process (LOCATION_ALREADY_EXISTS).
    import hashlib
    import os as _os

    # Bucket count sized from landing volume (~32 MB of source parquet per
    # bucket, power of two, min 8): a FIXED count serializes the one-time
    # sorted write AND caps the zero-exchange join's parallelism at scale
    # (measured 33.7x per 10x data at sf10 with 8 buckets — each bucket is
    # one task). Both tables take the SAME count — co-location requires it.
    try:
        mb = _os.path.getsize(_os.path.join(sf_dir, "lineitem.parquet")) >> 20
    except OSError:
        mb = 0
    nb = 8
    while nb < 256 and nb * 32 < mb:
        nb *= 2

    # nb rides in the table name (ADVICE r5): if a table created under an
    # earlier sizing rule survives in the session while its partner is
    # recreated with a new nb, mismatched bucket counts would silently
    # defeat the zero-exchange co-located join this query demonstrates
    tag = int(hashlib.md5(sf_dir.encode()).hexdigest()[:8], 16) % 10_000
    ot, lt = f"q127_orders_b{tag}_{nb}", f"q127_lineitem_b{tag}_{nb}"
    if not spark.catalog.tableExists(ot):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus"
            ),
            ot,
            ["o_orderkey"],
            nb,
            sort_cols=["o_orderkey"],
        )
    if not spark.catalog.tableExists(lt):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lt,
            ["l_orderkey"],
            nb,
            sort_cols=["l_orderkey"],
        )
    o = read_bucketed(spark, ot)
    l = read_bucketed(spark, lt)
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / F.lit(100.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


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
    "q130_winsorized_mean",
    f"""
    WITH v AS (
      SELECT event_type, {C.format(x='value')} AS val_c FROM events
    ),
    p AS (
      SELECT event_type,
             quantile_cont(val_c, 0.05) AS p05,
             quantile_cont(val_c, 0.95) AS p95
      FROM v GROUP BY 1
    )
    SELECT v.event_type,
           (CAST(sum(CAST(floor(
               least(greatest(CAST(v.val_c AS DOUBLE), p.p05), p.p95) * 10000
               + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0)
             AS winsorized_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM v JOIN p ON p.event_type = v.event_type
    GROUP BY 1
    """,
)
def q130_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of `value` per event type: clamp to the exact
    [P05, P95] interpolated percentiles, then average — the robust
    location estimate that, unlike trimming, keeps n constant.
    Complements the MAD spread panel (q98).

    Determinism: the clamped value is re-quantized to integer
    micro-cents BEFORE summation (floor(clamped·1e4 + 0.5)) — clamping
    yields doubles (interpolated bounds), and a float SUM would be
    partition-order-dependent; the integer sum is exact and
    order-free. Percentiles are exact-interpolated (quantile_cont
    parity), computed per type and joined back via the tiny 5-row
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", cents("value").alias("val_c"))
    p = v.groupBy("event_type").agg(
        percentile_exact("val_c", 0.05).alias("p05"),
        percentile_exact("val_c", 0.95).alias("p95"),
    )
    clamped = v.join(F.broadcast(p), "event_type").select(
        "event_type",
        F.floor(
            F.least(
                F.greatest(F.col("val_c").cast("double"), F.col("p05")),
                F.col("p95"),
            )
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w_uc"),
    )
    return clamped.groupBy("event_type").agg(
        (
            F.sum("w_uc").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)).alias("winsorized_mean"),
        F.count(F.lit(1)).alias("n"),
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
    import tempfile

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
    "q132_cube_rollup",
    f"""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(GROUPING(c.c_mktsegment) * 2 + GROUPING(o.o_orderpriority)
                AS BIGINT) AS gid,
           sum({C.format(x='o.o_totalprice')}) / 100.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
    """,
)
def q132_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (market segment, order priority): every subtotal
    plane plus the grand total in ONE pass, labeled by grouping_id —
    the dashboard-panel completion of q39's linear ROLLUP.

    Spark expands the cube with a single Expand node feeding one
    partial+final hash aggregate (4 planes × input rows map-side, but
    combined before the shuffle), not four separate scans; gid bit
    order (leftmost column = MSB) matches GROUPING(a)·2 + GROUPING(b).
    The customer join is left to AQE (SF-scaled dim)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, F.col("c_custkey") == F.col("o_custkey"))
    return (
        j.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("c_mktsegment", "o_orderpriority", "gid", "revenue", "n_orders")
    )


def _adc_oracle(dim: int = 64, m: int = 4, k: int = 8, seed: int = 101) -> str:
    from zenodb_spark.operators.similarity import pq_codebooks

    cbs = pq_codebooks(dim, m, k, seed)
    sub = dim // m
    # codes CTE: same per-subspace argmin replay as _pq_oracle
    code_parts = []
    lut_parts = []
    for j, cb in enumerate(cbs):
        lo, hi = j * sub + 1, (j + 1) * sub
        sl = f"v[{lo}:{hi}]"
        terms = []
        for ci, c in enumerate(cb):
            lit = "[" + ", ".join(repr(x) for x in c) + "]"
            cc = repr(sum((x * x for x in c), 0.0))
            term = (
                f"(list_dot_product({sl}, {sl})"
                f" - 2.0 * list_dot_product({sl}, {lit}) + {cc})"
            )
            terms.append(term)
            lut_parts.append(
                f"SELECT vec_id AS query_id, {j + 1} AS subspace,"
                f" {ci + 1} AS code,"
                f" CAST(floor({term} * 1000000 + 0.5) AS BIGINT) AS d_micro"
                f" FROM q"
            )
        darr = "[" + ", ".join(terms) + "]"
        code_parts.append(
            f"SELECT vec_id, {j + 1} AS subspace,"
            f" CAST(list_position({darr}, list_min({darr})) AS INTEGER) AS code"
            f" FROM e"
        )
    codes_union = " UNION ALL ".join(code_parts)
    lut_union = " UNION ALL ".join(lut_parts)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id <= 3),
    codes AS ({codes_union}),
    lut AS ({lut_union}),
    adc AS (
      SELECT l.query_id, c.vec_id, sum(l.d_micro) AS adc_micro
      FROM codes c JOIN lut l
        ON l.subspace = c.subspace AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, adc_micro,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_micro, vec_id) AS rnk
      FROM adc
    )
    SELECT query_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rnk,
           (adc_micro / 1000000.0) AS adc_dist
    FROM ranked WHERE rnk <= 5
    """


@query("q133_pq_adc_search", _adc_oracle())
def q133_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k search (asymmetric distance computation): rank the
    corpus against each query by the sum of per-subspace lookup-table
    distances to the documents' PQ codes — the memory-bound scan that
    makes billion-vector ANN affordable (codes are m bytes, the float
    vectors never leave storage after encoding).

    Plan: codes come from pq_assign (narrow, no shuffle); the per-query
    LUT (pq_lut, m·k·|queries| rows, O(model)) broadcast-joins onto the
    code stream; per-(query, doc) ADC distances are exact integer sums
    of micro-quantized LUT entries (order-free), and the top-5 window
    runs per query. Production composes this with the IVF probe (q43)
    to rank only a few lists instead of the whole corpus — this query
    is the exhaustive-ADC building block, oracle-replayed in DuckDB
    bit-for-bit."""
    from zenodb_spark.operators.similarity import pq_assign, pq_codebooks, pq_lut

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(64, 4, 8, 101)
    codes = pq_assign(emb, cbs).drop("err_micro")
    lut = pq_lut(emb.filter(F.col("vec_id") <= 3), cbs)
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("long").alias("rnk"),
            (F.col("adc_micro") / F.lit(1000000.0)).alias("adc_dist"),
        )
    )


@query(
    "q134_incremental_dedup",
    f"""
    WITH fp AS (
      SELECT doc_id, source, md5({NORM.format(x='text')}) AS fp
      FROM documents
    ),
    old AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
    new AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
    marked AS (
      SELECT n.doc_id, n.source,
             CASE WHEN o.fp IS NOT NULL THEN 'vs_corpus'
                  WHEN row_number() OVER (
                    PARTITION BY n.fp ORDER BY n.doc_id) > 1 THEN 'in_batch'
                  ELSE 'kept' END AS status
      FROM new n LEFT JOIN old o ON o.fp = n.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (status = 'kept') AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (status = 'vs_corpus') AS BIGINT)
             AS n_dup_corpus,
           CAST(count(*) FILTER (status = 'in_batch') AS BIGINT)
             AS n_dup_batch
    FROM marked GROUP BY 1
    """,
)
def q134_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch (odd doc ids) checked
    against the EXISTING corpus's fingerprint set (even ids) — the
    steady-state shape of a production pipeline, where each day's crawl
    dedups against years of history without ever re-reading the old
    TEXT (only its fingerprints).

    Classification per new doc: duplicate-vs-corpus (fingerprint already
    known), duplicate-within-batch (a smaller-id twin in the same
    batch), else kept. One fp-keyed shuffle serves the corpus join AND
    the within-batch window (exchange reuse); at 100 TB the corpus side
    is a pre-materialized fingerprint table (bucketable by fp via
    sources/bucketed so the daily join is exchange-free on the corpus
    side)."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(normalize_text("text")).alias("fp")
    )
    old = docs.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    new = docs.filter(F.col("doc_id") % 2 == 1)
    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = (
        new.join(
            old.withColumn("known", F.lit(True)), "fp", "left"
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "status",
            F.when(F.col("known"), "vs_corpus")
            .when(F.col("rn") > 1, "in_batch")
            .otherwise("kept"),
        )
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count(F.when(F.col("status") == "kept", 1)).alias("n_kept"),
        F.count(F.when(F.col("status") == "vs_corpus", 1)).alias("n_dup_corpus"),
        F.count(F.when(F.col("status") == "in_batch", 1)).alias("n_dup_batch"),
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
    import tempfile

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
    import tempfile

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
    import tempfile

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


def _label_noise_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    from zenodb_spark.operators.similarity import ivf_centroids

    cents_l = ivf_centroids(dim, k, seed)
    terms = []
    for c in cents_l:
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(
            f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})"
        )
    darr = "[" + ", ".join(terms) + "]"
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, label, v,
             CAST(list_position({darr}, list_min({darr})) AS INTEGER)
               AS centroid,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM e
    ),
    pairs AS (
      SELECT a.vec_id, a.label AS own_label, b.label AS nb_label,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
                        b.vec_id) AS rnk
      FROM assigned a JOIN assigned b
        ON a.centroid = b.centroid AND a.vec_id <> b.vec_id
    ),
    votes AS (
      SELECT vec_id, own_label, nb_label, count(*) AS c
      FROM pairs WHERE rnk <= 3 GROUP BY 1, 2, 3
    ),
    majority AS (
      SELECT vec_id, own_label, nb_label AS maj_label,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, nb_label) AS r
      FROM votes
    )
    SELECT own_label AS label,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(*) FILTER (maj_label <> own_label) AS BIGINT)
             AS n_suspect
    FROM majority WHERE r = 1
    GROUP BY 1
    """


@query("q138_label_noise", _label_noise_oracle())
def q138_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by neighborhood consensus: a vector whose 3
    nearest same-cell neighbors (cosine) majority-vote a DIFFERENT label
    is a mislabeling suspect — the embedding-space data-quality audit
    (Confident-Learning-style signal) a curation pipeline runs before
    training a classifier.

    The quadratic neighbor search is confined to IVF cells exactly like
    SemDeDup (q51); within a cell the top-3 neighbors come from the
    dimension-sequential numpy block scorer (cell_topk_pairs — round 6:
    the previous centroid self-join evaluated an interpreted 64-term dot
    per pair, near-serial under AQE's small-shuffle coalescing; the
    scorer is bit-identical in FP order and in the (cosine desc, id asc)
    ranking, so the selected neighbors are unchanged). Majority
    tie-breaks on smaller label. At 100 TB, centroid count scales with
    the corpus to keep cells bounded."""
    from zenodb_spark.operators.similarity import (
        cell_topk_pairs,
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (
        ivf_assign(emb, ivf_centroids(64, 8, 43))
        .select("vec_id", "embedding", "centroid")
        .join(emb.select("vec_id", "label"), "vec_id")
    )
    top = cell_topk_pairs(
        assigned, "vec_id", "embedding", "centroid", k=3, carry=(("label", "int"),)
    )
    votes = top.groupBy(
        "a_id",
        F.col("a_label").alias("own_label"),
        F.col("b_label").alias("nb_label"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wm = Window.partitionBy("a_id").orderBy(F.col("c").desc(), F.col("nb_label"))
    majority = votes.withColumn("r", F.row_number().over(wm)).filter(
        F.col("r") == 1
    )
    return majority.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("nb_label") != F.col("own_label"), 1)).alias(
            "n_suspect"
        ),
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
    import tempfile

    from zenodb_spark.sources.layout import zorder_write

    # md5, not hash(): PYTHONHASHSEED randomizes hash() per process, so the
    # cache path changed every run (never reused) and could COLLIDE with a
    # different sf_dir's store from an earlier process — silently wrong data
    # behind the _SUCCESS gate.
    import hashlib

    tag = hashlib.md5(f"q139|{sf_dir}".encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/zspark_q139_store_{tag}"
    import os

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
    from zenodb_spark.operators.sketch import kmv_jaccard, kmv_sketch

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


def _cov_oracle(d: int = 8) -> str:
    terms = []
    for i in range(d):
        for j in range(i, d):
            terms.append(
                f"SELECT {i} AS i, {j} AS j,"
                f" sum(CAST(floor(v[{i + 1}] * v[{j + 1}] * 1000000 + 0.5)"
                f" AS BIGINT)) AS sxy_u,"
                f" sum(CAST(floor(v[{i + 1}] * 1000000 + 0.5) AS BIGINT))"
                f" AS sx_u,"
                f" sum(CAST(floor(v[{j + 1}] * 1000000 + 0.5) AS BIGINT))"
                f" AS sy_u"
                f" FROM e"
            )
    union = " UNION ALL ".join(terms)
    return f"""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT count(*) AS n FROM e),
    m AS ({union})
    SELECT m.i, m.j,
           ((CAST(m.sxy_u AS DOUBLE) / 1e6
                  - CAST(m.sx_u AS DOUBLE) * m.sy_u / 1e12 / n.n)
                 / n.n) AS cov
    FROM m, n
    """


@query("q141_embedding_covariance", _cov_oracle())
def q141_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance panel (first 8 dimensions): the upper
    triangle of the covariance matrix from exact integer sums —
    cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n with every per-row product
    micro-quantized BEFORE summation, so the aggregate is
    order-independent across any partitioning (a float covariance sum
    is not). The multivariate completion of q105's per-dimension
    stats — feeds whitening / PCA decisions for the ANN index.

    Plan: one narrow projection emits the 36 upper-triangle products
    per row; a single global aggregate (partial+final) reduces them;
    n is a 1-row broadcast. At the full 64 dims the same shape emits
    2080 columns — still one pass, no shuffle of vectors."""
    d = 8
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    cols = []
    for i in range(d):
        for j in range(i, d):
            xi, xj = v[i].cast("double"), v[j].cast("double")
            cols.append(
                F.struct(
                    F.lit(i).alias("i"),
                    F.lit(j).alias("j"),
                    F.floor(xi * xj * 1_000_000 + F.lit(0.5))
                    .cast("long")
                    .alias("xy_u"),
                    F.floor(xi * 1_000_000 + F.lit(0.5)).cast("long").alias("x_u"),
                    F.floor(xj * 1_000_000 + F.lit(0.5)).cast("long").alias("y_u"),
                )
            )
    exploded = emb.select(F.explode(F.array(*cols)).alias("t")).select(
        "t.i", "t.j", "t.xy_u", "t.x_u", "t.y_u"
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    return (
        exploded.groupBy("i", "j")
        .agg(
            F.sum("xy_u").alias("sxy_u"),
            F.sum("x_u").alias("sx_u"),
            F.sum("y_u").alias("sy_u"),
        )
        .join(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                (
                    F.col("sxy_u").cast("double") / F.lit(1e6)
                    - F.col("sx_u").cast("double")
                    * F.col("sy_u")
                    / F.lit(1e12)
                    / F.col("n")
                )
                / F.col("n")).alias("cov"),
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
    from zenodb_spark.operators.timeops import asof_join

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
    "q145_unpivot_measures",
    f"""
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(floor(val * 100 + 0.5) AS BIGINT)) AS sum_c
    FROM (
      UNPIVOT (SELECT l_returnflag, l_extendedprice, l_discount, l_tax
               FROM lineitem)
      ON l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE val
    )
    GROUP BY 1, 2
    """,
)
def q145_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): lineitem's three money columns melted into
    (measure, value) rows and aggregated per return flag — the inverse
    of crosstab/pivot, the reshape every metrics store needs when
    columns must become series. Native `DataFrame.unpivot` (Spark's
    Expand node: rows multiply by the measure count BEFORE the partial
    aggregate, so map-side combine holds and no shuffle carries wide
    rows). Values re-quantize to cents after the melt in both
    engines."""
    l = load_table(spark, sf_dir, "lineitem")
    melted = l.unpivot(
        ["l_returnflag"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("val")).alias("sum_c"),
    )


def _ivf_recall_oracle() -> str:
    brute = ORACLE["q27_ann_cosine"]
    ivf = _ivf_search_oracle()
    return f"""
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           CAST(5 AS BIGINT) AS k,
           (count(i.neighbor_id) / 5.0) AS recall
    FROM ({brute}) b
    LEFT JOIN ({ivf}) i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY 1
    """


@query("q146_ivf_recall", _ivf_recall_oracle())
def q146_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness, IVF edition: recall@5 of the nprobe=2
    inverted-file search (q43) against the exact brute-force top-5
    (q27) — the companion of q109 (LSH recall), so BOTH approximate
    index families carry a measured, oracle-replayed quality number.
    At 100 TB this is the dial: raise nprobe (or centroid count) until
    recall clears the product bar; the harness joins only the tiny
    top-k outputs."""
    from zenodb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qside = emb.filter(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(emb, qside, "vec_id", "embedding", k=5, dim=64)
    ivf = similarity.ivf_search(
        emb,
        qside,
        similarity.ivf_centroids(64, 8, 43),
        "vec_id",
        "embedding",
        k=5,
        nprobe=2,
    )
    b = brute.select("query_id", "neighbor_id")
    i = ivf.select("query_id", F.col("neighbor_id").alias("i_neighbor"))
    joined = b.join(
        i,
        (b.query_id == i.query_id) & (b.neighbor_id == i.i_neighbor),
        "left",
    ).select(b.query_id.alias("qid"), "i_neighbor")
    return joined.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("i_neighbor").cast("long").alias("n_matched"),
        F.lit(5).cast("long").alias("k"),
        (F.count("i_neighbor") / F.lit(5.0)).alias("recall"),
    )


@query(
    "q147_boilerplate_removal",
    f"""
    WITH d AS (
      SELECT doc_id, source, {NORM.format(x='text')} AS norm
      FROM documents
    ),
    lines AS (
      SELECT doc_id, source, ls.line, ls.pos
      FROM d, LATERAL (
        SELECT unnest(string_split(norm, '. ')) AS line,
               generate_subscripts(string_split(norm, '. '), 1) AS pos
      ) ls
      WHERE length(ls.line) > 0
    ),
    docs_per_source AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1
    ),
    freq AS (
      SELECT source, line, count(DISTINCT doc_id) AS df
      FROM lines GROUP BY 1, 2
    ),
    boiler AS (
      SELECT f.source, f.line
      FROM freq f JOIN docs_per_source s USING (source)
      WHERE f.df * 5 > s.n_docs AND f.df >= 3
    )
    SELECT l.source,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (b.line IS NOT NULL) AS BIGINT)
             AS n_boiler_lines,
           CAST(count(DISTINCT CASE WHEN b.line IS NOT NULL
                                    THEN l.doc_id END) AS BIGINT)
             AS n_docs_affected,
           CAST(coalesce(sum(length(l.line))
                         FILTER (b.line IS NOT NULL), 0) AS BIGINT)
             AS chars_removed
    FROM lines l
    LEFT JOIN boiler b ON b.source = l.source AND b.line = l.line
    GROUP BY 1
    """,
)
def q147_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate line removal (C4/RefinedWeb-style): a sentence that
    appears in >20% of a source's documents (and ≥3 of them) is
    boilerplate — headers, footers, cookie banners — and is struck from
    EVERY document, unlike q60's keep-first paragraph dedup. The panel
    reports lines/boilerplate/affected-docs/chars-removed per source.

    Plan: one explode to (doc, line), a (source, line) doc-frequency
    aggregate, the boilerplate set joined back on the same (source,
    line) shuffle (exchange reuse). Line identity travels as the
    normalized sentence itself here; at 100 TB substitute md5(line) so
    the df shuffle carries 16-byte keys instead of text."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    lines = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split(normalize_text("text"), "\\. ")).alias(
                "pos", "line"
            ),
        )
        .filter(F.length("line") > 0)
    )
    dps = lines.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    freq = lines.groupBy("source", "line").agg(
        F.count_distinct("doc_id").alias("df")
    )
    boiler = (
        freq.join(dps, "source")
        .filter((F.col("df") * 5 > F.col("n_docs")) & (F.col("df") >= 3))
        .select("source", "line", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(boiler, ["source", "line"], "left")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_boiler_lines"),
        F.count_distinct(
            F.when(F.col("is_boiler"), F.col("doc_id"))
        ).alias("n_docs_affected"),
        F.coalesce(
            F.sum(F.when(F.col("is_boiler"), F.length("line"))), F.lit(0)
        )
        .cast("long")
        .alias("chars_removed"),
    )


@query(
    "q148_temperature_mixing",
    f"""
    WITH tok AS (
      SELECT source,
             CAST(sum(len(list_filter(
               string_split({NORM.format(x='text')}, ' '),
               t -> len(t) > 0))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM tok),
    w AS (
      SELECT source, n_tokens,
             CAST(floor(pow(CAST(n_tokens AS DOUBLE) / tot.t, 0.7)
                        * 1000000000 + 0.5) AS BIGINT) AS w_nano
      FROM tok, tot
    ),
    wt AS (SELECT sum(w_nano) AS s FROM w)
    SELECT w.source, w.n_tokens,
           (w.w_nano / CAST(wt.s AS DOUBLE)) AS mix_weight,
           CAST(floor(w.w_nano * 1000000.0 / wt.s + 0.5) AS BIGINT)
             AS tokens_per_million
    FROM w, wt
    """,
)
def q148_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (multilingual-T5 style,
    α = 0.7): sampling weight ∝ share^α flattens the source
    distribution so small sources are up-sampled without exploding
    epochs on large ones. Emits the per-source mixing weight and a
    tokens-per-million budget.

    Determinism: share^α is quantized to integer nano-weights BEFORE
    normalization, so the final ratios are ratios of exact integers —
    pow() itself is evaluated once per source (5 rows), not per row.
    Composes with q58 (budget mixing) and q65 (quality resampling):
    this decides how much of each source, those decide which
    documents."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(normalize_text("text"), " "),
                    lambda t: F.length(t) > 0,
                )
            )
        )
        .cast("long")
        .alias("n_tokens")
    )
    tot = tok.agg(F.sum("n_tokens").alias("t"))
    w = tok.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.floor(
            F.pow(F.col("n_tokens").cast("double") / F.col("t"), F.lit(0.7))
            * F.lit(1_000_000_000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w_nano"),
    )
    wt = w.agg(F.sum("w_nano").alias("s"))
    return w.join(F.broadcast(wt)).select(
        "source",
        "n_tokens",
        (F.col("w_nano") / F.col("s").cast("double")).alias(
            "mix_weight"
        ),
        F.floor(
            F.col("w_nano") * F.lit(1_000_000.0) / F.col("s") + F.lit(0.5)
        )
        .cast("long")
        .alias("tokens_per_million"),
    )


@query(
    "q149_frame_sample",
    """
    WITH m AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
             length(text) AS nb
      FROM documents
    ),
    f AS (
      SELECT media_id, text,
             CAST(greatest((nb + 4095) // 4096, 1) AS BIGINT) AS n_frames
      FROM m
    )
    SELECT media_id,
           CAST(u.frame_idx AS BIGINT) AS frame_idx,
           n_frames,
           md5(substring(text, u.frame_idx * 4096 + 1, 4096)) AS frame_md5
    FROM f, LATERAL (
      SELECT unnest(range(0, f.n_frames, 2)) AS frame_idx
    ) u
    """,
)
def q149_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling, oracle-gated end-to-end: payloads
    chunked into 4 KiB "frames", every 2nd frame extracted through the
    Arrow mapInPandas fan-out (operators/multimodal.frame_sample — the
    ffmpeg-keyframe stand-in; the extractor is pluggable, the Spark
    plumbing is what's under test) and digest-verified against DuckDB's
    byte-exact replay. The corpus is ASCII so the oracle's VARCHAR
    slicing equals byte slicing (asserted against octet_length);
    non-ASCII corpora keep the binary path on the Spark side untouched
    — only this oracle form would need a blob-capable slicer.

    Scale: fan-out happens inside the Arrow batch (rows out ≫ rows in,
    no shuffle); frame digests, not frame bytes, leave the stage when
    only fingerprints are needed downstream."""
    from zenodb_spark.operators.multimodal import attach_media, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    frames = frame_sample(media, every_k=2, frame_bytes=4096)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.md5("frame_payload").alias("frame_md5"),
    )


@query(
    "q150_resize_digest",
    """
    WITH m AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id, text FROM documents
    )
    SELECT media_id,
           CAST(78 AS BIGINT) AS n_bytes,
           md5(hex(encode('RESIZED:64x64:')
               || unhex(md5(text)) || unhex(md5(text))
               || unhex(md5(text)) || unhex(md5(text)))) AS resized_md5
    FROM m
    """,
)
def q150_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize path, oracle-gated byte-for-byte: every payload
    goes through the Arrow-batched resize stage (pluggable pixel
    transform; the default deterministic fake emits a 'RESIZED:WxH:'
    header + 4 repeated content digests for 64x64) and the resized
    BYTES are verified against DuckDB's blob reconstruction. DuckDB's
    md5() only takes VARCHAR, so the comparison digest is md5(hex(…)) —
    hex casing is identical across the engines (probed). This gates the
    full binary round-trip of the resize plumbing: batch shape, schema,
    metadata update, payload bytes.

    Scale: the transform is mapInPandas over Arrow batches — no
    shuffle, payload bytes stay columnar; a real pixel transform drops
    in via register_decoder('resize', fn) with the identical plan."""
    from zenodb_spark.operators.multimodal import attach_media, resize

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    resized = resize(media, 64, 64)
    return resized.select(
        "media_id",
        F.col("meta_bytes").cast("long").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("resized_md5"),
    )


@query(
    "q151_media_embed_ann",
    """
    WITH ch AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             ascii(u.c) // 4 AS bucket
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, '')) AS c) u
    ),
    hist AS (
      SELECT media_id, bucket, count(*) AS n FROM ch GROUP BY 1, 2
    ),
    grid AS (
      SELECT m.media_id, g.bucket
      FROM (SELECT CAST(doc_id AS VARCHAR) AS media_id FROM documents) m
      CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) g
    ),
    dense AS (
      SELECT grid.media_id, grid.bucket,
             CAST(coalesce(hist.n, 0) AS DOUBLE) AS n
      FROM grid LEFT JOIN hist USING (media_id, bucket)
    ),
    norms AS (SELECT media_id, sqrt(sum(n * n)) AS nrm FROM dense GROUP BY 1),
    vecs AS (
      SELECT d.media_id,
             list(CAST(CAST(d.n / norms.nrm AS FLOAT) AS DOUBLE)
                  ORDER BY d.bucket) AS v
      FROM dense d JOIN norms USING (media_id)
      GROUP BY d.media_id
    ),
    q AS (
      SELECT media_id AS query_id, v AS qv FROM vecs
      WHERE media_id IN ('1', '2', '3')
    ),
    scored AS (
      SELECT query_id, c.media_id AS neighbor_id,
             list_dot_product(qv, c.v) /
               (sqrt(list_dot_product(qv, qv))
                * sqrt(list_dot_product(c.v, c.v))) AS cosine
      FROM q JOIN vecs c ON query_id <> c.media_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, (cosine) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q151_media_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media → embedding → ANN, the full multimodal retrieval loop
    oracle-gated end-to-end: payloads are encoded by the deterministic
    byte-histogram feature map (operators/multimodal.embed_media —
    256 bins folded to 64, L2-normalized, float32; a CLIP/wav2vec
    encoder plugs in via ``encoder=`` with the identical plan), then
    brute-force cosine top-5 runs over the embedding column. The oracle
    rebuilds the same histograms character-by-character, replays the
    identical float32 quantization (CAST to FLOAT then DOUBLE), and
    ranks with the same tie rule — so the gate covers the encoder
    arithmetic, the Arrow batch path, AND the ANN ranking in one.

    Scale: encoding runs where the bytes are (no shuffle); the ANN
    stage reads a 64-float column, thousands of times smaller than the
    media table; swap cosine_topk for the IVF/LSH path (q33/q43) above
    broadcastable query counts."""
    from zenodb_spark.operators.multimodal import attach_media, embed_media

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    emb = embed_media(media, dim=64)
    qs = emb.filter(F.col("media_id").isin("1", "2", "3"))
    out = similarity.cosine_topk(emb, qs, "media_id", "embedding", k=5, dim=64)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "q152_weighted_median",
    f"""
    WITH d AS (
      SELECT source,
             length(text) AS n_chars,
             CAST(len(list_filter(string_split({NORM.format(x='text')}, ' '),
                                  t -> len(t) > 0)) AS BIGINT) AS w
      FROM documents
    ),
    o AS (
      SELECT source, n_chars, w,
             sum(w) OVER (PARTITION BY source
                          ORDER BY n_chars, w
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY source) AS tot
      FROM d
    )
    SELECT source,
           CAST(min(CASE WHEN cum * 2 >= tot THEN n_chars END) AS BIGINT)
             AS w_median_chars,
           CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN n_chars END)
                AS BIGINT) AS w_p90_chars,
           CAST(sum(w) AS BIGINT) AS total_tokens
    FROM o GROUP BY 1
    """,
)
def q152_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles (token-weighted document length per source):
    the median CHARACTER a training run actually sees — each document
    weighted by its token count, so one 10k-token document counts as
    much as a hundred 100-token ones. Spark has no weighted-percentile
    builtin; the exact lower-weighted-quantile comes from a cumulative
    weight window (source-partitioned — parallel across sources; the
    single-key form would swap in the prefix scan of q122) and a
    conditional min. All arithmetic is integer (cum·2 ≥ tot), so the
    cut is exact and order ties are broken by (length, weight)
    identically in both engines."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(
            F.filter(
                F.split(normalize_text("text"), " "),
                lambda t: F.length(t) > 0,
            )
        )
        .cast("long")
        .alias("w"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    o = d.select(
        "source",
        "n_chars",
        "w",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_tot).alias("tot"),
    )
    return o.groupBy("source").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("n_chars"))
        )
        .cast("long")
        .alias("w_median_chars"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("n_chars"))
        )
        .cast("long")
        .alias("w_p90_chars"),
        F.sum("w").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions: range join, heavy hitters, graph iteration, TPC-H
# Q8/Q9 shapes, encoding QC
# ---------------------------------------------------------------------------


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
    from zenodb_spark.operators.sketch import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        F.floor("value").cast("long").alias("value_bin")
    )
    return heavy_hitters(v, "value_bin", 60)


def _pagerank_oracle(iters: int = 4) -> str:
    edges = f"""
    edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
    e AS (SELECT edges.src, edges.dst, edges.w, ow.outw
          FROM edges JOIN ow USING (src)),
    r0 AS (SELECT n_name AS node, 1.0/25.0 AS pr FROM nation)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""
    m{i} AS (
      SELECT e.dst,
             sum(CAST(floor(0.85 * r.pr * e.w / e.outw * 1000000.0 + 0.5)
                      AS BIGINT)) AS m
      FROM e JOIN r{i-1} r ON r.node = e.src GROUP BY 1
    ),
    r{i} AS (
      SELECT n.n_name AS node,
             0.006 + CAST(coalesce(m{i}.m, 0) AS DOUBLE)/1000000.0 AS pr
      FROM nation n LEFT JOIN m{i} ON m{i}.dst = n.n_name
    )"""
        )
    return (
        "WITH" + edges + "," + ",".join(steps) +
        f"\n    SELECT node AS nation, pr AS pagerank FROM r{iters}"
    )


@query("q155_pagerank", _pagerank_oracle(4))
def q155_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (edges = supplier-nation →
    customer-nation, weighted by exact cents revenue): 4 synchronous power
    iterations, damping 0.85, uniform init.

    The iterative-with-caching pattern: the edge list (the expensive 5-way
    join) is built ONCE and persisted; each iteration is then one broadcast
    join of the 25-row rank vector onto the cached edges plus one map-side-
    combined aggregate — at 100 TB the edge list lives partitioned by src
    across the cluster and the rank vector stays a broadcast variable, so
    per-iteration cost is a single co-located pass, no fact re-join.

    Cross-engine determinism: per-edge contributions are quantized to
    integer micro-units BEFORE the per-node sum (integer addition is
    associative under any partitioning), and each new rank is the same
    fixed IEEE expression over those exact integers; 1e-6 quantization per
    iteration is ~1e5 times below any rank gap. Dangling nations leak mass
    identically in both engines (none exist in this graph's 25×25 matrix)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("src"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("dst"))
    edges = (
        l.join(s.select("s_suppkey", "s_nationkey"),
               F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .groupBy("src", "dst")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("w"))
    )
    ow = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # localCheckpoint (not persist): released by the ContextCleaner when
    # the returned frame is dropped — a persist here leaked a cache entry
    # per query invocation over a long driver session
    e = edges.join(ow, "src").localCheckpoint(eager=False)
    nodes = n.select(F.col("n_name").alias("node"))
    r = nodes.withColumn("pr", F.lit(1.0) / F.lit(25.0))
    for _ in range(4):
        contrib = e.join(F.broadcast(r), F.col("node") == F.col("src")).select(
            "dst",
            F.floor(
                F.lit(0.85) * F.col("pr") * F.col("w") / F.col("outw")
                * F.lit(1000000.0) + F.lit(0.5)
            ).cast("long").alias("m"),
        )
        agg = contrib.groupBy("dst").agg(F.sum("m").alias("m"))
        r = nodes.join(agg, F.col("node") == F.col("dst"), "left").select(
            "node",
            (F.lit(0.006) + F.coalesce(F.col("m"), F.lit(0)).cast("double")
             / F.lit(1000000.0)).alias("pr"),
        )
    return r.select(F.col("node").alias("nation"), F.col("pr").alias("pagerank"))


@query(
    "q156_market_share",
    f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             sn.n_name AS supp_nation,
             {C.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS vc
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'EUROPE'
    ),
    tot AS (SELECT o_year, sum(vc) AS t FROM base GROUP BY 1)
    SELECT b.o_year, b.supp_nation,
           sum(b.vc)/100.0 AS revenue,
           CAST(sum(b.vc) AS DOUBLE) / CAST(max(t.t) AS DOUBLE) AS mkt_share
    FROM base b JOIN tot t ON t.o_year = b.o_year
    GROUP BY 1, 2
    """,
)
def q156_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (adapted to available columns): each supplier
    nation's share of PROMO-part revenue sold into the EUROPE market, by
    order year. Share is a ratio of exact integer cent sums.

    Plan: part/nation/region dims broadcast; supplier and customer left to
    AQE; one orders⋈lineitem orderkey shuffle; the yearly total reuses the
    small per-(year, nation) aggregate rather than re-scanning the facts —
    a second pass over 25×7 rows, not 100 TB."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    base = (
        l.join(F.broadcast(p.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("r_regionkey") == F.col("cn_rkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "supp_nation",
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vc"),
        )
    )
    per = base.groupBy("o_year", "supp_nation").agg(F.sum("vc").alias("v"))
    tot = per.groupBy("o_year").agg(F.sum("v").alias("t"))
    return per.join(tot, "o_year").select(
        "o_year",
        "supp_nation",
        (F.col("v") / F.lit(100.0)).alias("revenue"),
        (F.col("v").cast("double") / F.col("t").cast("double")).alias("mkt_share"),
    )


@query(
    "q157_profit_by_nation_year",
    f"""
    SELECT sn.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}
               - {C.format(x='p.p_retailprice * l.l_quantity * 0.1')})/100.0
             AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE contains(lower(p.p_name), 'a')
    GROUP BY 1, 2
    """,
)
def q157_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: supply cost modeled as 10% of retail price
    per unit — the schema has no partsupp): profit per supplier nation per
    year over parts whose name contains 'a'. Exact integer cents on both
    revenue and cost terms before the sum."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.lower(F.col("p_name")).contains("a")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
               F.col("p_partkey") == F.col("l_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    - cents(F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1))
                ) / F.lit(100.0)
            ).alias("profit")
        )
    )


@query(
    "q158_encoding_qc",
    """
    WITH d AS (
      SELECT source,
             length(text) AS n_chars,
             length(regexp_replace(text, '[ -~]', '', 'g')) AS n_nonprint,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^\\x{FFFD}]', '', 'g')) AS n_repl
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           sum(n_chars) AS total_chars,
           CAST(sum(n_nonprint) AS DOUBLE) / sum(n_chars) AS nonprintable_frac,
           CAST(sum(n_sym) AS DOUBLE) / sum(n_chars) AS symbol_frac,
           sum(CASE WHEN n_repl > 0 OR n_nonprint > 0 THEN 1 ELSE 0 END)
             AS n_suspect_docs
    FROM d GROUP BY 1
    """,
)
def q158_encoding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding / mojibake QC panel per source: characters outside printable
    ASCII, U+FFFD replacement characters (the scar UTF-8 decoding leaves on
    mis-encoded bytes), and symbol density — the standard pre-training
    corpus hygiene signals. Pure JVM regex counting (whole-stage codegen,
    no UDF); ratios are ratios of exact integer sums. Patterns restrict to
    explicit character ranges that Java regex and RE2 interpret
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), r"[ -~]", "")).alias("n_nonprint"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias(
            "n_sym"
        ),
        F.length(F.regexp_replace(F.col("text"), "[^�]", "")).alias("n_repl"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_nonprint").cast("double") / F.sum("n_chars")).alias(
            "nonprintable_frac"
        ),
        (F.sum("n_sym").cast("double") / F.sum("n_chars")).alias("symbol_frac"),
        F.sum(
            F.when((F.col("n_repl") > 0) | (F.col("n_nonprint") > 0), 1).otherwise(0)
        ).alias("n_suspect_docs"),
    )


@query(
    "q159_int8_quantization",
    """
    WITH v AS (
      SELECT vec_id, i AS dim, CAST(embedding[i+1] AS DOUBLE) AS val
      FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
    ),
    stats AS (
      SELECT dim, min(val) AS lo, max(val) AS hi FROM v GROUP BY 1
    ),
    q AS (
      SELECT v.dim, v.val, s.lo, s.hi,
             least(127, greatest(-127,
               CAST(floor((v.val - s.lo) / (s.hi - s.lo) * 254.0 - 127.0 + 0.5)
                    AS INT))) AS qi
      FROM v JOIN stats s ON s.dim = v.dim WHERE s.hi > s.lo
    ),
    e AS (
      SELECT dim, lo, hi,
             CAST(floor(
               (val - (lo + (qi + 127) * (hi - lo) / 254.0))
               * (val - (lo + (qi + 127) * (hi - lo) / 254.0))
               * 1000000000000.0 + 0.5) AS BIGINT) AS se_pico
      FROM q
    )
    SELECT CAST(dim AS BIGINT) AS dim, lo, hi,
           count(*) AS n,
           sum(se_pico) AS sse_pico
    FROM e GROUP BY 1, 2, 3
    """,
)
def q159_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit: per-dimension min/max-scaled 8-bit
    codes (the 4× embedding compression every large vector store applies
    before ANN) and the exact reconstruction squared error they cost.

    Scale shape: one posexplode → per-dim min/max (64-row aggregate,
    map-side combined) → broadcast stats back onto the exploded values.
    Determinism: float32 inputs widen exactly to double in both engines;
    per-value squared errors quantize to integer picounits BEFORE the sum
    (associative), per the file-wide rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    stats = v.groupBy("dim").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    q = (
        v.join(F.broadcast(stats.filter(F.col("hi") > F.col("lo"))), "dim")
        .withColumn(
            "qi",
            F.least(
                F.lit(127),
                F.greatest(
                    F.lit(-127),
                    F.floor(
                        (F.col("val") - F.col("lo"))
                        / (F.col("hi") - F.col("lo"))
                        * F.lit(254.0)
                        - F.lit(127.0)
                        + F.lit(0.5)
                    ).cast("int"),
                ),
            ),
        )
    )
    deq = F.col("lo") + (F.col("qi") + F.lit(127)) * (F.col("hi") - F.col("lo")) / F.lit(254.0)
    e = q.withColumn(
        "se_pico",
        F.floor(
            (F.col("val") - deq) * (F.col("val") - deq) * F.lit(1000000000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    return e.groupBy(F.col("dim").cast("long").alias("dim"), "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"), F.sum("se_pico").alias("sse_pico")
    )


@query(
    "q160_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), f AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_tok,
             CAST(n_sym AS DOUBLE) / n_chars AS sym_frac,
             CAST(n_dig AS DOUBLE) / n_chars AS dig_frac
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    )
    SELECT doc_id AS doc, source,
           -1.5 + 3.0 * ttr - 0.2 * chars_per_tok - 4.0 * sym_frac
                - 2.0 * dig_frac AS logit,
           CASE WHEN -1.5 + 3.0 * ttr - 0.2 * chars_per_tok - 4.0 * sym_frac
                     - 2.0 * dig_frac > 0.0 THEN 1 ELSE 0 END AS keep
    FROM f
    """,
)
def q160_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier (the fastText-style corpus
    filter, with the model baked in as literals): per-doc features →
    logit → keep decision. Features are ratios of exact integers; the
    logit is one fixed left-associated IEEE expression, so both engines
    agree bit-for-bit without quantization. Entirely codegen — scoring
    100 TB is a single scan, no shuffle at all."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias(
            "n_sym"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    return t.select(
        "doc",
        "source",
        logit.alias("logit"),
        F.when(logit > 0.0, 1).otherwise(0).alias("keep"),
    )


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
    "q162_cdc_chunks",
    """
    WITH d AS (
      SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) >= 8
    ),
    cd AS (
      SELECT doc_id, source, text, n,
             [CAST(ascii(substr(text, CAST(p AS INTEGER), 1)) AS BIGINT)
              for p in range(1, CAST(n AS INTEGER) + 1)] AS codes
      FROM d
    ),
    pos AS (
      SELECT doc_id, i
      FROM cd, unnest(range(8, n + 1)) AS u(i)
      WHERE ((codes[i] + codes[i-1]*31 + codes[i-2]*961 + codes[i-3]*29791
              + codes[i-4]*923521 + codes[i-5]*28629151
              + codes[i-6]*887503681 + codes[i-7]*27512614111)
             % 1000003) * 16 < 1000003
    ),
    b AS (SELECT doc_id, list_sort(list(i)) AS bps FROM pos GROUP BY 1),
    db AS (
      SELECT d.doc_id, d.source, d.text,
             list_prepend(CAST(0 AS BIGINT),
                          list_append(coalesce(b.bps, []), d.n)) AS cuts
      FROM d LEFT JOIN b USING (doc_id)
    ),
    ch AS (
      SELECT doc_id, source,
             substr(text, CAST(cuts[j+1] AS INTEGER) + 1,
                    CAST(cuts[j+2] - cuts[j+1] AS INTEGER)) AS chunk
      FROM db, unnest(range(0, len(cuts) - 1)) AS u(j)
    ),
    f AS (SELECT source, doc_id, md5(chunk) AS h FROM ch WHERE chunk <> ''),
    g AS (SELECT h, count(DISTINCT doc_id) AS nd FROM f GROUP BY 1)
    SELECT f.source,
           count(*) AS n_chunks,
           count(DISTINCT f.h) AS n_distinct_chunks,
           sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS n_crossdoc_chunks
    FROM f JOIN g ON g.h = f.h
    GROUP BY 1
    """,
)
def q162_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit: chunk boundaries fall where the
    hash of the trailing 8-char window ≡ 0 (mod 16) — so boundaries move
    WITH the content, and an insertion early in a document shifts chunk
    edges only locally instead of re-aligning every fixed-width block (the
    rsync/LBFS trick storage dedup is built on, here as the substring-level
    dedup signal doc-level fingerprints miss). Per source: chunk count,
    distinct chunks, and chunks recurring across ≥2 documents.

    All boundary detection is per-row array expressions (sequence →
    filter → transform), zero shuffle until the final chunk-fingerprint
    aggregate. The window hash is an unrolled base-31 polynomial over the
    8 trailing char codes reduced mod 1000003 — pure 64-bit integer
    arithmetic (max value ~1.2e13, no overflow), identical in both
    engines and ~5× cheaper than a per-position digest; `h·16 < P` takes
    the ~1/16 acceptance from the mixed high bits rather than `h % 16`
    (which base 31 ≡ −1 (mod 16) would collapse to an alternating char
    sum)."""
    from zenodb_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    d = docs.filter(F.length("text") >= 8).select(
        "doc_id",
        "source",
        # one O(n) pass builds the per-char array; every later per-char /
        # per-chunk access is O(1) array indexing. The obvious
        # `substring(text, p, 1)` / `substring(text, cut, len)` forms are
        # O(p) EACH (UTF8String.substring scans code points from byte 0),
        # i.e. O(n²) per document — invisible on 300-char bench docs,
        # catastrophic on real MB-scale documents (round-6 fix).
        F.split("text", "").alias("chars"),
        F.length("text").cast("long").alias("n"),
    )
    d = d.withColumn(
        "codes",
        F.expr("transform(chars, c -> bigint(ascii(c)))"),
    ).withColumn(
        "cuts",
        F.expr(
            "concat(array(0L), "
            " filter(sequence(8L, n), i ->"
            "  ((element_at(codes, int(i)) + element_at(codes, int(i-1))*31"
            "    + element_at(codes, int(i-2))*961 + element_at(codes, int(i-3))*29791"
            "    + element_at(codes, int(i-4))*923521 + element_at(codes, int(i-5))*28629151"
            "    + element_at(codes, int(i-6))*887503681 + element_at(codes, int(i-7))*27512614111)"
            "   % 1000003) * 16 < 1000003),"
            " array(n))"
        ),
    )
    ch = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(cuts) - 2), j ->"
                " array_join(slice(chars, int(element_at(cuts, j + 1)) + 1,"
                "            int(element_at(cuts, j + 2) - element_at(cuts, j + 1))), ''))"
            )
        ).alias("chunk"),
    ).filter(F.col("chunk") != "")
    # the chunk-hash rows feed BOTH the cross-doc recurrence count and the
    # per-source rollup with different column needs, and the per-char
    # boundary polynomial above is the query's dominant compute — without
    # a checkpoint the whole chunking pipeline ran twice (round-6 measured
    # plan: two full Generate subtrees; size-gated round 7)
    f = share(ch.select("source", "doc_id", F.md5("chunk").alias("h")))
    g = f.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        f.join(g, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("h").alias("n_distinct_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias(
                "n_crossdoc_chunks"
            ),
        )
    )


@query(
    "q163_leakage_safe_split",
    f"""
    WITH d AS (
      SELECT doc_id, source, md5({NORM.format(x='text')}) AS fp
      FROM documents
    ),
    cl AS (SELECT fp, min(doc_id) AS cluster_id, count(*) AS csize
           FROM d GROUP BY 1),
    a AS (
      SELECT d.doc_id, d.source, cl.cluster_id, cl.csize,
             CASE
               WHEN CAST(('0x' || substr(md5(CAST(cl.cluster_id AS VARCHAR)),
                                         1, 4)) AS INTEGER) % 10 < 8 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(cl.cluster_id AS VARCHAR)),
                                         1, 4)) AS INTEGER) % 10 = 8 THEN 'val'
               ELSE 'test'
             END AS split
      FROM d JOIN cl ON cl.fp = d.fp
    )
    SELECT split, source,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS n_dup_docs
    FROM a GROUP BY 1, 2
    """,
)
def q163_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split hash is taken over the
    DUPLICATE-CLUSTER id (min doc id per normalized-text fingerprint), not
    the document id — so every copy of a duplicated document lands in the
    same split and the eval set can never contain a training document's
    twin (the train/test contamination path naive per-doc splitting
    leaves open). 80/10/10 via md5 of the cluster id: deterministic,
    engine-independent, rebalance-stable as the corpus grows.

    Scale shape: one fingerprint aggregate (map-side combined), one
    fingerprint-keyed join back — the same single-shuffle pattern as
    dedup_apply; no pair materialization."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.md5(normalize_text("text")).alias("fp")
    )
    cl = d.groupBy("fp").agg(
        F.min("doc_id").alias("cluster_id"), F.count(F.lit(1)).alias("csize")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 10
    )
    a = d.join(cl, "fp").withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
    )
    return a.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum(F.when(F.col("csize") > 1, 1).otherwise(0)).alias("n_dup_docs"),
    )


def _hard_negatives_oracle() -> str:
    base = _bm25_oracle(topk=10)
    n = NORM.format(x="text")
    # reuse the q64 scoring pipeline verbatim, then strike exact-dup twins
    # of the query and re-rank the survivors
    tail = (
        "SELECT qid, doc, (CAST(sm AS DOUBLE) / 1000000) AS bm25,\n"
        "           CAST(rank AS BIGINT) AS rank\n"
        "    FROM ranked WHERE rank <= 10"
    )
    assert tail in base
    return base.replace(
        tail,
        f"""fpd AS (SELECT doc_id, md5({n}) AS fp FROM documents),
    kept AS (
      SELECT r.qid, r.doc, r.sm,
             row_number() OVER (PARTITION BY r.qid ORDER BY r.rank) AS neg_rank
      FROM ranked r
      JOIN fpd qf ON qf.doc_id = r.qid
      JOIN fpd df ON df.doc_id = r.doc
      WHERE r.rank <= 10 AND qf.fp <> df.fp
    )
    SELECT qid, doc, (CAST(sm AS DOUBLE) / 1000000) AS bm25,
           CAST(neg_rank AS BIGINT) AS neg_rank
    FROM kept WHERE neg_rank <= 3""",
    ).replace(
        "    ranked AS (\n      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sm DESC, doc) AS rank\n      FROM scored\n    )\n    fpd AS",
        "    ranked AS (\n      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sm DESC, doc) AS rank\n      FROM scored\n    ),\n    fpd AS",
    )


@query("q164_hard_negatives", _hard_negatives_oracle())
def q164_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training: each eval query's BM25
    top-10 with exact-duplicate twins of the query struck out (those are
    POSITIVES — a naive miner feeds them in as negatives and poisons the
    contrastive loss), re-ranked, top-3 kept. Semantics pinned as
    "top-10 → strike twins → first 3" identically in both engines.

    Scale: the twin strike is a fingerprint equi-join on the ALREADY
    top-k-pruned candidate rows (≤10 per query), not on the corpus."""
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5(normalize_text("text")).alias("fp"))
    top10 = bm25_topk(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("qid"), "text"
        ),
        topk=10,
    )
    qf = fp.select(F.col("doc_id").alias("qid"), F.col("fp").alias("qfp"))
    df_ = fp.select(F.col("doc_id").alias("doc"), F.col("fp").alias("dfp"))
    kept = (
        top10.join(qf, "qid")
        .join(df_, "doc")
        .filter(F.col("qfp") != F.col("dfp"))
        .withColumn(
            "neg_rank",
            F.row_number().over(Window.partitionBy("qid").orderBy("rank")),
        )
        .filter(F.col("neg_rank") <= 3)
    )
    return kept.select("qid", "doc", "bm25", F.col("neg_rank").cast("long").alias("neg_rank"))


@query(
    "q165_dup_span_strike",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks
      FROM documents
    ),
    tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
           FROM t WHERE len(toks) > 0),
    w AS (
      SELECT doc_id, p,
             md5(array_to_string(toks[CAST(p AS INTEGER):CAST(p+9 AS INTEGER)],
                                 ' ')) AS h
      FROM tt, unnest(range(1, CAST(n AS INTEGER) - 8)) AS u(p)
      WHERE n >= 10
    ),
    g AS (
      SELECT h, count(*) AS c,
             min(doc_id * 1000000000 + p) AS canon_key
      FROM w GROUP BY 1
    ),
    strike AS (
      SELECT w.doc_id, w.p
      FROM w JOIN g ON g.h = w.h
      WHERE g.c >= 2 AND (w.doc_id * 1000000000 + w.p) <> g.canon_key
    ),
    cov AS (
      SELECT DISTINCT doc_id, idx
      FROM strike, unnest(range(p, p + 10)) AS u2(idx)
    ),
    tok AS (
      SELECT doc_id, i, toks[CAST(i AS INTEGER)] AS tok
      FROM tt, unnest(range(1, CAST(n AS INTEGER) + 1)) AS u3(i)
    ),
    kept AS (
      SELECT tok.doc_id, tok.i, tok.tok
      FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.idx = tok.i
      WHERE cov.idx IS NULL
    ),
    res AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY i)) AS clean_md5
      FROM kept GROUP BY 1
    )
    SELECT tt.doc_id AS doc, tt.n AS n_tokens,
           tt.n - coalesce(res.n_kept, 0) AS n_struck,
           coalesce(res.clean_md5, md5('')) AS clean_md5
    FROM tt LEFT JOIN res ON res.doc_id = tt.doc_id
    """,
)
def q165_dup_span_strike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLY (Lee et al. 2021, "Deduplicating
    Training Data"): every duplicated 10-token window keeps its globally
    FIRST occurrence (min (doc, pos)) and every other occurrence is
    struck; each document is rewritten with its covered token spans
    removed (span union via distinct covered indices — spans overlap, so
    naive per-window removal would double-strike). Returns per-doc token
    counts and the md5 of the cleaned text — the materialization step
    q112's coverage signal only measures.

    Scale shape: one row per token for window hashing (linear, stride 1);
    the per-hash aggregate is map-side combined; strike marks rejoin on
    the window hash; coverage and reconstruction share the doc-keyed
    exchange. Reconstruction sorts each doc's kept tokens in one
    collect_list over ≤ doc-length structs — bounded by chunking
    upstream (q44) exactly as the reference pipeline would."""
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.util import spread

    W = 10
    docs = spread(load_table(spark, sf_dir, "documents"))
    # tt feeds the window pass, the token re-emission and the final join;
    # w feeds the per-hash aggregate and the strike join. Checkpoint both:
    # without it the tokenize ran ~4x and the O(tokens) window-md5 pass —
    # the dominant compute — ran twice (round-6 measured plan)
    tt = share(
        docs.select(
            "doc_id",
            F.filter(
                F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0
            ).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .withColumn("n", F.size("toks").cast("long"))
    )
    # source=docs: when tt IS checkpointed its LogicalRDD reports no input
    # files, so w sizes its decision on the raw corpus scan like tt does
    w = share(
        tt.filter(F.col("n") >= W)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n") - (W - 1))).alias("p"),
            "toks",
        )
        .select(
            "doc_id",
            "p",
            F.md5(F.concat_ws(" ", F.expr(f"slice(toks, int(p), {W})"))).alias("h"),
        ),
        source=docs,
    )
    key = F.col("doc_id") * F.lit(1_000_000_000) + F.col("p")
    g = w.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"), F.min(key).alias("canon_key")
    )
    strike = (
        w.join(g, "h")
        .filter((F.col("c") >= 2) & (key != F.col("canon_key")))
        .select("doc_id", "p")
    )
    cov = strike.select(
        "doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + (W - 1))).alias("idx")
    ).distinct()
    tok = tt.select(
        "doc_id",
        F.posexplode("toks").alias("i0", "tok"),
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "tok")
    kept = tok.join(
        cov, (tok["doc_id"] == cov["doc_id"]) & (tok["i"] == cov["idx"]), "left_anti"
    )
    res = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr("transform(sort_array(collect_list(struct(i, tok))), s -> s.tok)"),
            )
        ).alias("clean_md5"),
    )
    return tt.join(res, "doc_id", "left").select(
        F.col("doc_id").alias("doc"),
        F.col("n").alias("n_tokens"),
        (F.col("n") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_struck"),
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )


@query(
    "q166_exact_quantile_2pass",
    """
    WITH v AS (SELECT l_extendedprice AS x FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
    nn AS (SELECT count(*) AS c FROM v),
    r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
    SELECT 0.5 AS q, CAST(ceil(0.5 * c) AS BIGINT) AS k,
           CAST(c AS BIGINT) AS n, x AS value
    FROM r, nn WHERE rn = CAST(ceil(0.5 * c) AS BIGINT)
    UNION ALL
    SELECT 0.99 AS q, CAST(ceil(0.99 * c) AS BIGINT) AS k,
           CAST(c AS BIGINT) AS n, x AS value
    FROM r, nn WHERE rn = CAST(ceil(0.99 * c) AS BIGINT)
    """,
)
def q166_exact_quantile_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median and P99 of lineitem price with NO global sort: pass 1
    brackets the answer with approx_percentile (error bounds the bracket
    width, never the answer), pass 2 counts exact ranks and sorts only
    the ~2N/accuracy bracketed slice (operators/percentile.
    exact_quantile_2pass). The oracle global-sorts everything — the
    point is both produce the identical k-th smallest element, but one
    of them still works when N is 10^12."""
    from zenodb_spark.operators.percentile import exact_quantile_2pass

    li = load_table(spark, sf_dir, "lineitem")
    out = None
    for q in (0.5, 0.99):
        r = exact_quantile_2pass(li, "l_extendedprice", q).select(
            F.lit(q).alias("q"),
            F.col("k").cast("long").alias("k"),
            F.col("n").cast("long").alias("n"),
            "value",
        )
        out = r if out is None else out.unionByName(r)
    return out


@query(
    "q167_dbscan",
    """
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               AS c
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    pr AS (SELECT pa, pb FROM p WHERE c >= 0.4),
    ed AS (SELECT pa AS a, pb AS b FROM pr UNION SELECT pb, pa FROM pr),
    deg AS (SELECT a AS node, count(*) AS d FROM ed GROUP BY 1),
    core AS (SELECT node FROM deg WHERE d >= 3),
    ce AS (
      SELECT ed.a, ed.b FROM ed
      JOIN core ca ON ca.node = ed.a
      JOIN core cb ON cb.node = ed.b
    ),
    reach(node, lab) AS (
      SELECT node, node FROM core
      UNION
      SELECT ce.b, r.lab FROM reach r JOIN ce ON ce.a = r.node
    ),
    clab AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY 1),
    border AS (
      SELECT ed.a AS node, min(clab.cluster_id) AS cluster_id
      FROM ed
      JOIN clab ON clab.node = ed.b
      LEFT JOIN core c2 ON c2.node = ed.a
      WHERE c2.node IS NULL
      GROUP BY 1
    )
    SELECT node, CAST(cluster_id AS BIGINT) AS cluster_id, 'core' AS role
    FROM clab
    UNION ALL
    SELECT node, CAST(cluster_id AS BIGINT) AS cluster_id, 'border' AS role
    FROM border
    """,
)
def q167_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact density clustering (DBSCAN) over embeddings: ε-neighbors are
    cosine ≥ 0.4 pairs from the triangle-blocked EXACT pair join (q32's
    machinery — bit-identical cosines, so the neighbor graph matches the
    oracle's brute force); core points have ≥ 3 neighbors; clusters are
    connected components over core-core edges (large-star/small-star, the
    q47 machinery); border points attach to the MIN cluster id among their
    core neighbors — a deterministic refinement of classic DBSCAN's
    order-dependent border rule. Noise points are omitted.

    Scale: neighbors come from the blocked pair join (N·(blocks+2) vector
    shuffle), degree/core are one aggregate, CC is O(diameter) rounds over
    the (tiny) core subgraph, border assignment is one join."""
    from zenodb_spark.operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, blocks=8, dim=64
    ).select("doc_a", "doc_b")
    ed = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
                F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    core = (
        ed.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 3)
        .select(F.col("a").alias("node"))
    )
    ca = core.select(F.col("node").alias("doc_a"))
    cb = core.select(F.col("node").alias("doc_b"))
    core_pairs = pairs.join(ca, "doc_a").join(cb, "doc_b")
    labels = connected_components(core_pairs).select("node", "lab")
    singletons = core.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("lab")
    )
    clab = labels.unionByName(singletons)
    border = (
        ed.join(clab.withColumnRenamed("node", "b"), "b")
        .join(core.withColumnRenamed("node", "a"), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("lab").alias("cluster_id"))
        .select(F.col("a").alias("node"), "cluster_id", F.lit("border").alias("role"))
    )
    cores_out = clab.select(
        "node", F.col("lab").alias("cluster_id"), F.lit("core").alias("role")
    )
    return cores_out.unionByName(border)


@query(
    "q168_knn_pseudolabel",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
                     AS INTEGER) % 10 AS bkt
      FROM e
    ),
    lab AS (SELECT vec_id, label, v FROM m WHERE bkt = 0),
    unl AS (SELECT vec_id, label, v FROM m WHERE bkt <> 0),
    sc AS (
      SELECT u.vec_id AS t, u.label AS true_label,
             l.vec_id AS nid, l.label AS nl,
             list_dot_product(u.v, l.v) /
               (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(l.v, l.v)))
               AS c
      FROM unl u, lab l
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY t ORDER BY c DESC, nid) AS rn
      FROM sc
    ),
    votes AS (
      SELECT t, true_label, nl, count(*) AS cnt
      FROM r WHERE rn <= 5 GROUP BY 1, 2, 3
    ),
    pick AS (
      SELECT t, true_label, nl AS predicted_label,
             row_number() OVER (PARTITION BY t ORDER BY cnt DESC, nl) AS pr
      FROM votes
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(predicted_label AS BIGINT) AS predicted_label,
           count(*) AS n
    FROM pick WHERE pr = 1 GROUP BY 1, 2
    """,
)
def q168_knn_pseudolabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised kNN pseudo-labeling with a confusion panel: a
    deterministic ~10% of vectors keep their labels (md5 bucket — the
    "seed set"); every other vector takes the majority label of its 5
    nearest labeled neighbors by exact cosine (ties: higher count, then
    smaller label). Output is the true-vs-predicted confusion matrix —
    the quality gate before trusting propagated labels at scale.

    Scale shape: the LABELED seed set is the broadcast side (it is the
    small "model"); the unlabeled corpus streams through one scan with
    per-row unrolled dot products; the per-target top-5 window prunes
    map-side (WindowGroupLimit) before its exchange. At 100 TB the seed
    broadcast swaps for the IVF/LSH candidate path (q42/q33) unchanged
    downstream."""
    from zenodb_spark.operators.similarity import dot, norm
    from zenodb_spark.operators.util import spread

    emb = load_table(spark, sf_dir, "embeddings")
    bkt = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    )
    m = emb.withColumn("bkt", bkt)
    lab = m.filter(F.col("bkt") == 0).select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nl"),
        F.col("embedding").alias("lv"),
        norm("embedding", 64).alias("nn"),
    )
    unl = spread(m.filter(F.col("bkt") != 0)).select(
        F.col("vec_id").alias("t"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("uv"),
        norm("embedding", 64).alias("un"),
    )
    sc = unl.join(F.broadcast(lab)).withColumn(
        "c", dot("uv", "lv", 64) / (F.col("un") * F.col("nn"))
    )
    w = Window.partitionBy("t").orderBy(F.col("c").desc(), F.col("nid"))
    top = sc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top.groupBy("t", "true_label", "nl").agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("t").orderBy(F.col("cnt").desc(), F.col("nl"))
    pick = votes.withColumn("pr", F.row_number().over(wp)).filter(F.col("pr") == 1)
    return pick.groupBy(
        F.col("true_label").cast("long").alias("true_label"),
        F.col("nl").cast("long").alias("predicted_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q169_cusum_drift",
    f"""
    WITH b AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket,
             sum({C.format(x='value')}) AS vc
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(floor(avg(vc)) AS BIGINT) AS mu
      FROM b GROUP BY 1
    ),
    p AS (
      SELECT b.event_type, b.bucket, b.vc - base.mu AS dev,
             sum(b.vc - base.mu) OVER (
               PARTITION BY b.event_type ORDER BY b.bucket
             ) AS pref
      FROM b JOIN base ON base.event_type = b.event_type
    ),
    s AS (
      SELECT event_type, bucket, dev, pref,
             pref - min(pref) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cusum
      FROM p
    )
    SELECT event_type, bucket, CAST(cusum AS BIGINT) AS cusum,
           CASE WHEN cusum > 20000 THEN 1 ELSE 0 END AS drift_flag
    FROM s
    """,
)
def q169_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per event type over hourly revenue:
    s_t = max(0, s_{t-1} + (x_t − μ)) exceeds a threshold when the level
    shifts upward. The recursion is NOT window-expressible directly, but
    s_t ≡ P_t − min_{j≤t} P_j for P = running sum of deviations — two
    stock window functions over the same (type, bucket) partitioning, no
    recursion, no UDF. All arithmetic is exact integer cents (μ floored
    to a cent), so both engines agree bit-for-bit.

    Scale: one bucket aggregate (map-side combined) then windows over the
    per-type bucket axis — thousands of rows per type regardless of raw
    volume."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 3600).alias("bucket")
    ).agg(F.sum(cents("value")).alias("vc"))
    base = b.groupBy("event_type").agg(
        F.floor(F.avg("vc")).cast("long").alias("mu")
    )
    w_pref = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = b.join(base, "event_type").select(
        "event_type",
        "bucket",
        F.sum(F.col("vc") - F.col("mu")).over(w_pref).alias("pref"),
    )
    s = p.withColumn("cusum", F.col("pref") - F.min("pref").over(w_pref))
    return s.select(
        "event_type",
        "bucket",
        F.col("cusum").cast("long").alias("cusum"),
        F.when(F.col("cusum") > 20000, 1).otherwise(0).alias("drift_flag"),
    )


@query(
    "q170_rfm_segments",
    f"""
    WITH o AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es,
             {C.format(x='o_totalprice')} AS vc
      FROM orders
    ),
    mx AS (SELECT max(es) AS maxe FROM o),
    per AS (
      SELECT o_custkey,
             CAST((mx.maxe - max(o.es)) / 86400 AS BIGINT) AS recency_days,
             count(*) AS freq,
             sum(o.vc) AS monetary_c
      FROM o, mx GROUP BY 1, mx.maxe
    ),
    scored AS (
      SELECT o_custkey, monetary_c,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_score
      FROM per
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           count(*) AS n_customers,
           sum(monetary_c)/100.0 AS total_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q170_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quintile scores for recency (days since
    last order, integer epoch math), frequency, and monetary (exact
    cents), each ntile'd under a total order (metric + custkey tiebreak,
    so quintile edges are deterministic), rolled up to segment counts.
    The classic OLAP segmentation panel; one customer aggregate + three
    windows over it."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        timeops.bucket_epoch("o_orderdate", 1).alias("es"),
        cents("o_totalprice").alias("vc"),
    )
    maxe = base.agg(F.max("es").alias("maxe"))
    per = (
        base.crossJoin(F.broadcast(maxe))
        .groupBy("o_custkey", "maxe")
        .agg(
            ((F.col("maxe") - F.max("es")) / F.lit(86400)).cast("long").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("freq"),
            F.sum("vc").alias("monetary_c"),
        )
    )
    scored = per.select(
        "o_custkey",
        "monetary_c",
        F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.col("freq").desc(), "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.col("monetary_c").desc(), "o_custkey")).alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("monetary_c") / F.lit(100.0)).alias("total_monetary"),
    )


_TRADE_EDGES_SQL = f"""
    edges0 AS (
      SELECT least(sn.n_name, cn.n_name) AS a,
             greatest(sn.n_name, cn.n_name) AS b,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2
    ),
    stats AS (SELECT sum(w) AS tw, count(*) AS ne FROM edges0),
    edges AS (
      SELECT a, b FROM edges0, stats WHERE w * ne >= tw
    )
"""


@query(
    "q171_trade_triangles",
    f"""
    WITH {_TRADE_EDGES_SQL},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
      SELECT n, count(*) AS n_triangles FROM (
        SELECT x AS n FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri
      ) GROUP BY 1
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY 1
    )
    SELECT deg.n AS nation, coalesce(pernode.n_triangles, 0) AS n_triangles,
           CAST(deg.d AS BIGINT) AS degree,
           CASE WHEN deg.d >= 2
                THEN CAST(2 * coalesce(pernode.n_triangles, 0) AS DOUBLE)
                     / (deg.d * (deg.d - 1))
                ELSE 0.0 END AS clustering_coef
    FROM deg LEFT JOIN pernode ON pernode.n = deg.n
    """,
)
def q171_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    above-average-weight trade graph (undirected nation pairs; the
    above-MEAN filter is a ratio of exact integers, so the edge set is
    scale-invariant and engine-exact). Triangles enumerate once each via
    the ordered two-join (a<b<c) — the standard distributed formulation
    whose join volume is Σ deg², not 3^n; per-node counts and
    C(deg,2)-normalized coefficients follow from one union aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nat"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("c_nat"))
    e0 = (
        l.join(s.select("s_suppkey", "s_nationkey"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(F.col("s_nat") != F.col("c_nat"))
        .groupBy(
            F.least("s_nat", "c_nat").alias("a"),
            F.greatest("s_nat", "c_nat").alias("b"),
        )
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("w"))
    )
    stats = e0.agg(F.sum("w").alias("tw"), F.count(F.lit(1)).alias("ne"))
    edges = (
        e0.crossJoin(F.broadcast(stats))
        .filter(F.col("w") * F.col("ne") >= F.col("tw"))
        .select("a", "b")
        # localCheckpoint (not persist): ContextCleaner frees the blocks
        # when the result frame is GC'd; persist leaked per invocation
        .localCheckpoint(eager=False)
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.col("x").alias("n"))
        .unionByName(tri.select(F.col("y").alias("n")))
        .unionByName(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.join(pernode, "n", "left").select(
        F.col("n").alias("nation"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.col("d").cast("long").alias("degree"),
        F.when(
            F.col("d") >= 2,
            (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)))
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coef"),
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
    from zenodb_spark.operators.sketch import kmv_sketch

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


@query(
    "q173_share_of_parent",
    f"""
    WITH b AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum({C.format(x='o.o_totalprice')}) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           rev_c/100.0 AS revenue,
           CAST(rev_c AS DOUBLE)
             / CAST(sum(rev_c) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(sum(rev_c) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(sum(rev_c) OVER () AS DOUBLE)
             AS region_share_of_total
    FROM b
    """,
)
def q173_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy rollup (nation share of region, region
    share of total) — the drill-down ratio panel every OLAP UI wants. One
    fact aggregate; both shares are window sums OVER THE 25-ROW AGGREGATE,
    so the windows cost nothing at any fact scale. Ratios of exact cent
    integers."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nd = n.select(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation"),
                  F.col("n_regionkey").alias("rk"))
    rd = r.select(F.col("r_regionkey").alias("rk"), F.col("r_name").alias("region"))
    b = (
        o.join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nd), F.col("nk") == F.col("c_nationkey"))
        .join(F.broadcast(rd), "rk")
        .groupBy("region", "nation")
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    w_r = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return b.select(
        "region",
        "nation",
        (F.col("rev_c") / F.lit(100.0)).alias("revenue"),
        (F.col("rev_c").cast("double") / F.sum("rev_c").over(w_r).cast("double")).alias(
            "share_of_region"
        ),
        (
            F.sum("rev_c").over(w_r).cast("double")
            / F.sum("rev_c").over(w_all).cast("double")
        ).alias("region_share_of_total"),
    )


@query(
    "q174_customer_snapshot_diff",
    f"""
    WITH a AS (
      SELECT o_custkey, sum({C.format(x='o_totalprice')}) AS rev_c,
             count(*) AS n
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1
    ),
    b AS (
      SELECT o_custkey, sum({C.format(x='o_totalprice')}) AS rev_c,
             count(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate < TIMESTAMP '2001-01-01'
      GROUP BY 1
    ),
    j AS (
      SELECT coalesce(a.o_custkey, b.o_custkey) AS cust,
             a.rev_c AS rev_a, b.rev_c AS rev_b,
             CASE WHEN a.o_custkey IS NULL THEN 'new'
                  WHEN b.o_custkey IS NULL THEN 'churned'
                  ELSE 'active' END AS status
      FROM a FULL OUTER JOIN b ON b.o_custkey = a.o_custkey
    )
    SELECT status, count(*) AS n_customers,
           coalesce(sum(rev_a), 0)/100.0 AS revenue_before,
           coalesce(sum(rev_b), 0)/100.0 AS revenue_after
    FROM j GROUP BY 1
    """,
)
def q174_customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (SCD-style churn panel): customers present only
    before the cutoff are 'churned', only after are 'new', both sides
    'active', with exact cent revenue on each side. One full-outer join
    of two period aggregates on the customer key — both sides shrink to
    per-customer rows BEFORE the join, so the exchange is keyed on
    customers, not orders."""
    o = load_table(spark, sf_dir, "orders")
    cut = "1999-01-01"
    hi = "2001-01-01"
    a = (
        o.filter(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rev_a"))
        .withColumnRenamed("o_custkey", "ck_a")
    )
    b = (
        o.filter((F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < hi))
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rev_b"))
        .withColumnRenamed("o_custkey", "ck_b")
    )
    j = a.join(b, a["ck_a"] == b["ck_b"], "full_outer").select(
        F.when(F.col("ck_a").isNull(), "new")
        .when(F.col("ck_b").isNull(), "churned")
        .otherwise("active")
        .alias("status"),
        "rev_a",
        "rev_b",
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.coalesce(F.sum("rev_a"), F.lit(0)) / F.lit(100.0)).alias("revenue_before"),
        (F.coalesce(F.sum("rev_b"), F.lit(0)) / F.lit(100.0)).alias("revenue_after"),
    )


@query(
    "q175_embedding_drift",
    """
    WITH m AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
                       AS INTEGER) % 2 = 0 THEN 'A' ELSE 'B' END AS half,
             i AS dim,
             CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
    ),
    agg AS (
      SELECT half, dim, sum(q) AS sq, count(*) AS n FROM m GROUP BY 1, 2
    ),
    w AS (
      SELECT a.dim,
             CAST(a.sq AS DOUBLE) / a.n AS ma,
             CAST(b.sq AS DOUBLE) / b.n AS mb
      FROM agg a JOIN agg b ON b.dim = a.dim
      WHERE a.half = 'A' AND b.half = 'B'
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           ma / 1000000.0 AS mean_a,
           mb / 1000000.0 AS mean_b,
           (ma - mb) / 1000000.0 AS mean_shift
    FROM w
    """,
)
def q175_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift panel between two deterministic halves of the
    embedding corpus (md5-bucket split standing in for "last month vs
    this month"): per-dimension mean shift — the monitoring signal that
    catches encoder or upstream-data changes before they poison ANN
    indexes. Micro-quantized integer sums; one posexplode + one 128-group
    aggregate + a 64-row self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = F.when(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 2 == 0,
        "A",
    ).otherwise("B")
    m = emb.select(
        half.alias("half"), F.posexplode("embedding").alias("dim", "val")
    ).select(
        "half",
        "dim",
        F.floor(F.col("val").cast("double") * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    agg = m.groupBy("half", "dim").agg(
        F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    a = agg.filter(F.col("half") == "A").select(
        "dim", (F.col("sq").cast("double") / F.col("n")).alias("ma")
    )
    b = agg.filter(F.col("half") == "B").select(
        F.col("dim").alias("dim_b"), (F.col("sq").cast("double") / F.col("n")).alias("mb")
    )
    return a.join(b, a["dim"] == b["dim_b"]).select(
        F.col("dim").cast("long").alias("dim"),
        (F.col("ma") / F.lit(1e6)).alias("mean_a"),
        (F.col("mb") / F.lit(1e6)).alias("mean_b"),
        ((F.col("ma") - F.col("mb")) / F.lit(1e6)).alias("mean_shift"),
    )


@query(
    "q176_exact_quantile_grouped",
    """
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    nn AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
      FROM v
    )
    SELECT r.event_type, CAST(ceil(0.95 * nn.n) AS BIGINT) AS k,
           CAST(nn.n AS BIGINT) AS n, r.value
    FROM r JOIN nn ON nn.event_type = r.event_type
    WHERE r.rn = CAST(ceil(0.95 * nn.n) AS BIGINT)
    """,
)
def q176_exact_quantile_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group P95 (k-th smallest per event type) with no
    per-group sort and no driver collect: grouped bracket aggregate →
    bracket join-back → exact rank counts → row_number over each group's
    ~2n/accuracy bracketed slice (operators/percentile.
    exact_quantile_2pass_grouped). The oracle sorts every group fully;
    the two-pass form still works when each group holds 10^10 rows."""
    from zenodb_spark.operators.percentile import exact_quantile_2pass_grouped

    ev = load_table(spark, sf_dir, "events")
    return exact_quantile_2pass_grouped(ev, ["event_type"], "value", 0.95)


@query(
    "q177_ipf_balance",
    """
    WITH cells AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT sum(n) AS nn,
             count(DISTINCT source) AS ns,
             count(DISTINCT lang) AS nl
      FROM cells
    ),
    rows_ AS (SELECT source, sum(n) AS rn FROM cells GROUP BY 1),
    -- pass 1: scale each row to the uniform row target, quantized to
    -- integer micro-units so the cross-row column sums stay exact
    r1 AS (
      SELECT rows_.source,
             CAST(floor(CAST(tot.nn AS DOUBLE) / tot.ns
                        / CAST(rows_.rn AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS r_micro
      FROM rows_, tot
    ),
    cols AS (
      SELECT cells.lang, sum(cells.n * r1.r_micro) AS s_micro
      FROM cells JOIN r1 ON r1.source = cells.source
      GROUP BY 1
    ),
    f AS (
      SELECT cols.lang,
             CAST(tot.nn AS DOUBLE) / tot.nl * 1000000.0
               / CAST(cols.s_micro AS DOUBLE) AS fl
      FROM cols, tot
    )
    SELECT c.source, c.lang, CAST(c.n AS BIGINT) AS n_docs,
           CAST(r1.r_micro AS DOUBLE) / 1000000.0 * f.fl AS weight
    FROM cells c
    JOIN r1 ON r1.source = c.source
    JOIN f ON f.lang = c.lang
    """,
)
def q177_ipf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative-proportional-fitting (raking) balance weights: one
    row-pass + one column-pass rescales each (source, lang) cell so the
    weighted corpus approaches UNIFORM marginals over sources and langs —
    the standard way to hit a target data mixture without dropping
    documents. Row factors quantize to integer micro-units before the
    cross-row column sums (associative), and each output weight is the
    same two-factor IEEE product in both engines. Aggregate volume is
    |sources|×|langs| cells; the corpus is touched once."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("source").alias("ns"),
        F.countDistinct("lang").alias("nl"),
    )
    rows_ = cells.groupBy("source").agg(F.sum("n").alias("rn"))
    r1 = rows_.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(
            F.col("nn").cast("double")
            / F.col("ns")
            / F.col("rn").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("r_micro"),
    )
    cols = (
        cells.join(r1, "source")
        .groupBy("lang")
        .agg(F.sum(F.col("n") * F.col("r_micro")).alias("s_micro"))
    )
    fdf = cols.crossJoin(F.broadcast(tot)).select(
        "lang",
        (
            F.col("nn").cast("double") / F.col("nl") * F.lit(1000000.0)
            / F.col("s_micro").cast("double")
        ).alias("fl"),
    )
    return (
        cells.join(r1, "source")
        .join(F.broadcast(fdf), "lang")
        .select(
            "source",
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            (F.col("r_micro").cast("double") / F.lit(1000000.0) * F.col("fl")).alias(
                "weight"
            ),
        )
    )


@query(
    "q178_classifier_lift",
    f"""
    WITH t AS (
      SELECT doc_id, md5({NORM.format(x='text')}) AS fp,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), f AS (
      SELECT doc_id, fp,
             -1.5 + 3.0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                  - 0.2 * (CAST(n_chars AS DOUBLE) / len(toks))
                  - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
                  - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars) AS logit
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), d AS (
      SELECT fp, count(*) AS c FROM f GROUP BY 1
    ), s AS (
      SELECT f.doc_id, f.logit,
             CASE WHEN d.c >= 2 THEN 1 ELSE 0 END AS is_dup,
             ntile(10) OVER (ORDER BY f.logit DESC, f.doc_id) AS decile
      FROM f JOIN d ON d.fp = f.fp
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           count(*) AS n_docs,
           CAST(sum(is_dup) AS DOUBLE) / count(*) AS dup_rate,
           CAST(sum(CAST(floor(logit * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0 AS avg_logit
    FROM s GROUP BY 1
    """,
)
def q178_classifier_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift table for the q160 quality classifier: documents ranked into
    deciles by logit (deterministic ntile: logit + doc tiebreak), each
    decile scored against the exact-duplicate outcome — the standard
    check that a filter model actually orders the corpus by the thing it
    claims to predict. Per-doc logits micro-quantize before the decile
    average so the sums are exact; the dup label is one fingerprint
    aggregate."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fp"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias("n_sym"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    f = t.select("doc_id", "fp", logit.alias("logit"))
    d = f.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    s = f.join(d, "fp").select(
        "doc_id",
        "logit",
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("is_dup"),
        F.ntile(10).over(Window.orderBy(F.col("logit").desc(), "doc_id")).alias("decile"),
    )
    return s.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        (
            F.sum(F.floor(F.col("logit") * F.lit(1_000_000) + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("avg_logit"),
    )


@query(
    "q179_domain_cap",
    """
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(sum(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM r GROUP BY 1
    """,
)
def q179_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb "max docs per domain"
    retention rule): keep the top 15 docs per source by (n_chars desc,
    doc_id asc) — a deterministic integer ordering — and report the
    per-source retention panel.

    Scale shape: the kept side is a rank-<=15 window whose filter Spark
    rewrites to WindowGroupLimit — every input partition prunes to 15
    rows per source BEFORE the exchange, so a giant domain ships
    O(15 x partitions) rows, not its whole membership; totals are a
    separate two-phase hash aggregate (skew-safe by partial combine);
    the two tiny per-source frames join at the end. No full-group sort
    materializes anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("n_chars").alias("total_chars"),
    )
    return tot.join(kept, "source").select(
        "source",
        "n_total",
        "n_kept",
        (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
        "kept_chars",
        "total_chars",
    )


@query(
    "q180_contamination_frac",
    f"""
    WITH sh AS ({_SHINGLE5_SQL}),
    t AS (
      SELECT doc, shingle,
             CAST(('0x' || substr(md5(CAST(doc AS VARCHAR)), 1, 4)) AS INTEGER)
               % 50 = 0 AS bench
      FROM sh
    ),
    bs AS (SELECT DISTINCT shingle FROM t WHERE bench),
    ev AS (SELECT doc, shingle FROM t WHERE NOT bench)
    SELECT ev.doc,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN bs.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           sum(CASE WHEN bs.shingle IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS contam_frac
    FROM ev LEFT JOIN bs ON ev.shingle = bs.shingle
    GROUP BY 1
    """,
)
def q180_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL benchmark contamination (the GPT-3/PaLM report metric):
    for every candidate doc, the share of its distinct 5-gram shingles
    that appear anywhere in the held-out benchmark split (a deterministic
    2% md5 sample of docs). Complements q46/q61's boolean decontamination:
    this grades HOW contaminated each doc is, the number a filtering
    threshold is actually set on.

    Scale shape: shingle explode is linear; the benchmark shingle set is
    corpus-proportional so it rides a shuffle hash join on 8-byte-ish
    shingle keys (NOT a broadcast — at 100 TB the bench set alone exceeds
    executor memory). (A one-pass groupBy(shingle) + collect_list
    re-emission was measured 30% SLOWER at sf1.0 — the object-hash
    aggregate over the full posting set costs more than the hash join it
    saves; kept the join.)

    Round 6: hit and total counts fold into ONE left-join + ONE
    groupBy(doc) — mirroring the oracle's own formulation — instead of an
    inner-join branch plus a separate total branch re-joined on doc; the
    shingle rows feed both the benchmark set and the probe side, so they
    are checkpointed once (the before-plan scanned + exploded the corpus
    3×). Post-join partial aggregation keeps the doc-grain shuffle at
    partial-count size."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, "text", "doc_id", n=5)
    bench = (
        F.conv(F.substring(F.md5(F.col("doc").cast("string")), 1, 4), 16, 10)
        .cast("long") % 50 == 0
    )
    t = share(sh.withColumn("bench", bench))
    bs = t.filter("bench").select("shingle").distinct()
    ev = t.filter(~F.col("bench")).select("doc", "shingle")
    marked = ev.join(bs.withColumn("hitm", F.lit(1)), "shingle", "left")
    return (
        marked.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hitm").alias("n_hit"),
        )
        .select(
            "doc",
            "n_shingles",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_shingles")).alias(
                "contam_frac"
            ),
        )
    )


@query(
    "q181_shard_shuffle",
    """
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               AS hv,
             n_chars
      FROM documents
    )
    SELECT hv % 64 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(hv) AS min_h, max(hv) AS max_h
    FROM h GROUP BY 1
    """,
)
def q181_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle -> training-shard assignment: shard =
    md5(doc_id) % 64, the engine-independent permutation a dataset writer
    uses to break source/time ordering before sequence packing (the same
    md5-uniform primitive as q37/q58, applied to shard routing). The
    materializing writer is `repartition(64, shard)` +
    `sortWithinPartitions(hv)` + parquet write — one shuffle, no global
    sort; this query returns the verification panel (per-shard counts,
    char mass, hash-range endpoints) that pins the permutation itself.

    Balance check rides the oracle: 64 shards x exact counts — a skewed
    or engine-dependent hash would mismatch immediately."""
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        docs.select(hv.alias("hv"), "n_chars")
        .groupBy((F.col("hv") % 64).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("hv").alias("min_h"),
            F.max("hv").alias("max_h"),
        )
    )


@query(
    "q182_filter_funnel",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             md5({NORM.format(x='text')}) AS fp,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ),
    f AS (
      SELECT doc_id, fp, len(toks) AS n_tok,
             lang = 'en' AS p_lang,
             lang = 'en' AND len(toks) BETWEEN 20 AND 80 AS p_len,
             lang = 'en' AND len(toks) BETWEEN 20 AND 80
               AND -1.5 + 3.0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                   - 0.2 * (CAST(n_chars AS DOUBLE) / len(toks))
                   - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
                   - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars) > 0.0 AS p_qual
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ),
    d AS (
      SELECT f.*,
             p_qual AND doc_id = min(CASE WHEN p_qual THEN doc_id END)
                        OVER (PARTITION BY fp) AS p_dedup
      FROM f
    )
    SELECT * FROM (
      SELECT 'stage1_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d
      UNION ALL
      SELECT 'stage2_lang', CAST(sum(CASE WHEN p_lang THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p_lang THEN n_tok ELSE 0 END) AS BIGINT) FROM d
      UNION ALL
      SELECT 'stage3_length', CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p_len THEN n_tok ELSE 0 END) AS BIGINT) FROM d
      UNION ALL
      SELECT 'stage4_quality', CAST(sum(CASE WHEN p_qual THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p_qual THEN n_tok ELSE 0 END) AS BIGINT) FROM d
      UNION ALL
      SELECT 'stage5_dedup', CAST(sum(CASE WHEN p_dedup THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p_dedup THEN n_tok ELSE 0 END) AS BIGINT) FROM d
    )
    """,
)
def q182_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention funnel for a standard quality cascade — lang filter ->
    length filter -> linear quality classifier (q160's baked model) ->
    exact dedup (first survivor per fingerprint wins) — reporting docs
    and token mass surviving each stage. The panel every pipeline report
    leads with: where the corpus actually went.

    Scale shape (round-6 rewrite, guide §2.4): ONE narrow codegen scan
    computes every per-doc flag; the dedup winner is a min-window over
    the fingerprint partition — the oracle's own shape — so the whole
    funnel is one scan + ONE fingerprint shuffle + a single-row rollup
    at any corpus size. (The previous form aggregated winners in a
    separate branch and re-joined: two prune-divergent consumers of the
    flag frame, so the scan + tokenize pass and the fp exchange each ran
    TWICE — measured 2 scans / 3 exchanges vs 1 scan / 1 exchange now.)
    Fingerprint groups are duplicate clusters (tiny), so the window
    partition is skew-immune the same way dedup_apply's min-winner
    aggregate is."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        "doc_id",
        "lang",
        F.md5(normalize_text("text")).alias("fp"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias(
            "n_sym"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    f = t.select(
        "doc_id",
        "fp",
        "n_tok",
        (F.col("lang") == "en").alias("p_lang"),
        ((F.col("lang") == "en") & F.col("n_tok").between(20, 80)).alias("p_len"),
        (
            (F.col("lang") == "en")
            & F.col("n_tok").between(20, 80)
            & (logit > 0.0)
        ).alias("p_qual"),
    )
    # winner per fingerprint via a window, not a filtered aggregate
    # re-joined onto f: min(CASE WHEN p_qual THEN doc_id END) OVER
    # (PARTITION BY fp) is null exactly when the group has no qualifying
    # row, and p_qual AND (doc_id = null) is false under three-valued
    # logic — identical to the left-join-miss case of the old shape
    d = f.withColumn(
        "win_id",
        F.min(F.when(F.col("p_qual"), F.col("doc_id"))).over(
            Window.partitionBy("fp")
        ),
    ).withColumn(
        "p_dedup", F.col("p_qual") & (F.col("doc_id") == F.col("win_id"))
    )
    one = d.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("n_tok").alias("t1"),
        F.sum(F.when(F.col("p_lang"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("p_lang"), F.col("n_tok")).otherwise(0)).alias("t2"),
        F.sum(F.when(F.col("p_len"), 1).otherwise(0)).alias("n3"),
        F.sum(F.when(F.col("p_len"), F.col("n_tok")).otherwise(0)).alias("t3"),
        F.sum(F.when(F.col("p_qual"), 1).otherwise(0)).alias("n4"),
        F.sum(F.when(F.col("p_qual"), F.col("n_tok")).otherwise(0)).alias("t4"),
        F.sum(F.when(F.col("p_dedup"), 1).otherwise(0)).alias("n5"),
        F.sum(F.when(F.col("p_dedup"), F.col("n_tok")).otherwise(0)).alias("t5"),
    )
    return one.select(
        F.expr(
            "stack(5, 'stage1_all', n1, t1, 'stage2_lang', n2, t2, "
            "'stage3_length', n3, t3, 'stage4_quality', n4, t4, "
            "'stage5_dedup', n5, t5) AS (stage, n_docs, n_tokens)"
        )
    )


@query(
    "q183_heaps_growth",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
               % 10 AS bkt,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks
      FROM documents
      WHERE len({NORM.format(x='text')}) > 0
    ),
    t AS (SELECT doc_id, bkt, unnest(toks) AS tok FROM d),
    firstb AS (SELECT tok, min(bkt) AS fb FROM t GROUP BY tok),
    occ_b AS (SELECT bkt, count(*) AS n_occ FROM t GROUP BY bkt),
    docs_b AS (SELECT bkt, count(*) AS n_docs FROM d GROUP BY bkt),
    vnew AS (SELECT fb AS bkt, count(*) AS new_vocab FROM firstb GROUP BY fb)
    SELECT o.bkt AS bucket,
           CAST(sum(db.n_docs) OVER (ORDER BY o.bkt) AS BIGINT) AS docs_cum,
           CAST(sum(o.n_occ) OVER (ORDER BY o.bkt) AS BIGINT) AS tokens_cum,
           CAST(sum(coalesce(v.new_vocab, 0)) OVER (ORDER BY o.bkt) AS BIGINT)
             AS vocab_cum
    FROM occ_b o
    JOIN docs_b db ON o.bkt = db.bkt
    LEFT JOIN vnew v ON o.bkt = v.bkt
    """,
)
def q183_heaps_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth panel: cumulative distinct-vocabulary,
    token, and document counts over 10 deterministic md5 corpus slices —
    the curve that says whether a corpus keeps yielding new types as it
    grows (and the empirical check behind SCALE.md's note that the
    testdata's capped vocabulary saturates where real text would not).

    Scale shape: NO global ordering anywhere — the "growth axis" is the
    md5 bucket id, so first-appearance is a token-keyed min aggregate and
    the cumulative sums are a 10-row window. Two corpus-sized hash
    aggregates total; doc counts come from the un-exploded side."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    )
    # d feeds the doc-count branch and (via t) two token aggregates;
    # checkpoint the token arrays so the regex-normalize + split runs
    # once over the corpus instead of three times (round-6 measured plan;
    # size-gated round 7)
    d = share(
        docs.filter(F.length(normalize_text("text")) > 0).select(
            "doc_id", bkt.alias("bkt"), toks.alias("toks")
        )
    )
    t = d.select("doc_id", "bkt", F.explode("toks").alias("tok"))
    firstb = t.groupBy("tok").agg(F.min("bkt").alias("fb"))
    occ_b = t.groupBy("bkt").agg(F.count(F.lit(1)).alias("n_occ"))
    docs_b = d.groupBy("bkt").agg(F.count(F.lit(1)).alias("n_docs"))
    vnew = firstb.groupBy(F.col("fb").alias("bkt")).agg(
        F.count(F.lit(1)).alias("new_vocab")
    )
    w = Window.orderBy("bkt")
    return (
        occ_b.join(docs_b, "bkt")
        .join(vnew, "bkt", "left")
        .select(
            F.col("bkt").alias("bucket"),
            F.sum("n_docs").over(w).alias("docs_cum"),
            F.sum("n_occ").over(w).alias("tokens_cum"),
            F.sum(F.coalesce("new_vocab", F.lit(0))).over(w).alias("vocab_cum"),
        )
    )


@query(
    "q184_zipf_slope",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split({NORM.format(x='text')}, ' ')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT source, tok, count(*) AS c FROM toks WHERE len(tok) > 0
      GROUP BY 1, 2
    ),
    r AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rnk
      FROM freq
    ),
    q AS (
      SELECT source,
             CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      FROM r WHERE rnk <= 100
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_ranks,
           (CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
            / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE))
             AS zipf_slope
    FROM q GROUP BY 1
    """,
)
def q184_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope: least-squares fit of ln(frequency) on
    ln(rank) over each source's top-100 token ranks — the one-number
    summary of token-distribution shape used to spot templated/synthetic
    sources (natural text sits near −1; flat slopes flag boilerplate).

    Determinism: ranks order on exact integers (count desc, token asc);
    both ln() terms micro-quantize per (rank / count) BEFORE the sums, so
    the regression sums are exact integer arithmetic with one trailing
    IEEE division. Scale shape: the rank window partitions by source over
    the VOCABULARY-sized frequency frame (not the corpus), then a
    per-source 100-row aggregate."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select("source", F.explode(toks).alias("tok"))
    freq = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    r = freq.select("source", "c", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 100
    )
    micro = lambda col: F.floor(F.log(col.cast("double")) * F.lit(1_000_000) + F.lit(0.5)).cast("long")
    q = r.select("source", micro(F.col("rnk")).alias("x"), micro(F.col("c")).alias("y"))
    n = F.count(F.lit(1))
    return q.groupBy("source").agg(
        n.cast("long").alias("n_ranks"),
        (
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).cast("double")
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).cast("double")
        ).alias("zipf_slope"),
    )


@query(
    "q185_stratified_sample",
    """
    WITH r AS (
      SELECT source, lang, n_chars,
             row_number() OVER (
               PARTITION BY source, lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY source, lang) AS n_total
      FROM documents
    )
    SELECT source, lang,
           CAST(max(n_total) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= ceil(0.1 * n_total) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN rn <= ceil(0.1 * n_total) THEN n_chars ELSE 0 END)
                AS BIGINT) AS sampled_chars
    FROM r GROUP BY 1, 2
    """,
)
def q185_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified sampling: ceil(10%) of every (source, lang) stratum,
    chosen by md5 order — unlike Bernoulli `sampleBy` (and q37's hash
    buckets) the per-stratum count is exactly ⌈f·n⌉, and the md5 ordering
    makes the chosen subset engine- and run-independent. The panel reports
    per-stratum totals / sampled counts / sampled char mass.

    Scale shape: one shuffle on the stratum key serves both the rank and
    the stratum-size window (same partitioning, no second exchange); the
    variable per-stratum cutoff means no WindowGroupLimit rewrite — for
    constant-k caps q179 shows the map-side-pruned form. Strata are
    (source × lang) so a single stratum is ~1/|strata| of the corpus;
    under stratum skew the md5-rank window salts the same way q104's
    packing windows do (documented there)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wc = Window.partitionBy("source", "lang")
    r = docs.select(
        "source",
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_total"),
    )
    keep = F.col("rn") <= F.ceil(F.lit(0.1) * F.col("n_total"))
    return r.groupBy("source", "lang").agg(
        F.max("n_total").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("sampled_chars"),
    )


@query(
    "q186_incremental_dedup",
    f"""
    WITH d AS (
      SELECT doc_id,
             md5({NORM.format(x='text')}) AS fp,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
               % 5 = 0 AS incoming
      FROM documents
    ),
    store AS (SELECT DISTINCT fp FROM d WHERE NOT incoming),
    inc AS (
      SELECT i.doc_id, i.fp,
             s.fp IS NOT NULL AS dup_of_store,
             row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id) AS rn
      FROM (SELECT * FROM d WHERE incoming) i
      LEFT JOIN store s ON i.fp = s.fp
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_incoming,
      CAST(sum(CASE WHEN dup_of_store THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_of_store,
      CAST(sum(CASE WHEN NOT dup_of_store AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_in_batch,
      CAST(sum(CASE WHEN NOT dup_of_store AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_new
    FROM inc
    """,
)
def q186_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup — the shape every CONTINUOUSLY-growing
    corpus pipeline runs: an incoming batch (a 20% md5 split) is deduped
    against the already-ingested store's fingerprint set AND within
    itself, reporting new / dup-of-store / dup-within-batch counts.
    Complements q23/q40's whole-corpus dedup: at 100 TB you never re-scan
    the store's text — only its fingerprint column.

    Scale shape: the store side is a distinct over ONE md5 column (narrow
    scan — at scale this is the persisted fingerprint index, not the
    corpus); the batch joins it on fp (AQE-sided; the batch is the small
    side and broadcasts when it fits), in-batch dups are a fingerprint
    window over the batch only, and the report is a single-row aggregate."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fp"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 5 == 0
        ).alias("incoming"),
    )
    store = d.filter(~F.col("incoming")).select("fp").distinct()
    inc = (
        d.filter("incoming")
        .join(store.withColumnRenamed("fp", "sfp"), F.col("fp") == F.col("sfp"), "left")
        .select(
            "doc_id",
            "fp",
            F.col("sfp").isNotNull().alias("dup_of_store"),
            F.row_number()
            .over(Window.partitionBy("fp").orderBy("doc_id"))
            .alias("rn"),
        )
    )
    return inc.agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.when(F.col("dup_of_store"), 1).otherwise(0)).alias("n_dup_of_store"),
        F.sum(
            F.when(~F.col("dup_of_store") & (F.col("rn") > 1), 1).otherwise(0)
        ).alias("n_dup_in_batch"),
        F.sum(
            F.when(~F.col("dup_of_store") & (F.col("rn") == 1), 1).otherwise(0)
        ).alias("n_new"),
    )


def _rrf_oracle() -> str:
    n = NORM.format(x="text")
    return f"""
    WITH {_bm25_cte()},
    t3c AS (SELECT doc_id, string_split({n}, ' ') AS t FROM corpus),
    carr AS (
      SELECT doc_id AS doc,
             list_filter(list_distinct(
               [array_to_string(t[i+1:i+3], ' ')
                for i in range(greatest(len(t)-2, 1))]), x -> len(x) > 0) AS sh
      FROM t3c
    ),
    csh AS (SELECT doc, unnest(sh) AS shingle, len(sh) AS sz FROM carr
            WHERE len(sh) > 0),
    t3q AS (SELECT qid, string_split({n}, ' ') AS t FROM qs),
    qarr AS (
      SELECT qid,
             list_filter(list_distinct(
               [array_to_string(t[i+1:i+3], ' ')
                for i in range(greatest(len(t)-2, 1))]), x -> len(x) > 0) AS sh
      FROM t3q
    ),
    qsh AS (SELECT qid, unnest(sh) AS shingle, len(sh) AS sz FROM qarr
            WHERE len(sh) > 0),
    jp AS (
      SELECT q.qid, c.doc, count(*) AS inter,
             max(q.sz) AS szq, max(c.sz) AS szc
      FROM qsh q JOIN csh c USING (shingle)
      WHERE q.qid <> c.doc
      GROUP BY 1, 2
    ),
    jranked AS (
      SELECT qid, doc,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY CAST(inter AS DOUBLE) / (szq + szc - inter) DESC, doc)
               AS jrank
      FROM jp
    ),
    btop AS (SELECT qid, doc, rank AS brank FROM ranked
             WHERE rank <= 20 AND qid <> doc),
    jtop AS (SELECT qid, doc, jrank FROM jranked WHERE jrank <= 20),
    fused AS (
      SELECT coalesce(b.qid, j.qid) AS qid, coalesce(b.doc, j.doc) AS doc,
             coalesce(CAST(floor(1000000.0 / (60 + b.brank) + 0.5) AS BIGINT), 0)
           + coalesce(CAST(floor(1000000.0 / (60 + j.jrank) + 0.5) AS BIGINT), 0)
               AS rrf_micro,
             b.brank IS NOT NULL AS in_bm25, j.jrank IS NOT NULL AS in_jac
      FROM btop b FULL OUTER JOIN jtop j ON b.qid = j.qid AND b.doc = j.doc
    )
    SELECT qid, doc, rrf_micro, in_bm25, in_jac,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY rrf_micro DESC, doc) AS rank
          FROM fused)
    WHERE rank <= 10
    """


@query("q187_rrf_hybrid", _rrf_oracle())
def q187_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: BM25 top-20 and 3-gram
    Jaccard top-20 per query, fused with RRF(60) — the standard way to
    combine heterogeneous rankers without score calibration (Cormack et
    al., SIGIR'09). Self-hits are struck from both rankers.

    Determinism: each ranker ranks on exact integers / identical IEEE
    doubles with a doc tie-break; the fusion score is a sum of per-rank
    micro-quantized integers (ranks agree across engines, so the floors
    agree exactly). Scale shape: BM25 rides the q64 posting/dense regime
    planner; the Jaccard side is a query-vocab-bounded inverted-index
    join (shuffle volume = Σ qshingle·df); the fusion joins two ≤20-row-
    per-query rank lists — negligible. One full-outer join, no corpus
    self-join."""
    from zenodb_spark.operators.dedup import shingle_arrays
    from zenodb_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    qs = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), "text"
    )
    btop = (
        bm25_topk(corpus, qs, topk=20)
        .filter(F.col("qid") != F.col("doc"))
        .select("qid", "doc", F.col("rank").alias("brank"))
    )
    csh = shingle_arrays(corpus, "text", "doc_id", 3, fingerprint=True).select(
        "doc", F.explode("shingles").alias("shingle"), F.size("shingles").alias("szc")
    )
    qsh = shingle_arrays(qs, "text", "qid", 3, fingerprint=True).select(
        F.col("doc").alias("qid"),
        F.explode("shingles").alias("shingle"),
        F.size("shingles").alias("szq"),
    )
    jp = (
        qsh.join(csh, "shingle")
        .filter(F.col("qid") != F.col("doc"))
        .groupBy("qid", "doc")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("szq").alias("szq"),
            F.max("szc").alias("szc"),
        )
    )
    jw = Window.partitionBy("qid").orderBy(
        (F.col("inter").cast("double") / (F.col("szq") + F.col("szc") - F.col("inter"))).desc(),
        "doc",
    )
    jtop = (
        jp.select("qid", "doc", F.row_number().over(jw).alias("jrank"))
        .filter(F.col("jrank") <= 20)
    )
    rr = lambda r: F.floor(F.lit(1_000_000.0) / (F.lit(60) + r) + F.lit(0.5)).cast("long")
    fused = (
        btop.join(jtop, ["qid", "doc"], "full_outer")
        .select(
            "qid",
            "doc",
            (
                F.coalesce(rr(F.col("brank")), F.lit(0))
                + F.coalesce(rr(F.col("jrank")), F.lit(0))
            ).alias("rrf_micro"),
            F.col("brank").isNotNull().alias("in_bm25"),
            F.col("jrank").isNotNull().alias("in_jac"),
        )
    )
    fw = Window.partitionBy("qid").orderBy(F.col("rrf_micro").desc(), "doc")
    return (
        fused.withColumn("rank", F.row_number().over(fw))
        .filter(F.col("rank") <= 10)
        .select("qid", "doc", "rrf_micro", "in_bm25", "in_jac", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Corpus-curation panels (round-4 continuation): rule filters, dedup
# diagnostics, index tuning, distribution tests
# ---------------------------------------------------------------------------

_NT = NORM.format(x="text")


@query(
    "q188_gopher_rules",
    f"""
    WITH f AS (
      SELECT source,
             len(string_split({_NT}, ' ')) AS n,
             len(list_distinct(string_split({_NT}, ' '))) AS nu,
             length(replace({_NT}, ' ', '')) AS chars,
             len(list_filter(string_split({_NT}, ' '),
                 t -> t = 'the' OR t = 'and' OR t = 'of' OR t = 'to' OR t = 'a')) AS stop_cnt
      FROM documents
    ), flags AS (
      SELECT source, u.rule AS rule, u.fail AS fail FROM (
        SELECT source, unnest([
          {{'rule': 'too_short',     'fail': n < 30}},
          {{'rule': 'too_long',      'fail': n > 90}},
          {{'rule': 'mean_word_len', 'fail': chars * 10 < 38 * n OR chars * 10 > 45 * n}},
          {{'rule': 'low_stopword',  'fail': stop_cnt < 2}},
          {{'rule': 'low_diversity', 'fail': 5 * nu < 2 * n}}
        ]) AS u FROM f
      )
    )
    SELECT source, rule,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
           sum(CASE WHEN fail THEN 1 ELSE 0 END) / count(*) AS frac_fail
    FROM flags GROUP BY 1, 2
    """,
)
def q188_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule panel (Rae et al. 2021 §A1 adapted to this
    corpus's word-salad text): per (source, rule), how many documents each
    retention rule would reject. Rules are pure integer predicates (word
    count bounds, mean word length via chars*10 vs bounds*n cross-multiply,
    stopword floor, type-token-ratio floor) so both engines agree exactly.

    Scale shape: ONE codegen scan computes every flag in-row, a 5-element
    struct explode stacks the panel (5 rows/doc, no joins), one hash
    aggregate — the same single-pass shape as q182's funnel."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    norm = normalize_text("text")
    toks = F.split(norm, " ")
    stopc = F.size(
        F.filter(
            toks,
            lambda t: (t == "the") | (t == "and") | (t == "of") | (t == "to") | (t == "a"),
        )
    )
    base = docs.select(
        "source",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nu"),
        F.length(F.replace(norm, F.lit(" "), F.lit(""))).alias("chars"),
        stopc.alias("stop_cnt"),
    )
    rules = F.array(
        F.struct(F.lit("too_short").alias("rule"), (F.col("n") < 30).alias("fail")),
        F.struct(F.lit("too_long").alias("rule"), (F.col("n") > 90).alias("fail")),
        F.struct(
            F.lit("mean_word_len").alias("rule"),
            (
                (F.col("chars") * 10 < 38 * F.col("n"))
                | (F.col("chars") * 10 > 45 * F.col("n"))
            ).alias("fail"),
        ),
        F.struct(F.lit("low_stopword").alias("rule"), (F.col("stop_cnt") < 2).alias("fail")),
        F.struct(
            F.lit("low_diversity").alias("rule"),
            (5 * F.col("nu") < 2 * F.col("n")).alias("fail"),
        ),
    )
    flags = base.select("source", F.explode(rules).alias("r")).select(
        "source", F.col("r.rule").alias("rule"), F.col("r.fail").alias("fail")
    )
    return (
        flags.groupBy("source", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("fail"), 1).otherwise(0)).alias("n_fail"),
        )
        .withColumn("frac_fail", F.col("n_fail") / F.col("n_docs"))
    )


@query(
    "q189_cluster_size_dist",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
    ),
    labs AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY 1),
    pc AS (SELECT cluster_id, count(*) AS sz FROM labs GROUP BY 1),
    hist AS (
      SELECT CAST(sz AS BIGINT) AS cluster_size,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(sz) AS BIGINT) AS n_docs
      FROM pc GROUP BY 1
    )
    SELECT * FROM hist
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id NOT IN (SELECT doc FROM labs)
    """,
)
def q189_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the curation dashboard's
    "how duplicated is this corpus" histogram (cluster_size → number of
    clusters, documents covered), singletons included as size 1. The
    interesting read-outs: mass in big clusters = boilerplate/mirror
    candidates; singleton fraction = effective corpus size after dedup.

    Scale shape: rides q47's auto-planned lossless join edges + O(log n)
    large-star/small-star components; the histogram itself is two hash
    aggregates over (docs-in-pairs) rows, and the singleton row is one
    broadcast-able anti-join count. Oracle recomputes components with a
    recursive reachability CTE."""
    docs = load_table(spark, sf_dir, "documents")
    cl = dedup.dedup_clusters(docs, "text", "doc_id", n=3, threshold=0.2)
    per_cluster = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    hist = per_cluster.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum("sz").cast("long").alias("n_docs")
    )
    singles = (
        docs.join(cl.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    return hist.unionByName(singles)


def _lsh_band_oracle(num_hashes: int = 16, configs=((16, 1), (8, 2), (4, 4))) -> str:
    mins = ", ".join(
        f"min(md5(concat('{i}|', shingle))) AS h{i}" for i in range(num_hashes)
    )
    structs = []
    for bands, r in configs:
        for b in range(bands):
            hs = ", ".join(f"h{b * r + i}" for i in range(r))
            structs.append(
                f"{{'bands': {bands}, 'bucket': concat_ws('|', '{b}', {hs})}}"
            )
    arr = "[" + ", ".join(structs) + "]"
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc, {mins} FROM sh GROUP BY doc),
    buckets AS (
      SELECT doc, u.bands AS bands, u.bucket AS bucket FROM (
        SELECT doc, unnest({arr}) AS u FROM sig
      )
    ),
    cands AS (
      SELECT DISTINCT a.bands AS bands, a.doc AS doc_a, b.doc AS doc_b
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.bands = b.bands AND a.doc < b.doc
    ),
    lists AS (SELECT doc, list(shingle) AS ls, count(*) AS sz FROM sh GROUP BY doc),
    ver AS (
      SELECT c.bands, count(*) AS n_verified
      FROM cands c JOIN lists la ON la.doc = c.doc_a JOIN lists lb ON lb.doc = c.doc_b
      WHERE len(list_intersect(la.ls, lb.ls))
            / (la.sz + lb.sz - len(list_intersect(la.ls, lb.ls))) >= 0.5
      GROUP BY 1
    ),
    cc AS (SELECT bands, count(*) AS n_candidates FROM cands GROUP BY 1)
    SELECT CAST(cc.bands AS BIGINT) AS bands,
           CAST(cc.n_candidates AS BIGINT) AS n_candidates,
           CAST(coalesce(ver.n_verified, 0) AS BIGINT) AS n_verified,
           coalesce(ver.n_verified, 0) / cc.n_candidates AS precision_at_band
    FROM cc LEFT JOIN ver USING (bands)
    """


@query("q190_lsh_band_panel", _lsh_band_oracle())
def q190_lsh_band_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning panel: for banding configs (16×1, 8×2, 4×4) over the
    SAME 16 MinHash functions, the candidate-pair volume and how many
    candidates verify at Jaccard ≥ 0.5 — the s-curve trade every LSH
    deployment tunes (more rows/band = fewer, higher-precision candidates).
    MinHashes are deterministic (lexicographic min of md5('{i}|'+shingle)),
    so the panel is an exact oracle-checked outcome, not a probability.

    Scale shape: signatures are ONE groupBy over exploded shingles (16 min
    aggregates); each config's buckets explode from the signature row
    (28 rows/doc total); candidates come from per-bucket self-joins whose
    hot buckets are bounded (equal bands ⇒ near-identical docs); exact
    verification joins candidate pairs to the persisted per-doc shingle
    arrays — the q25 verify shape, never an all-pairs pass."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    arrays = dedup.shingle_arrays(docs, "text", "doc_id", 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = arrays.select("doc", F.explode("shingles").alias("shingle"))
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    band_structs = []
    for bands, r in ((16, 1), (8, 2), (4, 4)):
        for b in range(bands):
            cols = [F.col(f"h{b * r + i}") for i in range(r)]
            band_structs.append(
                F.struct(
                    F.lit(bands).cast("long").alias("bands"),
                    F.concat_ws("|", F.lit(str(b)), *cols).alias("bucket"),
                )
            )
    buckets = sig.select("doc", F.explode(F.array(*band_structs)).alias("u")).select(
        "doc", F.col("u.bands").alias("bands"), F.col("u.bucket").alias("bucket")
    )
    cands = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["bands", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select("bands", F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sets_a = arrays.select(
        F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"), F.size("shingles").alias("sz_a")
    )
    sets_b = arrays.select(
        F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"), F.size("shingles").alias("sz_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ver = (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter))
        .filter(F.col("jaccard") >= 0.5)
        .groupBy("bands")
        .agg(F.count(F.lit(1)).alias("n_verified"))
    )
    cc = cands.groupBy("bands").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        cc.join(ver, "bands", "left")
        .select(
            "bands",
            "n_candidates",
            F.coalesce(F.col("n_verified"), F.lit(0)).cast("long").alias("n_verified"),
            (
                F.coalesce(F.col("n_verified"), F.lit(0)) / F.col("n_candidates")
            ).alias("precision_at_band"),
        )
    )


@query(
    "q191_dedup_survivorship",
    f"""
    WITH d AS (
      SELECT source, doc_id,
             len(string_split({_NT}, ' ')) AS n,
             len(list_distinct(string_split({_NT}, ' '))) AS nu,
             min(doc_id) OVER (PARTITION BY md5({_NT})) AS keeper
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(n) AS BIGINT) AS sum_words,
           CAST(sum(CASE WHEN doc_id = keeper THEN n ELSE 0 END) AS BIGINT) AS sum_words_kept,
           sum(nu) / sum(n) AS uniq_frac_all,
           CASE WHEN sum(CASE WHEN doc_id = keeper THEN n ELSE 0 END) = 0 THEN 0.0
                ELSE sum(CASE WHEN doc_id = keeper THEN nu ELSE 0 END)
                     / sum(CASE WHEN doc_id = keeper THEN n ELSE 0 END) END AS uniq_frac_kept
    FROM d GROUP BY 1
    """,
)
def q191_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship panel: per source, document/token mass before vs
    after global exact dedup (keep-first by doc id over the normalized-text
    fingerprint) plus the lexical-diversity shift — the before/after table a
    curation report leads with, and the check that dedup didn't silently
    fall hardest on one feed.

    Scale shape: one md5-keyed window (the exact-dedup shuffle, same as
    q23) then one per-source hash aggregate; zero joins. The keeper rule is
    cross-source (a doc duplicated across feeds survives only where it
    first appeared), which is why n_kept can legitimately hit 0 for a feed
    — the guarded ratio keeps that case exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    norm = normalize_text("text")
    toks = F.split(norm, " ")
    w = Window.partitionBy(F.md5(norm))
    d = docs.select(
        "source",
        "doc_id",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nu"),
        F.min("doc_id").over(w).alias("keeper"),
    )
    kept = F.col("doc_id") == F.col("keeper")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum("n").cast("long").alias("sum_words"),
        F.sum(F.when(kept, F.col("n")).otherwise(0)).cast("long").alias("sum_words_kept"),
        F.sum("nu").alias("_sum_nu"),
        F.sum(F.when(kept, F.col("nu")).otherwise(0)).alias("_sum_nu_kept"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_kept",
        "sum_words",
        "sum_words_kept",
        (F.col("_sum_nu") / F.col("sum_words")).alias("uniq_frac_all"),
        F.when(F.col("sum_words_kept") == 0, F.lit(0.0))
        .otherwise(F.col("_sum_nu_kept") / F.col("sum_words_kept"))
        .alias("uniq_frac_kept"),
    )


@query(
    "q192_length_ks",
    f"""
    WITH d AS (SELECT source, len(string_split({_NT}, ' ')) AS l FROM documents),
    c1 AS (SELECT source, l, count(*) AS c FROM d GROUP BY 1, 2),
    lens AS (SELECT DISTINCT l FROM d),
    srcs AS (SELECT source, count(*) AS n1 FROM d GROUP BY 1),
    tot AS (SELECT l, count(*) AS ct FROM d GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM d),
    grid AS (SELECT s.source, s.n1, le.l FROM srcs s CROSS JOIN lens le),
    j AS (
      SELECT g.source, g.n1, g.l, coalesce(c1.c, 0) AS c, t.ct
      FROM grid g
      LEFT JOIN c1 ON c1.source = g.source AND c1.l = g.l
      JOIN tot t ON t.l = g.l
    ),
    cums AS (
      SELECT source, n1, l,
             sum(c) OVER (PARTITION BY source ORDER BY l) AS cum1,
             sum(ct) OVER (PARTITION BY source ORDER BY l) AS cumt
      FROM j
    ),
    ksx AS (
      SELECT source,
             max(abs(cum1 * ((SELECT nn FROM n) - n1) - (cumt - cum1) * n1)) AS dint,
             max(n1) AS n1
      FROM cums GROUP BY source
    )
    SELECT source, CAST(n1 AS BIGINT) AS n_docs,
           CASE WHEN (SELECT nn FROM n) > n1
                THEN dint / (n1 * ((SELECT nn FROM n) - n1)) END AS ks
    FROM ksx
    """,
)
def q192_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample Kolmogorov–Smirnov statistic of the document
    word-length distribution vs the REST of the corpus — the drift test
    that flags a feed whose length profile diverges (truncation bugs,
    boilerplate floods) before it skews training. Exact, not asymptotic:
    D = max_x |F_src(x) − F_rest(x)| computed as integer cross-products
    max |cum1·n2 − cum2·n1| with ONE trailing division, so both engines
    emit the identical double.

    Scale shape: lengths live in a bounded value domain, so the CDF grid is
    (sources × distinct lengths) — a broadcast cross of two tiny aggregates,
    NOT a corpus-sized structure; cumulative sums are per-source windows
    over that grid. Overflow-safe to ~3e9 docs (cum·n ≤ N² < 2⁶³)."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.stats import ks_distance_by_group

    d = docs.select(
        "source", F.size(F.split(normalize_text("text"), " ")).alias("l")
    )
    return ks_distance_by_group(d, "source", "l")


@query(
    "q193_vocab_coverage",
    f"""
    WITH t AS (
      SELECT lang, unnest(string_split({_NT}, ' ')) AS tok FROM documents
    ), cnt AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
    ranked AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rnk
      FROM cnt
    ),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS total_tokens FROM cnt GROUP BY 1),
    st AS (
      SELECT lang, k, CAST(sum(c) AS BIGINT) AS covered_tokens
      FROM ranked, unnest([1, 5, 25]) AS u(k) WHERE rnk <= k GROUP BY 1, 2
    )
    SELECT st.lang, CAST(k AS BIGINT) AS k, covered_tokens, total_tokens,
           covered_tokens / total_tokens AS coverage
    FROM st JOIN tot USING (lang)
    """,
)
def q193_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary tail-mass panel: per language, the fraction of total
    token mass covered by the top-1 / top-5 / top-25 most frequent tokens
    (count-desc, token tie-break) — the coverage curve that sizes a BPE
    vocabulary and exposes low-diversity feeds (high head mass ⇒
    templated text).

    Scale shape: one (lang, token) hash aggregate over exploded tokens;
    ranking windows run over the VOCABULARY-sized frame (like q184's Zipf
    slope), never the corpus; the k-explode fans out vocab rows only.
    Integer token masses, one trailing division."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    t = docs.select(
        "lang", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    )
    cnt = t.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "tok")
    ranked = cnt.select("lang", "c", F.row_number().over(w).alias("rnk"))
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("total_tokens"))
    st = (
        ranked.select(
            "lang",
            "c",
            "rnk",
            F.explode(F.array(F.lit(1), F.lit(5), F.lit(25))).alias("k"),
        )
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("lang", "k")
        .agg(F.sum("c").cast("long").alias("covered_tokens"))
    )
    return st.join(tot, "lang").select(
        "lang",
        F.col("k").cast("long").alias("k"),
        "covered_tokens",
        "total_tokens",
        (F.col("covered_tokens") / F.col("total_tokens")).alias("coverage"),
    )


@query(
    "q194_crosslang_leakage",
    f"""
    WITH sh AS (
      SELECT DISTINCT lang, shingle FROM (
        SELECT lang, unnest(list_distinct(
          [array_to_string(t[i+1:i+3], ' ') for i in range(greatest(len(t)-2, 1))]
        )) AS shingle
        FROM (SELECT lang, string_split({_NT}, ' ') AS t FROM documents)
      ) WHERE len(shingle) > 0
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang < b.lang
    GROUP BY 1, 2
    """,
)
def q194_crosslang_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual contamination matrix: distinct 3-gram shingles shared
    between each language pair — the signal that a "monolingual" slice is
    leaking another language's text (mislabeled langid, code-switching,
    boilerplate). Companion to q73's source×source paragraph matrix at the
    finer shingle grain.

    Scale shape: ONE aggregate collects each shingle's language SET (set
    size bounded by #languages, not corpus size), pairs explode from that
    tiny per-shingle array — never a self-join of the posting table (the
    oracle does the quadratic self-join; the Spark side is the linear
    set-based form)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        dedup.shingle_arrays(docs, "text", "lang", 3)
        .select(F.col("doc").alias("lang"), F.explode("shingles").alias("shingle"))
        .distinct()
    )
    sets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("lang")).alias("langs")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "langs",
                    lambda x, i: F.transform(
                        F.slice(F.col("langs"), i + 2, F.size("langs")),
                        lambda y: F.struct(x.alias("lang_a"), y.alias("lang_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.lang_a", "p.lang_b")
    return pairs.groupBy("lang_a", "lang_b").agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )


def _minhash_calib_oracle(num_hashes: int = 16) -> str:
    mins = ", ".join(
        f"min(md5(concat('{i}|', shingle))) AS h{i}" for i in range(num_hashes)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.5
    ),
    sig AS (SELECT doc, {mins} FROM sh GROUP BY doc)
    SELECT doc_a, doc_b, jaccard,
           CAST({matches} AS BIGINT) AS n_match,
           CAST({matches} AS BIGINT) / {num_hashes} AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc = doc_a
    JOIN sig sb ON sb.doc = doc_b
    """


@query("q195_minhash_calibration", _minhash_calib_oracle())
def q195_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every true near-dup pair
    (Jaccard ≥ 0.5), the exact Jaccard next to the 16-hash MinHash estimate
    (matching-signature fraction) — the sketch-quality audit that tells you
    whether 16 hashes suffice before you trust banding thresholds at scale.
    Deterministic hash family (min of md5('{{i}}|'+shingle)) makes the
    estimate an exact oracle-checked value, not a sample.

    Scale shape: pairs ride the lossless LSH path (q25); signatures are one
    groupBy with 16 min aggregates; the estimate joins two vocabulary-thin
    signature rows per pair — output-sized work after the pair join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, num_hashes=16, bands=8
    )
    sh = dedup.shingles(docs, "text", "doc_id", 3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    sa = sig.select(
        F.col("doc").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)]
    )
    sb = sig.select(
        F.col("doc").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)]
    )
    n_match = sum(
        [
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(1, 16)
        ],
        start=F.when(F.col("a0") == F.col("b0"), 1).otherwise(0),
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_match.cast("long").alias("n_match"),
            (n_match.cast("long") / F.lit(16)).alias("est_jaccard"),
        )
    )


@query(
    "q196_source_lang_chi2",
    """
    WITH o AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
    r AS (SELECT source, sum(o) AS r FROM o GROUP BY 1),
    c AS (SELECT lang, sum(o) AS c FROM o GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM o),
    grid AS (SELECT r.source, r.r, c.lang, c.c FROM r CROSS JOIN c),
    cells AS (
      SELECT g.source, g.lang,
             CAST(floor(
               (CAST(coalesce(o.o, 0) * (SELECT n FROM n) - g.r * g.c AS DOUBLE)
                * CAST(coalesce(o.o, 0) * (SELECT n FROM n) - g.r * g.c AS DOUBLE))
               / (CAST((SELECT n FROM n) AS DOUBLE) * CAST(g.r AS DOUBLE) * CAST(g.c AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM grid g LEFT JOIN o ON o.source = g.source AND o.lang = g.lang
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_cells,
           sum(term_micro) / 1000000.0 AS chi2_contrib
    FROM cells GROUP BY 1
    """,
)
def q196_source_lang_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence panel for the source × lang
    contingency table (zero cells included via the full grid): per source,
    its contribution Σ_lang (O−E)²/E — the mixture-QA test that flags a
    feed whose language mix diverges from the corpus marginals (cf. q177's
    IPF, which FIXES marginals; this DETECTS the divergence).

    Determinism: each cell term is computed as ((O·N − R·C)ᵈ)²/(N·R·C)ᵈ —
    exact integers into a fixed IEEE sequence — then micro-quantized per
    cell before the per-source integer sum (the ln() policy). Overflow-safe
    to ~3e9 docs (O·N, R·C < 2⁶³). Scale shape: three tiny aggregates and a
    broadcast grid; nothing corpus-sized past the first count."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.stats import chi2_contingency

    return chi2_contingency(docs, "source", "lang")


@query(
    "q197_hapax_rate",
    f"""
    WITH t AS (
      SELECT source, unnest(string_split({_NT}, ' ')) AS tok FROM documents
    ), cnt AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*) AS hapax_rate
    FROM cnt GROUP BY 1
    """,
)
def q197_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomenon rate per source: the share of each feed's vocabulary
    occurring exactly once — the classic lexical-richness signal (low rate
    = templated/repetitive feed; used next to q183's Heaps curve when
    sizing tokenizers). One (source, token) hash aggregate, one per-source
    rollup; integer ratio."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    t = docs.select(
        "source", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    )
    cnt = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("hapax_rate"),
    )


@query(
    "q198_opening_templates",
    f"""
    WITH t AS (
      SELECT array_to_string(string_split({_NT}, ' ')[1:3], ' ') AS opener
      FROM documents
    ),
    cnt AS (SELECT opener, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY 1),
    rk AS (
      SELECT opener, n_docs,
             row_number() OVER (ORDER BY n_docs DESC, opener) AS rank
      FROM cnt
    )
    SELECT opener, n_docs, CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= 10
    """,
)
def q198_opening_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 document openers (first 3 normalized words): the template /
    boilerplate-prefix detector — crawled corpora show cookie banners and
    nav headers here long before full-document dedup notices them.
    Companion to q147's paragraph-level boilerplate at the doc-head grain.

    Scale shape: one in-row slice (no explode), one hash aggregate over
    openers (vocabulary-bounded), and a top-k window on the aggregate —
    map-side WindowGroupLimit prunes before the single-partition final
    rank, which sees only per-partition top-10s."""
    docs = load_table(spark, sf_dir, "documents")
    from zenodb_spark.operators.dedup import normalize_text

    opener = F.array_join(F.slice(F.split(normalize_text("text"), " "), 1, 3), " ")
    cnt = docs.select(opener.alias("opener")).groupBy("opener").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.orderBy(F.col("n_docs").desc(), "opener")
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("opener", "n_docs", F.col("rank").cast("long").alias("rank"))
    )


@query(
    "q199_data_profile",
    """
    WITH s AS (
      SELECT
        count(*) AS n_rows,
        count(*) - count(o_orderkey) AS nn_okey, count(DISTINCT o_orderkey) AS nd_okey,
        CAST(min(o_orderkey) AS DOUBLE) AS mn_okey, CAST(max(o_orderkey) AS DOUBLE) AS mx_okey,
        count(*) - count(o_custkey) AS nn_ckey, count(DISTINCT o_custkey) AS nd_ckey,
        CAST(min(o_custkey) AS DOUBLE) AS mn_ckey, CAST(max(o_custkey) AS DOUBLE) AS mx_ckey,
        count(*) - count(o_totalprice) AS nn_tp, count(DISTINCT o_totalprice) AS nd_tp,
        min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp,
        count(*) - count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS nd_st,
        min(o_orderstatus) AS mn_st, max(o_orderstatus) AS mx_st,
        count(*) - count(o_orderpriority) AS nn_pr, count(DISTINCT o_orderpriority) AS nd_pr,
        min(o_orderpriority) AS mn_pr, max(o_orderpriority) AS mx_pr,
        count(*) - count(o_orderdate) AS nn_dt, count(DISTINCT o_orderdate) AS nd_dt,
        strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn_dt,
        strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx_dt
      FROM orders
    )
    SELECT u.col AS column, n_rows,
           u.n_null AS n_null, u.n_distinct AS n_distinct,
           u.min_num AS min_num, u.max_num AS max_num,
           u.min_str AS min_str, u.max_str AS max_str
    FROM (
      SELECT n_rows, unnest([
        {'col': 'o_orderkey',      'n_null': nn_okey, 'n_distinct': nd_okey, 'min_num': mn_okey, 'max_num': mx_okey, 'min_str': CAST(NULL AS VARCHAR), 'max_str': CAST(NULL AS VARCHAR)},
        {'col': 'o_custkey',       'n_null': nn_ckey, 'n_distinct': nd_ckey, 'min_num': mn_ckey, 'max_num': mx_ckey, 'min_str': CAST(NULL AS VARCHAR), 'max_str': CAST(NULL AS VARCHAR)},
        {'col': 'o_totalprice',    'n_null': nn_tp,   'n_distinct': nd_tp,   'min_num': mn_tp,   'max_num': mx_tp,   'min_str': CAST(NULL AS VARCHAR), 'max_str': CAST(NULL AS VARCHAR)},
        {'col': 'o_orderstatus',   'n_null': nn_st,   'n_distinct': nd_st,   'min_num': CAST(NULL AS DOUBLE), 'max_num': CAST(NULL AS DOUBLE), 'min_str': mn_st, 'max_str': mx_st},
        {'col': 'o_orderpriority', 'n_null': nn_pr,   'n_distinct': nd_pr,   'min_num': CAST(NULL AS DOUBLE), 'max_num': CAST(NULL AS DOUBLE), 'min_str': mn_pr, 'max_str': mx_pr},
        {'col': 'o_orderdate',     'n_null': nn_dt,   'n_distinct': nd_dt,   'min_num': CAST(NULL AS DOUBLE), 'max_num': CAST(NULL AS DOUBLE), 'min_str': mn_dt, 'max_str': mx_dt}
      ]) AS u FROM s
    )
    """,
)
def q199_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column-profile panel over `orders`: per column, row
    count, nulls, exact distinct count, and typed min/max (numeric columns
    in min_num/max_num, strings in min_str/max_str, timestamps formatted
    explicitly so both engines render identically) — the data-quality
    profile a pipeline runs before trusting a new drop.

    Scale shape: ONE aggregate computes every statistic (Spark plans the
    multi-count-distinct via a single expand — no per-column jobs), then a
    6-element struct explode stacks the panel; nothing is re-scanned."""
    orders = load_table(spark, sf_dir, "orders")
    fmt = "yyyy-MM-dd HH:mm:ss"
    s = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("nn_okey"),
        F.count_distinct("o_orderkey").alias("nd_okey"),
        F.min("o_orderkey").cast("double").alias("mn_okey"),
        F.max("o_orderkey").cast("double").alias("mx_okey"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nn_ckey"),
        F.count_distinct("o_custkey").alias("nd_ckey"),
        F.min("o_custkey").cast("double").alias("mn_ckey"),
        F.max("o_custkey").cast("double").alias("mx_ckey"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("nn_tp"),
        F.count_distinct("o_totalprice").alias("nd_tp"),
        F.min("o_totalprice").alias("mn_tp"),
        F.max("o_totalprice").alias("mx_tp"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("nn_st"),
        F.count_distinct("o_orderstatus").alias("nd_st"),
        F.min("o_orderstatus").alias("mn_st"),
        F.max("o_orderstatus").alias("mx_st"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("nn_pr"),
        F.count_distinct("o_orderpriority").alias("nd_pr"),
        F.min("o_orderpriority").alias("mn_pr"),
        F.max("o_orderpriority").alias("mx_pr"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("nn_dt"),
        F.count_distinct("o_orderdate").alias("nd_dt"),
        F.date_format(F.min("o_orderdate"), fmt).alias("mn_dt"),
        F.date_format(F.max("o_orderdate"), fmt).alias("mx_dt"),
    )
    nulld = F.lit(None).cast("double")
    nulls = F.lit(None).cast("string")

    def num(col, nn, nd, mn, mx):
        return F.struct(
            F.lit(col).alias("col"), F.col(nn).alias("n_null"),
            F.col(nd).alias("n_distinct"), F.col(mn).alias("min_num"),
            F.col(mx).alias("max_num"), nulls.alias("min_str"),
            nulls.alias("max_str"),
        )

    def strc(col, nn, nd, mn, mx):
        return F.struct(
            F.lit(col).alias("col"), F.col(nn).alias("n_null"),
            F.col(nd).alias("n_distinct"), nulld.alias("min_num"),
            nulld.alias("max_num"), F.col(mn).alias("min_str"),
            F.col(mx).alias("max_str"),
        )

    panel = F.array(
        num("o_orderkey", "nn_okey", "nd_okey", "mn_okey", "mx_okey"),
        num("o_custkey", "nn_ckey", "nd_ckey", "mn_ckey", "mx_ckey"),
        num("o_totalprice", "nn_tp", "nd_tp", "mn_tp", "mx_tp"),
        strc("o_orderstatus", "nn_st", "nd_st", "mn_st", "mx_st"),
        strc("o_orderpriority", "nn_pr", "nd_pr", "mn_pr", "mx_pr"),
        strc("o_orderdate", "nn_dt", "nd_dt", "mn_dt", "mx_dt"),
    )
    return s.select("n_rows", F.explode(panel).alias("u")).select(
        F.col("u.col").alias("column"),
        "n_rows",
        F.col("u.n_null").alias("n_null"),
        F.col("u.n_distinct").alias("n_distinct"),
        F.col("u.min_num").alias("min_num"),
        F.col("u.max_num").alias("max_num"),
        F.col("u.min_str").alias("min_str"),
        F.col("u.max_str").alias("max_str"),
    )


@query(
    "q200_fk_integrity",
    """
    WITH
    e1 AS (
      SELECT 'lineitem->orders' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT o_orderkey AS k FROM orders) p ON ck.k = p.k
    ),
    e2 AS (
      SELECT 'lineitem->part' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT p_partkey AS k FROM part) p ON ck.k = p.k
    ),
    e3 AS (
      SELECT 'lineitem->supplier' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT s_suppkey AS k FROM supplier) p ON ck.k = p.k
    ),
    e4 AS (
      SELECT 'orders->customer' AS relation, ck.n, p.k AS pk FROM
        (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) ck
        FULL OUTER JOIN (SELECT c_custkey AS k FROM customer) p ON ck.k = p.k
    ),
    u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
          UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
    SELECT relation,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_child_rows,
           CAST(coalesce(sum(CASE WHEN pk IS NULL THEN n END), 0) AS BIGINT) AS n_orphan_rows,
           CAST(sum(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_childless_parents
    FROM u GROUP BY 1
    """,
)
def q200_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the TPC-H foreign-key graph:
    per FK edge, child-row count, orphaned child rows (no parent), and
    childless parents — the first thing a warehouse load validates.

    Scale shape: each edge is ONE pre-aggregated child-key count frame
    full-outer-joined to the parent-key column (both key-partitioned hash
    joins, never row-level child×parent), folded to a single row; four
    edges union to the panel."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")

    def edge(name, child, ckey, parent, pkey):
        ck = child.groupBy(F.col(ckey).alias("k")).agg(F.count(F.lit(1)).alias("n"))
        pp = parent.select(F.col(pkey).alias("k"), F.lit(1).alias("p"))
        j = ck.join(pp, "k", "full_outer")
        return j.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_child_rows"),
            F.coalesce(F.sum(F.when(F.col("p").isNull(), F.col("n"))), F.lit(0)).alias(
                "n_orphan_rows"
            ),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias(
                "n_childless_parents"
            ),
        ).select(F.lit(name).alias("relation"), "*")

    return (
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(edge("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey"))
        .unionByName(edge("orders->customer", orders, "o_custkey", customer, "c_custkey"))
    )


@query(
    "q201_order_value_ks",
    """
    WITH d AS (
      SELECT o_orderpriority AS g, CAST(floor(o_totalprice / 10000) AS BIGINT) AS x
      FROM orders
    ),
    c1 AS (SELECT g, x, count(*) AS c FROM d GROUP BY 1, 2),
    grps AS (SELECT g, count(*) AS n1 FROM d GROUP BY 1),
    xs AS (SELECT DISTINCT x FROM d),
    tot AS (SELECT x, count(*) AS ct FROM d GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM d),
    grid AS (SELECT s.g, s.n1, le.x FROM grps s CROSS JOIN xs le),
    j AS (
      SELECT g.g, g.n1, g.x, coalesce(c1.c, 0) AS c, t.ct
      FROM grid g LEFT JOIN c1 ON c1.g = g.g AND c1.x = g.x
      JOIN tot t ON t.x = g.x
    ),
    cums AS (
      SELECT g, n1, x,
             sum(c) OVER (PARTITION BY g ORDER BY x) AS cum1,
             sum(ct) OVER (PARTITION BY g ORDER BY x) AS cumt
      FROM j
    ),
    ksx AS (
      SELECT g,
             max(abs(cum1 * ((SELECT nn FROM n) - n1) - (cumt - cum1) * n1)) AS dint,
             max(n1) AS n1
      FROM cums GROUP BY g
    )
    SELECT g AS o_orderpriority, CAST(n1 AS BIGINT) AS n_orders,
           CASE WHEN (SELECT nn FROM n) > n1
                THEN dint / (n1 * ((SELECT nn FROM n) - n1)) END AS ks
    FROM ksx
    """,
)
def q201_order_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value distribution drift per priority class: exact two-sample
    KS of each priority's o_totalprice profile vs the other priorities —
    the same stats-library operator as q192 applied to the TPC-H side,
    with the continuous axis quantized to 10k-wide buckets first (the
    operator's documented recipe for unbounded value domains)."""
    from zenodb_spark.operators.stats import ks_distance_by_group

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderpriority"),
        F.floor(F.col("o_totalprice") / 10000).cast("long").alias("x"),
    )
    return ks_distance_by_group(d, "o_orderpriority", "x").select(
        "o_orderpriority",
        F.col("n_docs").alias("n_orders"),
        "ks",
    )


@query(
    "q202_sketch_calibration",
    """
    WITH f AS (SELECT event_type, value FROM events WHERE value >= 0 AND value <= 100),
    b AS (
      SELECT event_type, least(CAST(floor(value*10+0.5) AS BIGINT), 1000) AS bin FROM f
    ), c AS (
      SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2
    ), d AS (
      SELECT event_type, bin,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM c
    ), sk AS (
      SELECT event_type,
             min(CASE WHEN cum >= CAST(ceil(tot*50/100.0) AS BIGINT) THEN bin END)/10.0 AS s50,
             min(CASE WHEN cum >= CAST(ceil(tot*95/100.0) AS BIGINT) THEN bin END)/10.0 AS s95,
             min(CASE WHEN cum >= CAST(ceil(tot*99/100.0) AS BIGINT) THEN bin END)/10.0 AS s99
      FROM d GROUP BY 1
    ), ex AS (
      SELECT event_type,
             quantile_cont(value, 0.50) AS e50,
             quantile_cont(value, 0.95) AS e95,
             quantile_cont(value, 0.99) AS e99
      FROM f GROUP BY 1
    )
    SELECT sk.event_type, u.p AS p, u.exact AS exact, u.sketch AS sketch,
           abs(u.sketch - u.exact) AS abs_err
    FROM (
      SELECT event_type, unnest([
        {'p': 50, 'exact': e50, 'sketch': s50},
        {'p': 95, 'exact': e95, 'sketch': s95},
        {'p': 99, 'exact': e99, 'sketch': s99}
      ]) AS u
      FROM sk JOIN ex USING (event_type)
    ) sk
    """,
)
def q202_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-sketch calibration panel: for each event type and p ∈
    {50, 95, 99}, the bounded-histogram sketch read (q14's mergeable state,
    precision 1) next to the EXACT interpolated percentile and the absolute
    error — the audit that tells you whether the sketch's bin width is fine
    enough before trusting its tail reads on the stored rollup.

    Determinism: the sketch read is pure integer bin math; the exact side
    is percentile ≡ quantile_cont (verified bit-equal engine-to-engine);
    the error is one IEEE subtraction of identical doubles. Scale shape:
    the sketch aggregates map-side into bounded bin maps; the exact side is
    the same single percentile pass q13 runs; one tiny join + 3-struct
    explode stacks the panel."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") <= 100)
    )
    h = hist_agg(ev, ["event_type"], "value", 0.0, 100.0, 1, "hist")
    sk = h.select(
        "event_type",
        hist_quantile("hist", 50, 0.0, 1).alias("s50"),
        hist_quantile("hist", 95, 0.0, 1).alias("s95"),
        hist_quantile("hist", 99, 0.0, 1).alias("s99"),
    )
    ex = ev.groupBy("event_type").agg(
        percentile_exact(F.col("value"), 0.50).alias("e50"),
        percentile_exact(F.col("value"), 0.95).alias("e95"),
        percentile_exact(F.col("value"), 0.99).alias("e99"),
    )
    panel = F.array(
        F.struct(F.lit(50).alias("p"), F.col("e50").alias("exact"), F.col("s50").alias("sketch")),
        F.struct(F.lit(95).alias("p"), F.col("e95").alias("exact"), F.col("s95").alias("sketch")),
        F.struct(F.lit(99).alias("p"), F.col("e99").alias("exact"), F.col("s99").alias("sketch")),
    )
    return (
        sk.join(ex, "event_type")
        .select("event_type", F.explode(panel).alias("u"))
        .select(
            "event_type",
            F.col("u.p").cast("long").alias("p"),
            F.col("u.exact").alias("exact"),
            F.col("u.sketch").alias("sketch"),
            F.abs(F.col("u.sketch") - F.col("u.exact")).alias("abs_err"),
        )
    )


@query(
    "q203_priority_mix_drift",
    """
    WITH d AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS r_, o_orderpriority AS c_ FROM orders
    ),
    o AS (SELECT r_, c_, count(*) AS o FROM d GROUP BY 1, 2),
    r AS (SELECT r_, sum(o) AS r FROM o GROUP BY 1),
    c AS (SELECT c_, sum(o) AS c FROM o GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM o),
    grid AS (SELECT r.r_, r.r, c.c_, c.c FROM r CROSS JOIN c),
    cells AS (
      SELECT g.r_,
             CAST(floor(
               (CAST(coalesce(o.o, 0) * (SELECT n FROM n) - g.r * g.c AS DOUBLE)
                * CAST(coalesce(o.o, 0) * (SELECT n FROM n) - g.r * g.c AS DOUBLE))
               / (CAST((SELECT n FROM n) AS DOUBLE) * CAST(g.r AS DOUBLE) * CAST(g.c AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM grid g LEFT JOIN o ON o.r_ = g.r_ AND o.c_ = g.c_
    )
    SELECT r_ AS month, CAST(count(*) AS BIGINT) AS n_cells,
           sum(term_micro) / 1000000.0 AS chi2_contrib
    FROM cells GROUP BY 1
    """,
)
def q203_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal mix-drift monitor: per calendar month, the chi-square
    contribution of that month's order-priority mix against the overall
    marginals — the drift alarm a pipeline puts on any categorical mix
    (label balance, source mix) per time slice. Second reuse of the
    chi2_contingency operator (q196), on the month × priority table."""
    from zenodb_spark.operators.stats import chi2_contingency

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"), "o_orderpriority"
    )
    return chi2_contingency(d, "month", "o_orderpriority")


@query(
    "q204_simhash_calibration",
    f"""
    WITH truth AS ({_JACCARD_SQL.format(thr=0.5)}),
    f AS ({_simhash_oracle().strip()}),
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM f a JOIN f b ON a.doc < b.doc
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    ),
    j AS (
      SELECT t.doc_a IS NOT NULL AS is_true, c.hamming AS hamming
      FROM (SELECT doc_a, doc_b FROM truth) t
      FULL OUTER JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    panel AS (
      SELECT k,
             sum(CASE WHEN hamming IS NOT NULL AND hamming <= k THEN 1 ELSE 0 END) AS n_candidates,
             sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS n_true_pairs,
             sum(CASE WHEN is_true AND hamming IS NOT NULL AND hamming <= k THEN 1 ELSE 0 END) AS n_hits
      FROM j, unnest([0, 2, 4]) AS u(k) GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS max_hamming,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_candidates = 0 THEN 0.0 ELSE n_hits / n_candidates END AS precision_k,
           CASE WHEN n_true_pairs = 0 THEN 0.0 ELSE n_hits / n_true_pairs END AS recall_k
    FROM panel
    """,
)
def q204_simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash threshold calibration: precision and recall of
    hamming ≤ {{0, 2, 4}} candidate pairs against exact 3-gram Jaccard ≥ 0.5
    ground truth — the companion to q190's MinHash banding panel for the
    OTHER dedup index family, answering "which hamming cutoff do I ship".

    Scale shape: truth rides the lossless prefix join; candidates ride the
    pigeonhole segment blocking (5 segments for hamming ≤ 4 — any
    qualifying pair agrees exactly on ≥1, so buckets bound the join);
    the panel is one full-outer join of two pair lists + a 3-way explode.
    The oracle brute-forces all C(N,2) fingerprint pairs, so a pass also
    re-proves the blocking lossless at both gate scales."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs_prefix(
        docs, "text", "doc_id", n=3, threshold=0.5
    ).select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    fp = dedup.simhash(docs, "text", "doc_id", bits=16)
    cand = dedup.simhash_pairs(fp, max_hamming=4, bits=16)
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    stacked = j.select(
        F.explode(F.array(F.lit(0), F.lit(2), F.lit(4))).alias("k"),
        "is_true",
        "hamming",
    )
    panel = stacked.groupBy("k").agg(
        F.sum(F.when(F.col("hamming") <= F.col("k"), 1).otherwise(0)).alias(
            "n_candidates"
        ),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true_pairs"),
        F.sum(
            F.when(F.col("is_true") & (F.col("hamming") <= F.col("k")), 1).otherwise(0)
        ).alias("n_hits"),
    )
    return panel.select(
        F.col("k").cast("long").alias("max_hamming"),
        "n_candidates",
        "n_true_pairs",
        "n_hits",
        F.when(F.col("n_candidates") == 0, F.lit(0.0))
        .otherwise(F.col("n_hits") / F.col("n_candidates"))
        .alias("precision_k"),
        F.when(F.col("n_true_pairs") == 0, F.lit(0.0))
        .otherwise(F.col("n_hits") / F.col("n_true_pairs"))
        .alias("recall_k"),
    )


_Q27_RANKED = """
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
                        neighbor_id
             ) AS rank
      FROM (SELECT vec_id AS query_id, {v} AS qv FROM embeddings WHERE vec_id < 10) q
      JOIN (SELECT vec_id AS neighbor_id, {v} AS cv FROM embeddings) c
        ON query_id <> neighbor_id
"""


@query(
    "q205_matryoshka_recall",
    f"""
    WITH full_top AS (
      SELECT query_id, neighbor_id
      FROM ({_Q27_RANKED.format(v="embedding::DOUBLE[]")}) WHERE rank <= 5
    ),
    trunc_top AS (
      SELECT query_id, neighbor_id
      FROM ({_Q27_RANKED.format(v="(embedding::DOUBLE[])[1:16]")}) WHERE rank <= 5
    )
    SELECT f.query_id,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5 AS recall_at_5
    FROM full_top f
    LEFT JOIN trunc_top t ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY 1
    """,
)
def q205_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation calibration: recall@5 of cosine search run on
    the FIRST 16 of 64 embedding dimensions against the full-dimension
    ranking — the audit behind truncating MRL-style embeddings for a
    cheaper first-stage index (Kusupati et al. 2022). Answers "how much
    ranking do the first 16 dims carry on THIS corpus".

    Scale shape: two cosine_topk passes (query side broadcast, corpus
    streamed once each; the truncated pass reads 4× fewer floats), joined
    on ≤5-row-per-query rank lists — output-sized work after the scans."""
    from zenodb_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    full_top = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5, dim=64)
    trunc_top = cosine_topk(
        trunc, trunc.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5, dim=16
    )
    j = full_top.select("query_id", "neighbor_id").join(
        trunc_top.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"],
        "left",
    )
    return j.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(5)).alias("recall_at_5"),
    )


def _jl_signs(proj_dim: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 sign matrix from md5 — reproducible in both
    engines as literals (no RNG, no seed drift)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for j in range(dim)
        ]
        for i in range(proj_dim)
    ]


def _jl_oracle(proj_dim: int = 16, dim: int = 64, n_vec: int = 30) -> str:
    signs = _jl_signs(proj_dim, dim)
    proj = ", ".join(
        "list_dot_product(v, [" + ", ".join(repr(x) for x in row) + f"]) AS p{i}"
        for i, row in enumerate(signs)
    )
    parr = "[" + ", ".join(f"p{i}" for i in range(proj_dim)) + "]"
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < {n_vec}
    ),
    p AS (SELECT vec_id, v, {proj} FROM e),
    pv AS (SELECT vec_id, v, {parr} AS pvec FROM p),
    pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, b.v)
               + list_dot_product(b.v, b.v) AS d2_orig,
             list_dot_product(a.pvec, a.pvec) - 2.0 * list_dot_product(a.pvec, b.pvec)
               + list_dot_product(b.pvec, b.pvec) AS d2_proj
      FROM pv a JOIN pv b ON a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, d2_orig, d2_proj,
           CASE WHEN d2_orig = 0 THEN NULL
                ELSE (d2_proj * {dim / proj_dim!r}) / d2_orig END AS ratio
    FROM pairs
    """


@query("q206_jl_distortion", _jl_oracle())
def q206_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit: project 64-dim embeddings to
    16 dims with a deterministic ±1 sign matrix and report, for every pair
    in the probe set, the scaled projected-to-original squared-distance
    ratio (E[ratio] = 1 under JL) — the measurement that decides whether a
    cheap random projection can front the ANN index.

    Determinism: the sign matrix derives from md5 at plan-build time and
    rides BOTH plans as literals; every dot product is sequential-order
    (zip_with+aggregate ≡ list_dot_product); the distance identity
    (aa − 2ab + bb) is the same fixed IEEE sequence both engines run.
    Scale shape: projections are 16 in-row dots per vector (one scan, no
    shuffle); the probe pair join is bounded by the probe set, and at
    corpus scale the same projection column feeds the LSH/IVF index
    builders instead of a pair join."""
    from zenodb_spark.operators.similarity import dot
    from zenodb_spark.operators.util import lit_mat

    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    p = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        # one transform over the constant sign matrix (round 6): same
        # sequential dot per row of `signs`, same array order
        F.transform(lit_mat(signs), lambda r: dot(F.col("embedding"), r)).alias(
            "pvec"
        ),
    )
    a = p.select(
        F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"), F.col("pvec").alias("pa")
    )
    b = p.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("pvec").alias("pb")
    )
    pairs = a.join(b, F.col("vec_id_a") < F.col("vec_id_b")).select(
        "vec_id_a",
        "vec_id_b",
        (dot("va", "va") - F.lit(2.0) * dot("va", "vb") + dot("vb", "vb")).alias("d2_orig"),
        (dot("pa", "pa") - F.lit(2.0) * dot("pa", "pb") + dot("pb", "pb")).alias("d2_proj"),
    )
    return pairs.select(
        "vec_id_a",
        "vec_id_b",
        "d2_orig",
        "d2_proj",
        F.when(F.col("d2_orig") == 0, F.lit(None).cast("double"))
        .otherwise((F.col("d2_proj") * F.lit(4.0)) / F.col("d2_orig"))
        .alias("ratio"),
    )



@query(
    "q207_seasonal_anomaly",
    f"""
    WITH h AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, hod, sum(n) AS s, count(*) AS b
      FROM h GROUP BY 1, 2
    ),
    scored AS (
      SELECT h.event_type, h.bucket, CAST(h.n AS BIGINT) AS n,
             CAST(base.s AS DOUBLE) / base.b AS expected,
             CAST(abs(h.n * base.b - base.s) AS DOUBLE) / base.s AS rel_dev
      FROM h JOIN base ON base.event_type = h.event_type AND base.hod = h.hod
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rel_dev DESC, event_type, bucket) AS rank
      FROM scored
    )
    SELECT event_type, bucket, n, expected, rel_dev, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q207_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: hourly event counts scored
    against their OWN hour-of-day baseline (q142's diurnal shape), top-10
    by relative deviation |n·B − S| / S — the alert that fires on "3am
    spike" instead of "3am is always quiet" (plain z-scores like q70 flag
    every diurnal peak).

    Determinism: deviations are ratios of exact integers (n·B vs S), so
    ordering and values agree across engines; ties break on (type,
    bucket). Scale shape: one hourly aggregate, one hour-of-day rollup
    (≤ 24·|types| rows, broadcast-joinable), ranking over the AGGREGATED
    frame only."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        timeops.bucket_epoch("ts", 3600).alias("bucket"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = h.groupBy("event_type", "hod").agg(
        F.sum("n").alias("s"), F.count(F.lit(1)).alias("b")
    )
    scored = h.join(base, ["event_type", "hod"]).select(
        "event_type",
        "bucket",
        F.col("n").cast("long").alias("n"),
        (F.col("s").cast("double") / F.col("b")).alias("expected"),
        (
            F.abs(F.col("n") * F.col("b") - F.col("s")).cast("double") / F.col("s")
        ).alias("rel_dev"),
    )
    w = Window.orderBy(F.col("rel_dev").desc(), "event_type", "bucket")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("event_type", "bucket", "n", "expected", "rel_dev",
                F.col("rank").cast("long").alias("rank"))
    )


@query(
    "q208_selection_frontier",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), f AS (
      SELECT doc_id, len(toks) AS n_tok,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_tok,
             CAST(n_sym AS DOUBLE) / n_chars AS sym_frac,
             CAST(n_dig AS DOUBLE) / n_chars AS dig_frac
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), q AS (
      SELECT doc_id, n_tok,
             -1.5 + 3.0 * ttr - 0.2 * chars_per_tok - 4.0 * sym_frac
                  - 2.0 * dig_frac AS logit
      FROM f
    ), ranked AS (
      SELECT n_tok, logit,
             ntile(10) OVER (ORDER BY logit DESC, doc_id) AS decile
      FROM q
    ), d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS decile_tokens,
             min(logit) AS min_logit
      FROM ranked GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, decile_tokens,
           CAST(sum(decile_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
           min_logit
    FROM d
    """,
)
def q208_selection_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection frontier: documents ranked best-first by the q160
    quality logit into deciles; per decile, document count, token mass,
    CUMULATIVE token mass, and the quality cutoff (min logit) — the curve
    that answers "given an N-token training budget, where does the
    quality bar land" (the DSIR/quality-filter budget planning step).

    Determinism: the logit is q160's fixed IEEE expression (kept in
    lockstep, both independently oracle-gated); deciles are the q178
    deterministic ntile (logit desc, doc tie-break); token masses are
    integer sums, cumulated over the 10-row decile frame."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias("n_sym"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    ranked = t.select(
        "n_tok",
        logit.alias("logit"),
        F.ntile(10).over(Window.orderBy(logit.desc(), "doc_id")).alias("decile"),
    )
    d = ranked.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("decile_tokens"),
        F.min("logit").alias("min_logit"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "decile",
        "n_docs",
        "decile_tokens",
        F.sum("decile_tokens").over(wc).cast("long").alias("cum_tokens"),
        "min_logit",
    )


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
    "q209_dedup_report",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, md5({_NT}) AS fp,
             len(list_filter(string_split({_NT}, ' '), x -> len(x) > 0)) AS n_tok
      FROM documents
    ),
    keepers AS (SELECT fp, min(doc_id) AS keeper FROM t GROUP BY 1),
    sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
    ),
    labs AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY 1),
    m AS (
      SELECT
        (SELECT count(*) FROM t) AS n_docs,
        (SELECT count(*) FROM keepers) AS n_unique_texts,
        (SELECT count(*) FROM (SELECT fp FROM t GROUP BY fp HAVING count(*) >= 2)) AS n_exact_groups,
        (SELECT count(*) FROM pairs) AS n_neardup_pairs,
        (SELECT count(DISTINCT cluster_id) FROM labs) AS n_neardup_clusters,
        (SELECT count(*) FROM labs) AS n_docs_in_clusters,
        (SELECT sum(n_tok) FROM t) AS tokens_total,
        (SELECT sum(n_tok) FROM t JOIN keepers ON keepers.fp = t.fp
          WHERE t.doc_id = keepers.keeper) AS tokens_exact_kept,
        (SELECT sum(n_tok) FROM t LEFT JOIN labs ON labs.doc = t.doc_id
          WHERE labs.doc IS NULL OR labs.cluster_id = t.doc_id) AS tokens_cluster_kept
    )
    SELECT u.metric AS metric, u.value AS value FROM (
      SELECT unnest([
        {{'metric': 'n_docs',             'value': n_docs}},
        {{'metric': 'n_unique_texts',     'value': n_unique_texts}},
        {{'metric': 'n_exact_groups',     'value': n_exact_groups}},
        {{'metric': 'n_neardup_pairs',    'value': n_neardup_pairs}},
        {{'metric': 'n_neardup_clusters', 'value': n_neardup_clusters}},
        {{'metric': 'n_docs_in_clusters', 'value': n_docs_in_clusters}},
        {{'metric': 'tokens_total',       'value': tokens_total}},
        {{'metric': 'tokens_exact_kept',  'value': tokens_exact_kept}},
        {{'metric': 'tokens_cluster_kept','value': tokens_cluster_kept}}
      ]) AS u FROM m
    )
    """,
)
def q209_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-health report card: document/unique-text counts, exact-dup
    group count, near-dup (Jaccard ≥ 0.5) pairs/clusters/coverage, and the
    token mass surviving exact vs cluster dedup — the one-stop panel a
    curation run publishes, composing q23 (exact), q24 (pairs) and q47
    (clusters) into (metric, value) rows.

    Scale shape: one scan computes fingerprints + token counts; pairs ride
    the lossless prefix join; clusters ride star-CC; every metric is an
    aggregate of those frames' outputs stacked from 1-row aggregates
    (scalar fan-in broadcasts, no corpus-sized join)."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    # Both shared bases are eager-checkpointed (round 6, the round's
    # multi-consumer rule): `t` (normalize+md5+tokenize scan) feeds the
    # keeper window AND the exact-group count; `pairs` (the whole prefix
    # join) feeds star-CC AND the pair count — without the checkpoint each
    # consumer re-runs the full upstream pipeline (prune-divergent copies,
    # no AQE reuse). Each materialization is at most O(docs)/O(pairs) rows.
    t = share(
        docs.select(
            "doc_id",
            F.md5(normalize_text("text")).alias("fp"),
            F.size(toks).alias("n_tok"),
        )
    )
    w = Window.partitionBy("fp")
    tk = t.withColumn("keeper", F.min("doc_id").over(w))
    # source=docs: the prefix operator checkpoints its shingle arrays
    # internally, so the pairs frame reports no input files of its own and
    # would always be checkpointed
    pairs = share(
        dedup.ngram_jaccard_pairs_prefix(docs, "text", "doc_id", n=3, threshold=0.5),
        source=docs,
    )
    labels = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )
    base = tk.join(labels, "doc_id", "left")
    gstats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique_texts"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum(F.when(F.col("doc_id") == F.col("keeper"), F.col("n_tok"))).alias(
            "tokens_exact_kept"
        ),
        F.sum(
            F.when(
                F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")),
                F.col("n_tok"),
            )
        ).alias("tokens_cluster_kept"),
        F.count_distinct("cluster_id").alias("n_neardup_clusters"),
        F.sum(F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)).alias(
            "n_docs_in_clusters"
        ),
    )
    groups = (
        t.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("n_exact_groups"))
    )
    npairs = pairs.agg(F.count(F.lit(1)).alias("n_neardup_pairs"))
    one = gstats.crossJoin(F.broadcast(groups)).crossJoin(F.broadcast(npairs))
    metrics = [
        "n_docs", "n_unique_texts", "n_exact_groups", "n_neardup_pairs",
        "n_neardup_clusters", "n_docs_in_clusters", "tokens_total",
        "tokens_exact_kept", "tokens_cluster_kept",
    ]
    panel = F.array(
        *[
            F.struct(F.lit(m).alias("metric"), F.col(m).cast("long").alias("value"))
            for m in metrics
        ]
    )
    return one.select(F.explode(panel).alias("u")).select("u.metric", "u.value")


def _ivf_curve_oracle(probes=(1, 2, 4)) -> str:
    brute = ORACLE["q27_ann_cosine"]
    arms = []
    for np_ in probes:
        ivf = _ivf_search_oracle(nprobe=np_)
        arms.append(
            f"""
    SELECT CAST({np_} AS BIGINT) AS nprobe,
           CAST(count(DISTINCT b.query_id) AS BIGINT) AS n_queries,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           count(i.neighbor_id) / (5.0 * count(DISTINCT b.query_id)) AS mean_recall
    FROM ({brute}) b
    LEFT JOIN ({ivf}) i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    """
        )
    return " UNION ALL ".join(arms)


@query("q210_ivf_nprobe_curve", _ivf_curve_oracle())
def q210_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: mean recall@5 at nprobe ∈ {1, 2, 4} against the
    exact brute-force top-5 — the latency/recall dial read as ONE panel
    (q146 measures a single point; production tuning wants the curve so
    the nprobe meeting the recall bar is picked, not guessed).

    Scale shape: the brute baseline runs once; each arm's probe set is
    centroid-bounded; the recall joins touch only ≤5-row-per-query rank
    lists. Centroids ride as broadcast literals in every arm."""
    from zenodb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qside = emb.filter(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(emb, qside, "vec_id", "embedding", k=5, dim=64).select(
        "query_id", "neighbor_id"
    )
    cents = similarity.ivf_centroids(64, 8, 43)
    # one shared corpus assignment across the three arms: the centroid
    # expression is ~500 Py4J literal round-trips to BUILD per arm
    # (round 6 — q210's cost was dominated by driver-side construction)
    assigned = similarity.ivf_assign(emb, cents, "vec_id", "embedding")
    arms = []
    for np_ in (1, 2, 4):
        ivf = similarity.ivf_search(
            emb, qside, cents, "vec_id", "embedding", k=5, nprobe=np_,
            assigned=assigned,
        ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        j = brute.join(ivf, ["query_id", "neighbor_id"], "left")
        arms.append(
            j.agg(
                F.lit(np_).cast("long").alias("nprobe"),
                F.count_distinct("query_id").alias("n_queries"),
                F.count("hit").alias("n_matched"),
                (
                    F.count("hit") / (F.lit(5.0) * F.count_distinct("query_id"))
                ).alias("mean_recall"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


@query(
    "q211_filter_length_bias",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split({_NT}, ' '), x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), f AS (
      SELECT doc_id, len(toks) AS n_tok,
             -1.5 + 3.0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                  - 0.2 * (CAST(n_chars AS DOUBLE) / len(toks))
                  - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
                  - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars) AS logit
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), d AS (
      SELECT n_tok, logit,
             ntile(5) OVER (ORDER BY n_tok, doc_id) AS len_quintile
      FROM f
    )
    SELECT CAST(len_quintile AS BIGINT) AS len_quintile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(CASE WHEN logit > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           sum(CASE WHEN logit > 0.0 THEN 1 ELSE 0 END) / count(*) AS keep_rate
    FROM d GROUP BY 1
    """,
)
def q211_filter_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter length-bias audit: the q160 quality filter's keep rate per
    document-length quintile — the check that a "quality" model is not
    just a length detector (the classic failure mode of fastText-style
    corpus filters; a strongly sloped curve here means the filter reshapes
    the length distribution, not the quality distribution).

    Deterministic quintiles (n_tok, doc tie-break); keep decisions are
    q160's fixed IEEE logit; rates are integer ratios."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias("n_sym"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    d = t.select(
        "n_tok",
        logit.alias("logit"),
        F.ntile(5).over(Window.orderBy("n_tok", "doc_id")).alias("len_quintile"),
    )
    return d.groupBy(F.col("len_quintile").cast("long").alias("len_quintile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.sum(F.when(F.col("logit") > 0.0, 1).otherwise(0)).alias("n_kept"),
        (
            F.sum(F.when(F.col("logit") > 0.0, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("keep_rate"),
    )


@query(
    "q212_cluster_keep_best",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
      WHERE i / (sa.sz + sb.sz - i) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
    ),
    labs AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY 1),
    t AS (
      SELECT doc_id,
             list_filter(string_split({_NT}, ' '), x -> len(x) > 0) AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), q AS (
      SELECT doc_id,
             CAST(floor((-1.5
               + 3.0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               - 0.2 * (CAST(n_chars AS DOUBLE) / len(toks))
               - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
               - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars)) * 1000000 + 0.5) AS BIGINT)
               AS logit_micro
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ),
    scored AS (
      SELECT labs.cluster_id, labs.doc, q.logit_micro,
             row_number() OVER (
               PARTITION BY labs.cluster_id
               ORDER BY q.logit_micro DESC, labs.doc
             ) AS rnk,
             count(*) OVER (PARTITION BY labs.cluster_id) AS csz
      FROM labs JOIN q ON q.doc_id = labs.doc
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc AS BIGINT) AS kept_doc,
           CAST(logit_micro AS BIGINT) AS kept_logit_micro,
           CAST(csz - 1 AS BIGINT) AS n_dropped
    FROM scored WHERE rnk = 1
    """,
)
def q212_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keep-BEST: within every Jaccard ≥ 0.5 cluster, keep the
    highest-quality member (q160 logit, micro-quantized for an exact
    integer ordering) instead of the arbitrary min-id — the curation rule
    real pipelines ship (q67 does this for exact groups; this is the
    cluster-level form over q47's components).

    Scale shape: clusters ride the prefix join + star-CC; the winner is
    one rank window over docs-in-clusters only (never the full corpus);
    quality scores come from the same single scan q160 uses."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix(docs, "text", "doc_id", n=3, threshold=0.5)
    labels = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: F.length(x) > 0)
    t = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias("n_sym"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n_tok"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    q = t.select(
        "doc_id",
        F.floor(logit * F.lit(1_000_000) + F.lit(0.5)).cast("long").alias("logit_micro"),
    )
    scored = labels.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("logit_micro").desc(), "doc_id")
    cw = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("csz", F.count(F.lit(1)).over(cw))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc"),
            F.col("logit_micro").alias("kept_logit_micro"),
            (F.col("csz") - 1).cast("long").alias("n_dropped"),
        )
    )


@query(
    "q213_media_dedup",
    """
    WITH m AS (
      SELECT doc_id,
             ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
             md5(text) AS digest,
             octet_length(encode(text)) AS n_bytes,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    )
    SELECT kind,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_digests,
           CAST(sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN doc_id = keeper THEN n_bytes ELSE 0 END) AS BIGINT) AS kept_bytes,
           1.0 - sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) / count(*) AS dup_rate
    FROM m GROUP BY 1
    """,
)
def q213_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup report: per modality (kind), item/digest counts, bytes
    before/after keep-first digest dedup, and the dup rate — the storage
    planner's first number for a multimodal corpus. Digests come through
    the Arrow mapInPandas byte path (extract_features), so the panel also
    end-to-end-exercises the opaque-binary plumbing; keep-first orders on
    the NUMERIC id (string min would put '10' before '9').

    Scale shape: one mapInPandas pass (Arrow batches, self-contained
    closure), one digest-keyed window, one per-kind aggregate."""
    from zenodb_spark.operators.multimodal import attach_media, extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    feats = extract_features(media).select(
        F.col("media_id").cast("long").alias("doc_id"), "digest", "n_bytes"
    )
    w = Window.partitionBy("digest")
    m = feats.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        "digest",
        "n_bytes",
        F.min("doc_id").over(w).alias("keeper"),
    )
    kept = F.col("doc_id") == F.col("keeper")
    return m.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count_distinct("digest").alias("n_digests"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum(F.when(kept, F.col("n_bytes")).otherwise(0)).cast("long").alias("kept_bytes"),
        (
            F.lit(1.0) - F.sum(F.when(kept, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


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
    "q214_hourly_autocorr",
    f"""
    WITH h AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    lag AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM h a JOIN h b
        ON b.event_type = a.event_type AND b.bucket = a.bucket + 3600
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM lag GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
                ELSE (n * sxy - sx * sy)
                     / sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))
           END AS lag1_autocorr
    FROM s
    """,
)
def q214_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event counts per type — the
    time-series health number behind alerting baselines (high r ⇒ smooth
    load, near 0 ⇒ memoryless arrivals; q207's seasonal model only helps
    in the first regime). Pearson r over consecutive-hour pairs from a
    bucket+3600 self-join sharing the aggregate's partitioning.

    Determinism: all five moments are exact integer sums; r is one fixed
    IEEE expression over them; degenerate (constant) series → NULL."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", timeops.bucket_epoch("ts", 3600).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = h.select("event_type", "bucket", F.col("n").alias("x"))
    b = h.select("event_type", (F.col("bucket") - 3600).alias("bucket"), F.col("n").alias("y"))
    lag = a.join(b, ["event_type", "bucket"])
    s = lag.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.when((varx * vary) == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt((varx * vary).cast("double"))
        )
        .alias("lag1_autocorr"),
    )


@query(
    "q215_fano_burstiness",
    f"""
    WITH h AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, count(*) AS b, sum(n) AS sn, sum(n * n) AS snn
      FROM h GROUP BY 1
    )
    SELECT event_type,
           CAST(b AS BIGINT) AS n_buckets,
           CAST(sn AS BIGINT) AS n_events,
           CASE WHEN sn = 0 THEN NULL
                ELSE CAST(b * snn - sn * sn AS DOUBLE) / (CAST(b AS DOUBLE) * sn)
           END AS fano
    FROM s
    """,
)
def q215_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of hourly counts) per event type —
    the burstiness index: ≈1 for Poisson arrivals, ≫1 for bursty/clumped
    traffic (q111 finds WHICH hours burst; this says HOW bursty a stream
    is overall). Computed from exact integer moments with one trailing
    division: var/mean = (B·Σn² − (Σn)²) / (B·Σn)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", timeops.bucket_epoch("ts", 3600).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    return s.select(
        "event_type",
        F.col("b").cast("long").alias("n_buckets"),
        F.col("sn").cast("long").alias("n_events"),
        F.when(F.col("sn") == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("b") * F.col("snn") - F.col("sn") * F.col("sn")).cast("double")
            / (F.col("b").cast("double") * F.col("sn"))
        )
        .alias("fano"),
    )


def _langid_confusion_oracle() -> str:
    # same deterministic score/argmax construction as _langid_oracle —
    # stopword lists are single-sourced from textstats.STOPWORDS
    def cnt(w: str) -> str:
        doubled = "regexp_replace(' ' || lower(text) || ' ', ' ', '  ', 'g')"
        n = f"  {w}  "
        return f"CAST((len({doubled}) - len(replace({doubled}, '{n}', ''))) / {len(n)} AS BIGINT)"

    langs = sorted(textstats.STOPWORDS)
    scores = {
        lang: " + ".join(cnt(w) for w in textstats.STOPWORDS[lang]) for lang in langs
    }
    score_cols = ", ".join(f"({scores[lang]}) AS s_{lang}" for lang in langs)
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    pred = "CASE "
    for lang in langs:
        pred += f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}' "
    pred += "ELSE 'und' END"
    return f"""
    WITH s AS (SELECT lang, {score_cols} FROM documents),
    p AS (SELECT lang, {pred} AS pred_lang FROM s)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """


@query("q216_langid_confusion", _langid_confusion_oracle())
def q216_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled × predicted counts — q29
    reports only per-language accuracy; the OFF-diagonal is what tells you
    WHICH languages the stopword-argmax classifier conflates (and where
    'und' fallbacks land), the actionable half of a langid audit."""
    docs = load_table(spark, sf_dir, "documents")
    p = textstats.langid(docs, "text")
    return p.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q217_supplier_hhi",
    f"""
    WITH r AS (
      SELECT n.n_name AS nation, s.s_suppkey AS supp,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS rev_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    t AS (SELECT nation, sum(rev_cents) AS tot FROM r GROUP BY 1),
    q AS (
      SELECT r.nation,
             CAST(floor(
               (CAST(r.rev_cents AS DOUBLE) / t.tot)
               * (CAST(r.rev_cents AS DOUBLE) / t.tot) * 1000000000 + 0.5
             ) AS BIGINT) AS sh2_nano
      FROM r JOIN t USING (nation)
    )
    SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
           sum(sh2_nano) / 1000000000.0 AS hhi
    FROM q GROUP BY 1
    """,
)
def q217_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration HHI per nation: the Herfindahl index of
    revenue shares (1/N for perfect competition → 1.0 for a monopoly) —
    the market-concentration rollup next to q156's share table.

    Determinism: revenues are exact cents; each supplier's squared share
    is one fixed IEEE expression nano-quantized per DISTINCT supplier
    before the per-nation integer sum (the ln() policy). Scale shape: one
    fact aggregate keyed (nation, supplier); supplier scales with SF so
    AQE picks its join side (no hint, per SCALE.md), nation broadcasts;
    totals joined back per nation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    r = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey").alias("supp"))
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_cents"
            )
        )
    )
    t = r.groupBy("nation").agg(F.sum("rev_cents").alias("tot"))
    share = F.col("rev_cents").cast("double") / F.col("tot")
    q = r.join(t, "nation").select(
        "nation",
        F.floor(share * share * F.lit(1_000_000_000) + F.lit(0.5))
        .cast("long")
        .alias("sh2_nano"),
    )
    return q.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (F.sum("sh2_nano") / F.lit(1_000_000_000.0)).alias("hhi"),
    )


@query(
    "q218_user_activity_gini",
    """
    WITH u AS (
      SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, c,
             row_number() OVER (
               PARTITION BY event_type ORDER BY c, user_id) AS i
      FROM u
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
           (CAST(2 * sum(i * c) - (count(*) + 1) * sum(c) AS DOUBLE)
                 / CAST(count(*) * sum(c) AS DOUBLE)) AS gini
    FROM ranked GROUP BY 1
    """,
)
def q218_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-activity Gini per event type: inequality of per-user event
    counts (0 = every user equally active → 1 = one user is the whole
    stream) — the engagement-concentration number behind "whales vs
    long tail", computed with q123's exact sorted-rank formula over
    integer counts (rank ties broken by user id in both engines).

    Scale shape: one (type, user) aggregate, a per-type rank window
    over the USER-count-sized frame, one rollup — no corpus-sized sort."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("c", "user_id")
    ranked = u.select("event_type", "c", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return ranked.groupBy("event_type").agg(
        n.cast("long").alias("n_users"),
        (
            (2 * F.sum(F.col("i") * F.col("c")) - (n + 1) * F.sum("c")).cast("double")
            / (n * F.sum("c")).cast("double")
        ).alias("gini"),
    )


@query(
    "q219_seasonality_strength",
    f"""
    WITH h AS (
      SELECT event_type, {BUCKET.format(p=3600)} AS bucket,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    g AS (SELECT event_type, count(*) AS b, sum(n) AS sn, sum(n * n) AS snn
          FROM h GROUP BY 1),
    hg AS (
      SELECT event_type, hod, count(*) AS bh, sum(n) AS snh
      FROM h GROUP BY 1, 2
    ),
    ssb AS (
      SELECT hg.event_type,
             sum(CAST(floor(
               CAST(hg.bh AS DOUBLE)
               * (CAST(hg.snh AS DOUBLE) / hg.bh - CAST(g.sn AS DOUBLE) / g.b)
               * (CAST(hg.snh AS DOUBLE) / hg.bh - CAST(g.sn AS DOUBLE) / g.b)
               * 1000000 + 0.5) AS BIGINT)) AS ssb_micro
      FROM hg JOIN g USING (event_type)
      GROUP BY 1
    )
    SELECT g.event_type,
           CAST(g.b AS BIGINT) AS n_buckets,
           CASE WHEN g.b * g.snn - g.sn * g.sn = 0 THEN NULL
                ELSE (ssb.ssb_micro / 1000000.0)
                     / (CAST(g.snn AS DOUBLE) - CAST(g.sn AS DOUBLE) * g.sn / g.b)
           END AS seasonality_r2
    FROM g JOIN ssb USING (event_type)
    """,
)
def q219_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per event type: the share of hourly-count
    variance explained by the hour-of-day profile (R² = SSB/SST of the
    24-group ANOVA) — near 1 means q207's seasonal baseline will be
    sharp, near 0 means diurnal adjustment buys nothing. Between-group
    terms are micro-quantized per hour-of-day key (24 per type) before
    the integer sum; SST comes from exact integer moments."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        timeops.bucket_epoch("ts", 3600).alias("bucket"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    g = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    hg = h.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("bh"), F.sum("n").alias("snh")
    )
    diff = (
        F.col("snh").cast("double") / F.col("bh")
        - F.col("sn").cast("double") / F.col("b")
    )
    ssb = (
        hg.join(g, "event_type")
        .select(
            "event_type",
            F.floor(F.col("bh").cast("double") * diff * diff * F.lit(1_000_000) + F.lit(0.5))
            .cast("long")
            .alias("t_micro"),
        )
        .groupBy("event_type")
        .agg(F.sum("t_micro").alias("ssb_micro"))
    )
    sst = F.col("snn").cast("double") - F.col("sn").cast("double") * F.col("sn") / F.col("b")
    return g.join(ssb, "event_type").select(
        "event_type",
        F.col("b").cast("long").alias("n_buckets"),
        F.when(
            F.col("b") * F.col("snn") - F.col("sn") * F.col("sn") == 0,
            F.lit(None).cast("double"),
        )
        .otherwise((F.col("ssb_micro") / F.lit(1_000_000.0)) / sst)
        .alias("seasonality_r2"),
    )


@query(
    "q220_stride_sampling_error",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    full_s AS (SELECT event_type, count(*) AS b_full, sum(n) AS n_full FROM d GROUP BY 1),
    samp AS (
      SELECT event_type, count(*) AS b_samp, sum(n) AS n_samp
      FROM d WHERE bucket % 345600 < 86400 GROUP BY 1
    )
    SELECT f.event_type,
           CAST(f.b_full AS BIGINT) AS buckets_full,
           CAST(coalesce(s.b_samp, 0) AS BIGINT) AS buckets_sampled,
           CAST(f.n_full AS DOUBLE) / f.b_full AS mean_full,
           CASE WHEN coalesce(s.b_samp, 0) = 0 THEN NULL
                ELSE CAST(s.n_samp AS DOUBLE) / s.b_samp END AS mean_sampled,
           CASE WHEN coalesce(s.b_samp, 0) = 0 THEN NULL
                ELSE abs(CAST(s.n_samp AS DOUBLE) / s.b_samp
                         - CAST(f.n_full AS DOUBLE) / f.b_full)
                     / (CAST(f.n_full AS DOUBLE) / f.b_full) END AS rel_error
    FROM full_s f LEFT JOIN samp s USING (event_type)
    """,
)
def q220_stride_sampling_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-downsampling error audit: the dialect's stride('4d') keeps
    one 1-day slice per 4-day window as a cheap preview of a series — this
    panel measures what that preview costs, per event type: mean daily
    count from the sampled slices vs the full series, and the relative
    error. The governance number for 'can the dashboard's strided view be
    trusted' (reference StrideSlice, encoding/seq.go:309-316).

    Determinism: counts are exact integers; means and the error are fixed
    IEEE expressions over them; the stride phase (bucket % stride <
    resolution) is the engine's own rule (engine.py), so the audit
    measures exactly what the dialect serves."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", timeops.bucket_epoch("ts", 86400).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    full_s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("b_full"), F.sum("n").alias("n_full")
    )
    samp = (
        d.filter(F.col("bucket") % 345600 < 86400)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("b_samp"), F.sum("n").alias("n_samp"))
    )
    mean_full = F.col("n_full").cast("double") / F.col("b_full")
    mean_samp = F.col("n_samp").cast("double") / F.col("b_samp")
    empty = F.coalesce(F.col("b_samp"), F.lit(0)) == 0
    return full_s.join(samp, "event_type", "left").select(
        "event_type",
        F.col("b_full").cast("long").alias("buckets_full"),
        F.coalesce(F.col("b_samp"), F.lit(0)).cast("long").alias("buckets_sampled"),
        mean_full.alias("mean_full"),
        F.when(empty, F.lit(None).cast("double")).otherwise(mean_samp).alias("mean_sampled"),
        F.when(empty, F.lit(None).cast("double"))
        .otherwise(F.abs(mean_samp - mean_full) / mean_full)
        .alias("rel_error"),
    )


@query(
    "q221_min_cost_supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey AS part, l_suppkey AS supp,
             sum({C.format(x='l_extendedprice')}) AS price_c,
             sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT part, supp, (price_c * 10000) // qty AS unit_microcents,
             row_number() OVER (
               PARTITION BY part
               ORDER BY (price_c * 10000) // qty, supp) AS rk
      FROM ps
    )
    SELECT p.p_partkey AS part, p.p_name AS part_name, r.supp AS supp,
           n.n_name AS nation, r.unit_microcents AS unit_microcents
    FROM ranked r
    JOIN part p ON p.p_partkey = r.part AND p.p_size = 15
    JOIN supplier s ON s.s_suppkey = r.supp
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rk = 1
    """,
)
def q221_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2's correlated-subquery
    shape, adapted: no partsupp table, so unit cost is observed
    sum(extendedprice)/sum(quantity) per (part, supplier) from lineitem):
    for every size-15 part, the supplier offering the lowest unit price
    and their nation. The classic `WHERE cost = (SELECT min(cost) ...)`
    pattern, expressed as one shared aggregate + per-part rank instead
    of a re-executed correlated scan.

    Determinism: unit cost is exact integer micro-cents via BIGINT
    floor-division (quantities are integral; all values positive, so
    Spark `div` and DuckDB `//` agree); rank ties break on suppkey.
    Scale shape: the size-15 part filter joins INTO the fact aggregate
    (the oracle filters after ranking — same per-part result, but Spark
    only aggregates matching rows), then one part-sized window; part and
    supplier scale with SF so AQE picks their join side (no hint, per
    SCALE.md); only nation (O(1) rows) carries a broadcast hint."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    p15 = part.filter(F.col("p_size") == 15).select("p_partkey", "p_name")
    ps = (
        li.join(p15, li.l_partkey == p15.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("l_suppkey").alias("supp"),
            F.col("p_name").alias("part_name"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("price_c"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    cost = ps.withColumn("unit_microcents", F.expr("(price_c * 10000) div qty"))
    w = Window.partitionBy("part").orderBy("unit_microcents", "supp")
    best = cost.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(supp.select("s_suppkey", "s_nationkey"), best.supp == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select(
            "part",
            "part_name",
            "supp",
            F.col("n_name").alias("nation"),
            "unit_microcents",
        )
    )


@query(
    "q222_calibration_ece",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split({NORM.format(x='text')}, ' '),
                         x -> len(x) > 0) AS toks,
             length(replace({NORM.format(x='text')}, ' ', '')) AS chars_ns,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
      FROM documents
    ), f AS (
      SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nu,
             len(list_filter(toks,
                 t -> t = 'the' OR t = 'and' OR t = 'of' OR t = 'to' OR t = 'a'
             )) AS stop_cnt,
             chars_ns, n_chars, n_sym, n_dig
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), s AS (
      SELECT doc_id,
             -1.5 + 3.0 * (CAST(nu AS DOUBLE) / n)
                  - 0.2 * (CAST(n_chars AS DOUBLE) / n)
                  - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
                  - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars) AS logit,
             CASE WHEN n >= 30 AND n <= 90
                   AND chars_ns * 10 >= 38 * n AND chars_ns * 10 <= 45 * n
                   AND stop_cnt >= 2 AND 5 * nu >= 2 * n
                  THEN 1 ELSE 0 END AS pass
      FROM f
    ), b AS (
      SELECT CAST(least(9, greatest(0,
               CAST(floor((logit + 2.5) / 0.5) AS INT))) AS BIGINT) AS bin,
             CAST(floor(1000000.0 / (1.0 + exp(-logit)) + 0.5) AS BIGINT)
               AS conf_micro,
             pass
      FROM s
    ), g AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             sum(conf_micro) AS cm, CAST(sum(pass) AS BIGINT) AS n_pass
      FROM b GROUP BY 1
    ), tot AS (SELECT sum(n_docs) AS total FROM g)
    SELECT bin, n_docs, n_pass,
           CAST(cm AS DOUBLE) / (n_docs * 1000000.0) AS mean_conf,
           CAST(n_pass AS DOUBLE) / n_docs AS frac_pass,
           abs(CAST(cm AS DOUBLE) / (n_docs * 1000000.0)
               - CAST(n_pass AS DOUBLE) / n_docs) AS abs_gap,
           (CAST(n_docs AS DOUBLE) / t.total)
             * abs(CAST(cm AS DOUBLE) / (n_docs * 1000000.0)
                   - CAST(n_pass AS DOUBLE) / n_docs) AS ece_contrib
    FROM g, tot t
    """,
)
def q222_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the q160 linear quality classifier against the
    q188 Gopher rule set: reliability-diagram bins over the logit (width
    0.5 on [-2.5, 2.5], clamped) with mean predicted probability vs the
    empirical pass-all-rules rate, plus each bin's ECE contribution
    (weight x |gap|). The standard check before using a cheap classifier
    score as a sampling weight: a mis-calibrated filter silently skews
    the corpus mix.

    Determinism: the logit is q160's fixed IEEE expression; bin
    assignment is floor() of it (bit-identical both engines); the
    sigmoid is the one transcendental and is quantized to integer
    micro-units PER DOC before summation (the file-wide ln() policy);
    every reported ratio is exact-integer division. Scale shape: one
    codegen scan -> 10-bin hash aggregate -> broadcast 1-row total."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    toks = F.filter(F.split(norm, " "), lambda x: F.length(x) > 0)
    stop_cnt = F.size(
        F.filter(
            toks,
            lambda t: (t == "the") | (t == "and") | (t == "of") | (t == "to") | (t == "a"),
        )
    )
    f = docs.select(
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nu"),
        stop_cnt.alias("stop_cnt"),
        F.length(F.replace(norm, F.lit(" "), F.lit(""))).alias("chars_ns"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")).alias(
            "n_sym"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_dig"),
    ).filter((F.col("n") > 0) & (F.col("n_chars") > 0))
    logit = (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col("nu").cast("double") / F.col("n"))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col("n"))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )
    passing = (
        (F.col("n") >= 30)
        & (F.col("n") <= 90)
        & (F.col("chars_ns") * 10 >= 38 * F.col("n"))
        & (F.col("chars_ns") * 10 <= 45 * F.col("n"))
        & (F.col("stop_cnt") >= 2)
        & (5 * F.col("nu") >= 2 * F.col("n"))
    )
    b = f.select(
        F.least(F.lit(9), F.greatest(F.lit(0), F.floor((logit + 2.5) / 0.5).cast("int")))
        .cast("long")
        .alias("bin"),
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-logit)) + F.lit(0.5))
        .cast("long")
        .alias("conf_micro"),
        F.when(passing, 1).otherwise(0).alias("pass"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("conf_micro").alias("cm"),
        F.sum("pass").alias("n_pass"),
    )
    tot = g.agg(F.sum("n_docs").alias("total"))
    mean_conf = F.col("cm").cast("double") / (F.col("n_docs") * F.lit(1000000.0))
    frac_pass = F.col("n_pass").cast("double") / F.col("n_docs")
    return g.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_docs",
        "n_pass",
        mean_conf.alias("mean_conf"),
        frac_pass.alias("frac_pass"),
        F.abs(mean_conf - frac_pass).alias("abs_gap"),
        (
            (F.col("n_docs").cast("double") / F.col("total"))
            * F.abs(mean_conf - frac_pass)
        ).alias("ece_contrib"),
    )


# nDCG discounts 1/log2(rank+1), pre-quantized to integer micro-units in
# PYTHON and embedded as identical literals in both engines — no runtime
# transcendental, so rank-weighted gains are exact integer sums.
_NDCG_DISC = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_NDCG_CUM = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667, 3638000, 3953465, 4254495, 4543560]


def _retrieval_eval_oracle() -> str:
    disc = " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISC)
    )
    idcg = " ".join(
        f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_NDCG_CUM)
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 20
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS clabel
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, qlabel, neighbor_id, clabel,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
      FROM q JOIN c ON query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ),
    per AS (
      SELECT query_id, qlabel,
             sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS hits,
             sum(CASE WHEN clabel = qlabel
                      THEN CASE rank {disc} ELSE 0 END ELSE 0 END) AS dcg_micro,
             min(CASE WHEN clabel = qlabel THEN rank END) AS first_rel
      FROM ranked WHERE rank <= 10 GROUP BY 1, 2
    ),
    lc AS (SELECT label, count(*) AS c FROM embeddings GROUP BY 1)
    SELECT p.query_id,
           CAST(l.c - 1 AS BIGINT) AS n_rel,
           CAST(p.hits AS BIGINT) AS hits10,
           CASE WHEN p.first_rel IS NULL THEN 0.0
                ELSE 1.0 / p.first_rel END AS mrr10,
           CAST(p.dcg_micro AS DOUBLE)
             / (CASE least(10, l.c - 1) {idcg} END) AS ndcg10,
           CAST(p.hits AS DOUBLE) / (l.c - 1) AS recall10
    FROM per p JOIN lc l ON l.label = p.qlabel
    """


@query("q223_retrieval_eval", _retrieval_eval_oracle())
def q223_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard over the embedding index: per query
    vector (vec_id < 20), MRR@10, nDCG@10 and Recall@10 of exact cosine
    top-10 against label-match relevance — the eval harness you run after
    every index/quantization change (pairs with q109/q146's recall-only
    probes by adding the rank-weighted metrics IR work actually reports).

    Determinism: discounts 1/log2(r+1) are Python-precomputed integer
    micro-unit literals embedded in BOTH engines, so DCG is an exact
    integer sum; MRR and recall are exact integer ratios; cosine ranking
    reuses q27's bit-identical formula with id tie-breaks. Scale shape:
    queries broadcast against one corpus scan (cosine_topk); neighbor
    labels come from a SECOND corpus scan that streams against the
    broadcast q x k top frame — the corpus itself is never broadcast
    (SCALE.md's O(model)-broadcast policy); query labels and per-label
    counts are bounded aggregates/filters and ride as broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    top = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 20), "vec_id", "embedding", k=10, dim=64
    )
    qlab = F.broadcast(
        emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        )
    )
    # neighbor labels: stream the corpus scan against the broadcast top
    # frame (q x k rows) — never the reverse
    t = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("clabel"))
        .join(F.broadcast(top), "neighbor_id")
        .join(qlab, "query_id")
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rank").cast("int")
    )
    rel = F.col("clabel") == F.col("qlabel")
    per = t.groupBy("query_id", "qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("hits"),
        F.sum(F.when(rel, disc).otherwise(F.lit(0))).alias("dcg_micro"),
        F.min(F.when(rel, F.col("rank"))).alias("first_rel"),
    )
    lc = F.broadcast(emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")))
    cum = F.element_at(
        F.array(*[F.lit(c) for c in _NDCG_CUM]),
        F.least(F.lit(10), (F.col("c") - 1).cast("int")),
    )
    return per.join(lc, per.qlabel == lc.label).select(
        "query_id",
        (F.col("c") - 1).cast("long").alias("n_rel"),
        F.col("hits").cast("long").alias("hits10"),
        F.when(F.col("first_rel").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_rel"))
        .alias("mrr10"),
        (F.col("dcg_micro").cast("double") / cum).alias("ndcg10"),
        (F.col("hits").cast("double") / (F.col("c") - 1)).alias("recall10"),
    )


@query(
    "q224_k_anonymity",
    """
    WITH keyed AS (
      SELECT u.lvl AS lvl, u.k AS k FROM (
        SELECT unnest([
          {'lvl': 'nation_seg_bal100',
           'k': CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|'
                || CAST(CAST(floor(c_acctbal / 100.0) AS BIGINT) AS VARCHAR)},
          {'lvl': 'nation_seg_bal1000',
           'k': CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|'
                || CAST(CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS VARCHAR)},
          {'lvl': 'region_seg_bal1000',
           'k': CAST(n_regionkey AS VARCHAR) || '|' || c_mktsegment || '|'
                || CAST(CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS VARCHAR)},
          {'lvl': 'region_seg',
           'k': CAST(n_regionkey AS VARCHAR) || '|' || c_mktsegment}
        ]) AS u
        FROM customer JOIN nation ON n_nationkey = c_nationkey
      )
    ),
    grp AS (SELECT lvl, k, count(*) AS c FROM keyed GROUP BY 1, 2)
    SELECT lvl,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_at_risk,
           CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
             AS frac_at_risk,
           CAST(min(c) AS BIGINT) AS min_group
    FROM grp GROUP BY 1
    """,
)
def q224_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit across a generalization lattice: for four
    quasi-identifier coarsenings of (nation, market segment, account-
    balance bucket), how many customers sit in groups smaller than k=5 —
    the re-identification risk number a privacy review asks for before a
    table leaves the boundary, and the lattice walk a Mondrian-style
    anonymizer automates.

    Determinism: balance buckets are floor() of the identical IEEE
    division (exact both engines, negative balances floor the same way);
    everything else is integer counts. Scale shape: one scan explodes 4
    level keys per row (q188's panel shape), ONE hash aggregate on
    (level, key), then a level-sized rollup — no joins beyond the
    broadcast nation dim, no per-level rescans."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    nk = F.col("c_nationkey").cast("string")
    rk = F.col("n_regionkey").cast("string")
    seg = F.col("c_mktsegment")
    b100 = F.floor(F.col("c_acctbal") / 100.0).cast("long").cast("string")
    b1000 = F.floor(F.col("c_acctbal") / 1000.0).cast("long").cast("string")
    bar = F.lit("|")
    levels = F.array(
        F.struct(
            F.lit("nation_seg_bal100").alias("lvl"),
            F.concat(nk, bar, seg, bar, b100).alias("k"),
        ),
        F.struct(
            F.lit("nation_seg_bal1000").alias("lvl"),
            F.concat(nk, bar, seg, bar, b1000).alias("k"),
        ),
        F.struct(
            F.lit("region_seg_bal1000").alias("lvl"),
            F.concat(rk, bar, seg, bar, b1000).alias("k"),
        ),
        F.struct(
            F.lit("region_seg").alias("lvl"),
            F.concat(rk, bar, seg).alias("k"),
        ),
    )
    keyed = j.select(F.explode(levels).alias("u")).select("u.lvl", "u.k")
    grp = keyed.groupBy("lvl", "k").agg(F.count(F.lit(1)).alias("c"))
    risk = F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
    return grp.groupBy("lvl").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("c").alias("n_rows"),
        risk.alias("n_at_risk"),
        (risk.cast("double") / F.sum("c")).alias("frac_at_risk"),
        F.min("c").alias("min_group"),
    )


@query(
    "q225_dp_release",
    f"""
    WITH d AS (
      SELECT event_type, {BUCKET.format(p=86400)} AS day, count(*) AS n_true
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT event_type, day, n_true,
             (CAST(('0x' || substr(md5(event_type || '|' || CAST(day AS VARCHAR)), 1, 12))
                   AS BIGINT) + 0.5) / 281474976710656.0 AS unif
      FROM d
    )
    SELECT event_type, day, CAST(n_true AS BIGINT) AS n_true,
           round(CASE WHEN unif >= 0.5 THEN -ln(2.0 - 2.0 * unif)
                      ELSE ln(2.0 * unif) END, 9) AS noise,
           round(n_true + (CASE WHEN unif >= 0.5 THEN -ln(2.0 - 2.0 * unif)
                                ELSE ln(2.0 * unif) END), 9) AS released
    FROM u
    """,
)
def q225_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (Laplace mechanism,
    eps=1, sensitivity 1): per (event_type, day) the true count, the
    Laplace(1) noise drawn DETERMINISTICALLY from an md5-seeded uniform
    of the cell key (inverse-CDF transform), and the released noisy
    count. Seeded noise is how a release pipeline stays reproducible and
    auditable across reruns/engines — rand() would be neither.

    Determinism: the uniform is (48-bit md5 prefix + 0.5)/2^48, strictly
    inside (0,1) so ln() never sees 0; ln outputs round(9) on BOTH
    engines per the file-wide transcendental policy (never at decimal
    halves). Scale shape: one hash aggregate, then pure codegen math on
    the aggregate — adding noise costs nothing at any scale."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", timeops.bucket_epoch("ts", 86400).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_true"))
    unif = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_type"), F.lit("|"), F.col("day").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(281474976710656.0)
    noise = F.when(unif >= 0.5, -F.log(F.lit(2.0) - F.lit(2.0) * unif)).otherwise(
        F.log(F.lit(2.0) * unif)
    )
    return d.select(
        "event_type",
        "day",
        F.col("n_true").cast("long").alias("n_true"),
        F.round(noise, 9).alias("noise"),
        F.round(F.col("n_true") + noise, 9).alias("released"),
    )


@query(
    "q226_anova_length",
    f"""
    WITH d AS (
      SELECT source AS g, len(string_split({_NT}, ' ')) AS x FROM documents
    ),
    g AS (SELECT g, count(*) AS ng, sum(x) AS sg, sum(x * x) AS qg
          FROM d GROUP BY 1),
    gm AS (
      SELECT ng, sg, qg,
             CAST(floor(CAST(sg AS DOUBLE) * sg / ng * 1000000.0 + 0.5)
                  AS BIGINT) AS tm
      FROM g
    ),
    a AS (SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS s, sum(qg) AS q,
                 sum(tm) AS tsum FROM gm)
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n,
           CAST(tsum - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000000.0 + 0.5)
                            AS BIGINT) AS BIGINT) / 1000000.0 AS ssb,
           CAST(q * 1000000 - tsum AS BIGINT) / 1000000.0 AS ssw,
           (CAST(tsum - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000000.0 + 0.5)
                             AS BIGINT) AS DOUBLE) / (k - 1))
             / (CAST(q * 1000000 - tsum AS DOUBLE) / (n - k)) AS f_stat
    FROM a
    """,
)
def q226_anova_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document token count across sources: does source
    explain length variance? The F statistic quantifies what q192's KS
    tests pairwise and q211's bias audit eyeballs — the single-number
    screen before a mixing decision treats sources as interchangeable.

    Determinism/scale: see operators/stats.anova_oneway — per-group exact
    BIGINT sums, between-terms micro-quantized per group, one group-keyed
    aggregate + a 1-row rollup."""
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.stats import anova_oneway

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(F.split(normalize_text("text"), " ")).alias("x")
    )
    return anova_oneway(d, "source", "x")


@query(
    "q227_mannwhitney_length",
    f"""
    WITH d AS (
      SELECT lang AS g, len(string_split({_NT}, ' ')) AS x FROM documents
    ),
    cgx AS (SELECT g, x, count(*) AS c FROM d GROUP BY 1, 2),
    ct AS (SELECT x, count(*) AS ct FROM d GROUP BY 1),
    nn AS (SELECT count(*) AS nn FROM d),
    ties AS (SELECT sum(ct * ct * ct - ct) AS tie3 FROM ct),
    ranked AS (
      SELECT x, ct, 2 * (sum(ct) OVER (ORDER BY x) - ct) + ct + 1 AS dr
      FROM ct
    ),
    r2 AS (SELECT g, sum(c) AS n1, sum(c * dr) AS r2
           FROM cgx JOIN ranked USING (x) GROUP BY 1)
    SELECT g AS lang, CAST(n1 AS BIGINT) AS n,
           CAST(r2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u,
           CAST((r2 - n1 * (n1 + 1)) - n1 * (nn - n1) AS DOUBLE) / 2.0
             / sqrt(CAST(n1 AS DOUBLE) * (nn - n1) / 12.0
                    * ((nn + 1) - CAST(tie3 AS DOUBLE) / (nn * (nn - 1)))) AS z
    FROM r2, nn, ties
    """,
)
def q227_mannwhitney_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum of token count, each language vs the rest —
    the nonparametric 'is this language's length distribution shifted'
    test (robust where ANOVA's variance decomposition is not: heavy
    tails, ordinal axes). Tie-corrected z via doubled integer midranks.

    Determinism/scale: see operators/stats.mann_whitney_u — the pooled
    ranking is computed on the VALUE GRID (never a raw-frame sort),
    doubled midranks keep every rank integer at ties, and z's sqrt is a
    fixed IEEE sequence over exact integer ratios."""
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.stats import mann_whitney_u

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", F.size(F.split(normalize_text("text"), " ")).alias("x")
    )
    return mann_whitney_u(d, "lang", "x")


def _bootstrap_oracle() -> str:
    from zenodb_spark.operators.stats import POISSON1_CDF

    khex = [format(round(t * 65536), "04x") for t in POISSON1_CDF]
    wsum = " + ".join(
        f"(CASE WHEN substr(h, CAST(j * 4 + 1 AS BIGINT), 4) >= '{k}' THEN 1 ELSE 0 END)"
        for k in khex
    )
    return f"""
    WITH d AS (
      SELECT event_type AS g, {C.format(x='value')} AS x,
             CAST(event_id AS VARCHAR) AS rid
      FROM events
    ),
    eg AS (
      SELECT g, x, md5(rid || ':' || CAST(grp AS VARCHAR)) AS h, grp
      FROM (SELECT g, x, rid, unnest(range(0, 5)) AS grp FROM d)
    ),
    wtd AS (
      SELECT g, x, grp * 8 + j AS r, {wsum} AS w
      FROM (SELECT g, x, h, grp, unnest(range(0, 8)) AS j FROM eg)
    ),
    pr AS (SELECT g, r, sum(w * x) AS sw, sum(w) AS cw FROM wtd GROUP BY 1, 2),
    m AS (SELECT g, CAST(sw AS DOUBLE) / cw AS m FROM pr WHERE cw > 0),
    base AS (SELECT g, count(*) AS n, sum(x) AS s FROM d GROUP BY 1),
    ci AS (SELECT g, quantile_cont(m, 0.025) AS ci_lo,
                  quantile_cont(m, 0.975) AS ci_hi FROM m GROUP BY 1)
    SELECT b.g AS event_type, CAST(b.n AS BIGINT) AS n,
           CAST(b.s AS DOUBLE) / b.n AS mean_cents, ci.ci_lo, ci.ci_hi
    FROM base b JOIN ci ON b.g = ci.g
    """


@query("q228_bootstrap_ci", _bootstrap_oracle())
def q228_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval of mean event value (in cents)
    per event type, via the Poisson bootstrap — the distributed-data
    bootstrap where each row draws an independent Poisson(1) multiplicity
    per replicate, so resampling never needs a global pass (Chamandy et
    al., 'Estimating Uncertainty for Massive Data Streams', Google 2012).
    The error bar every A/B readout (q101) should carry.

    Determinism: one md5 per (row, replicate-octet) seeds eight 16-bit
    draws compared lexicographically against Python-precomputed 4-hex
    Poisson CDF literals (no runtime exp() or base conversion), replicate
    means are exact-integer ratios, and the CI is the exact interpolated
    percentile over the 40 replicate means (quantile_cont-equal).
    Scale shape: see operators/stats.poisson_bootstrap_mean_ci — one
    exploded scan, ONE (group, replicate) shuffle, groups x 40 rollup."""
    from zenodb_spark.operators.stats import poisson_bootstrap_mean_ci

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", cents(F.col("value")).alias("x"), F.col("event_id")
    )
    out = poisson_bootstrap_mean_ci(d, "event_type", "x", "event_id", reps=40)
    return out.withColumnRenamed("mean", "mean_cents")


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
    import tempfile

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


@query(
    "q230_hashed_features",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, source,
             unnest(string_split({_NT}, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc, source,
             CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 16 AS b,
             count(*) AS tf
      FROM toks WHERE len(tok) > 0 GROUP BY 1, 2, 3
    ),
    dsq AS (SELECT doc, source, sum(tf * tf) AS tfsq FROM tf GROUP BY 1, 2),
    nd AS (SELECT source, count(DISTINCT doc) AS n_docs FROM tf GROUP BY 1),
    cent AS (
      SELECT t.source, t.b, CAST(sum(t.tf) AS DOUBLE) / max(n.n_docs) AS c
      FROM tf t JOIN nd n ON n.source = t.source GROUP BY 1, 2
    ),
    csq AS (
      SELECT source,
             sum(CAST(floor(c * c * 1000000.0 + 0.5) AS BIGINT)) AS csq_micro
      FROM cent GROUP BY 1
    ),
    cross_t AS (
      SELECT t.doc, t.source AS true_source, c.source AS cand,
             sum(CAST(floor(t.tf * c.c * 1000000.0 + 0.5) AS BIGINT)) AS tfc_micro
      FROM tf t JOIN cent c USING (b)
      GROUP BY 1, 2, 3
    ),
    dist AS (
      SELECT x.doc, x.true_source, x.cand,
             d.tfsq * 1000000 - 2 * x.tfc_micro + q.csq_micro AS dist_micro
      FROM cross_t x
      JOIN dsq d ON d.doc = x.doc
      JOIN csq q ON q.source = x.cand
    ),
    pred AS (
      SELECT doc, true_source, cand,
             row_number() OVER (
               PARTITION BY doc ORDER BY dist_micro, cand) AS rk
      FROM dist
    )
    SELECT true_source AS source, cand AS pred_source,
           CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
)
def q230_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization + nearest-centroid source classifier:
    each document becomes a 16-dim hashed term-frequency vector (the
    vowpal-wabbit feature hashing that needs no vocabulary broadcast at
    any corpus size), per-source centroids are computed in one aggregate,
    and every doc is assigned to its nearest centroid — output is the
    source confusion matrix (how separable the sources are in hashed-TF
    space, the cheap signal before training a real router).

    Determinism: distances decompose as ||tf||² − 2⟨tf,c⟩ + ||c||² with
    the two centroid-dependent terms micro-quantized per (bucket) row
    BEFORE their sums (the ln() policy), so the argmin compares exact
    integers with a source tie-break. Scale shape: tf is one hash
    aggregate; centroids are an O(sources × 16) frame that BROADCASTS
    into the cross-term join (never a corpus shuffle on 16 skewed bucket
    keys); everything after is doc-grain arithmetic."""
    from zenodb_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.explode(F.split(normalize_text("text"), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy(
        "doc",
        "source",
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % 16).alias("b"),
    ).agg(F.count(F.lit(1)).alias("tf"))
    # four consumers (dsq, centroids, csq via centroids, cross-term) would
    # otherwise each re-plan the tokenize+explode subtree — one corpus scan
    # apiece at 100 TB; checkpoint the hashed-TF frame once (lazy: blocks
    # freed by the ContextCleaner when the result frame is dropped)
    tf = tf.localCheckpoint(eager=False)
    dsq = tf.groupBy("doc", "source").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("tfsq")
    )
    nd = tf.groupBy("source").agg(F.countDistinct("doc").alias("n_docs"))
    cent = (
        tf.join(F.broadcast(nd), "source")
        .groupBy("source", "b")
        .agg((F.sum("tf").cast("double") / F.max("n_docs")).alias("c"))
    )
    csq = cent.groupBy("source").agg(
        F.sum(F.floor(F.col("c") * F.col("c") * F.lit(1000000.0) + F.lit(0.5)).cast("long")).alias(
            "csq_micro"
        )
    )
    cross_t = (
        tf.join(
            F.broadcast(cent.select(F.col("source").alias("cand"), "b", "c")), "b"
        )
        .groupBy("doc", F.col("source").alias("true_source"), "cand")
        .agg(
            F.sum(
                F.floor(F.col("tf") * F.col("c") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
            ).alias("tfc_micro")
        )
    )
    dist = (
        cross_t.join(dsq.select("doc", "tfsq"), "doc")
        .join(F.broadcast(csq.select(F.col("source").alias("cand"), "csq_micro")), "cand")
        .select(
            "doc",
            "true_source",
            "cand",
            (
                F.col("tfsq") * F.lit(1000000)
                - 2 * F.col("tfc_micro")
                + F.col("csq_micro")
            ).alias("dist_micro"),
        )
    )
    w = Window.partitionBy("doc").orderBy("dist_micro", "cand")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy(F.col("true_source").alias("source"), F.col("cand").alias("pred_source"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


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


# ---------------------------------------------------------------------------
# Streaming near-dup (round 5): LSH dedup against accumulated history
# ---------------------------------------------------------------------------


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
    WITH sh AS ({_SHINGLE_SQL}),
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
    import os
    import shutil
    import tempfile
    import time

    from zenodb_spark.streaming.neardup import start_neardup_stream

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
            from zenodb_spark.streaming.neardup import _read_ptr

            ptr = _read_ptr(f"{tmp}/state/bands")
            if ptr and ptr.get("table"):
                spark.sql(f"DROP TABLE IF EXISTS {ptr['table']}")
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, schema="source string, n_docs long, n_dropped long, n_kept long"
    )
