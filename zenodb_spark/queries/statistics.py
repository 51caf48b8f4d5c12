"""Statistical tests and estimators over the events, documents and order
tables: distribution distances, correlation, dispersion, seasonality,
drift, exact quantiles, privacy-preserving releases and bootstrap
intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.functions.measures import cents
from zenodb_spark.operators import timeops
from zenodb_spark.operators.percentile import (
    exact_quantile_2pass,
    exact_quantile_2pass_grouped,
    hist_agg,
    hist_quantile,
    percentile_exact,
)
from zenodb_spark.operators.stats import (
    POISSON1_CDF,
    anova_oneway,
    chi2_contingency,
    ks_distance_by_group,
    mann_whitney_u,
    poisson_bootstrap_mean_ci,
)
from zenodb_spark.queries.common import (
    BUCKET,
    C,
    MD5_UNIFORM,
    TOKENIZE,
    TOKENIZE_NONEMPTY,
    md5_uniform,
    query,
    tokenize,
    tokenize_nonempty,
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
    "q88_length_diversity_corr",
    f"""
    WITH s AS (
      SELECT source,
             CAST(len({TOKENIZE.format(x='text')}) AS BIGINT) AS x,
             CAST(floor(CAST(len(list_distinct({TOKENIZE.format(x='text')}))
                             AS DOUBLE)
                        / len({TOKENIZE.format(x='text')})
                        * 1000000 + 0.5) AS BIGINT) AS y
      FROM documents
      WHERE len({TOKENIZE.format(x='text')}) > 0
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
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
      SELECT source, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
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
    "q94_source_kl",
    f"""
    WITH toks AS (
      SELECT source, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
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
    "q101_ab_lift",
    f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             {MD5_UNIFORM.format(x='CAST(user_id AS VARCHAR)', n=4)} % 2 AS variant
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
        md5_uniform(F.col("user_id").cast("string"), 4)
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
    "q152_weighted_median",
    f"""
    WITH d AS (
      SELECT source,
             length(text) AS n_chars,
             CAST(len({TOKENIZE_NONEMPTY.format(x='text')}) AS BIGINT) AS w
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

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(
            tokenize_nonempty("text")
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

    ev = load_table(spark, sf_dir, "events")
    return exact_quantile_2pass_grouped(ev, ["event_type"], "value", 0.95)


@query(
    "q192_length_ks",
    f"""
    WITH d AS (SELECT source, len({TOKENIZE.format(x='text')}) AS l FROM documents),
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

    d = docs.select(
        "source", F.size(tokenize("text")).alias("l")
    )
    return ks_distance_by_group(d, "source", "l")


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

    return chi2_contingency(docs, "source", "lang")


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

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"), "o_orderpriority"
    )
    return chi2_contingency(d, "month", "o_orderpriority")


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
             ({MD5_UNIFORM.format(x="event_type || '|' || CAST(day AS VARCHAR)", n=12)} + 0.5)
               / 281474976710656.0 AS unif
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
        md5_uniform(F.concat(F.col("event_type"), F.lit("|"), F.col("day").cast("string")), 12)
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
      SELECT source AS g, len({TOKENIZE.format(x='text')}) AS x FROM documents
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

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(tokenize("text")).alias("x")
    )
    return anova_oneway(d, "source", "x")


@query(
    "q227_mannwhitney_length",
    f"""
    WITH d AS (
      SELECT lang AS g, len({TOKENIZE.format(x='text')}) AS x FROM documents
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

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", F.size(tokenize("text")).alias("x")
    )
    return mann_whitney_u(d, "lang", "x")


def _bootstrap_oracle() -> str:
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

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", cents(F.col("value")).alias("x"), F.col("event_id")
    )
    out = poisson_bootstrap_mean_ci(d, "event_type", "x", "event_id", reps=40)
    return out.withColumnRenamed("mean", "mean_cents")
