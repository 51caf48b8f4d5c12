"""Distribution-drift statistics for corpus QA (extension beyond the
reference per BASELINE.json's north star — no reference equivalent):
exact two-sample Kolmogorov–Smirnov distance per group, and Pearson
chi-square contingency contributions. Both are engine-exact: every
comparison happens on integer cross-products, with a single trailing
IEEE division (KS) or per-cell micro-quantization before integer sums
(chi-square, the ln() policy of the queries package's determinism rules)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.operators.util import share


def ks_distance_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact two-sample KS statistic of each group's ``value_col``
    distribution vs the REST of the frame: D = max_x |F_g(x) − F_rest(x)|.

    Returns (group_col, n_docs, ks). Exactness: with cum1 = #{group ≤ x},
    cum2 = #{rest ≤ x}, D = max |cum1·n2 − cum2·n1| / (n1·n2) — the max runs
    over INTEGER cross-products, so both the argmax and the one trailing
    division are engine-independent. Overflow-safe to ~3e9 rows
    (cum·n ≤ N² < 2⁶³).

    Scale shape: the CDF grid is (groups × distinct values) — a broadcast
    cross of two aggregates bounded by the value domain, never the raw
    frame; cumulative sums are per-group windows over that grid. Suited to
    bounded/discretized axes (lengths, scores, bucketed floats); a
    continuous axis should be quantized first (the KS of the quantized
    distributions lower-bounds the true D by at most one bin's mass)."""
    # five consumers (per-cell counts, group sizes, the value grid, value
    # totals, grand total) would each recompute the caller's value
    # expression over the full frame (q192 pays a regex-normalize + split
    # per consumer); checkpoint the narrow (g, x) projection once
    d = share(df.select(F.col(group_col).alias("g"), F.col(value_col).alias("x")))
    c1 = d.groupBy("g", "x").agg(F.count(F.lit(1)).alias("c"))
    grps = d.groupBy("g").agg(F.count(F.lit(1)).alias("n1"))
    xs = d.select("x").distinct()
    tot = d.groupBy("x").agg(F.count(F.lit(1)).alias("ct"))
    nn = d.agg(F.count(F.lit(1)).alias("nn"))
    grid = xs.crossJoin(F.broadcast(grps))
    j = (
        grid.join(c1, ["g", "x"], "left")
        .join(tot, "x")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    wc = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = j.select(
        "g",
        "n1",
        F.sum("c").over(wc).alias("cum1"),
        F.sum("ct").over(wc).alias("cumt"),
    )
    ks = (
        cums.crossJoin(F.broadcast(nn))
        .groupBy("g")
        .agg(
            F.max(
                F.abs(
                    F.col("cum1") * (F.col("nn") - F.col("n1"))
                    - (F.col("cumt") - F.col("cum1")) * F.col("n1")
                )
            ).alias("dint"),
            F.max("n1").alias("n1"),
            F.max("nn").alias("nn"),
        )
    )
    return ks.select(
        F.col("g").alias(group_col),
        F.col("n1").cast("long").alias("n_docs"),
        # a group that IS the whole frame has an empty complement: D is
        # undefined → NULL (guards the ANSI divide-by-zero, found by the
        # hypothesis parity test on single-group inputs)
        F.when(
            F.col("nn") > F.col("n1"),
            F.col("dint") / (F.col("n1") * (F.col("nn") - F.col("n1"))),
        ).alias("ks"),
    )


def chi2_contingency(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Pearson chi-square contributions per ``row_col`` over the FULL
    row × column grid (zero cells included — they carry (R·C/N)/1e6 mass
    that a sparse observed-only pass would silently drop).

    Returns (row_col, n_cells, chi2_contrib) with chi2_contrib =
    Σ_col (O−E)²/E for that row. Each cell term is ((O·N − R·C)ᵈ)² /
    (N·R·C)ᵈ — exact integers into a fixed IEEE sequence — micro-quantized
    BEFORE the per-row integer sum, so group totals are associative-exact.
    Overflow-safe to ~3e9 rows (O·N, R·C < 2⁶³). The grid is a broadcast
    cross of two category-bounded aggregates."""
    # o is category-grid-sized but feeds four consumers (row totals, col
    # totals, grand total, the grid join) — without a checkpoint each one
    # re-aggregates the raw frame from the scan (round-6 measured plan)
    o = share(
        df.groupBy(F.col(row_col).alias("r_"), F.col(col_col).alias("c_"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    r = o.groupBy("r_").agg(F.sum("o").alias("r"))
    c = o.groupBy("c_").agg(F.sum("o").alias("c"))
    n = o.agg(F.sum("o").alias("n"))
    grid = r.crossJoin(F.broadcast(c))
    diff = (
        F.coalesce(F.col("o"), F.lit(0)) * F.col("n") - F.col("r") * F.col("c")
    ).cast("double")
    term = (
        diff
        * diff
        / (
            F.col("n").cast("double")
            * F.col("r").cast("double")
            * F.col("c").cast("double")
        )
    )
    cells = (
        grid.join(o, ["r_", "c_"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "r_",
            F.floor(term * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("term_micro"),
        )
    )
    return cells.groupBy("r_").agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum("term_micro") / F.lit(1000000.0)).alias("chi2_contrib"),
    ).withColumnRenamed("r_", row_col)


def anova_oneway(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA F statistic of an INTEGER-valued ``value_col`` across
    the levels of ``group_col`` (continuous axes should be quantized
    first, as with KS).

    Returns ONE row (n_groups, n, ssb, ssw, f_stat). Exactness: per-group
    sums/counts and the global Σx² are exact BIGINTs; each group's
    between-term s_g²/n_g is one fixed IEEE expression micro-quantized
    per DISTINCT group before the integer sum (the queries ln() policy),
    so SSB/SSW are exact integer micro-units with a fixed trailing IEEE
    F ratio. Overflow: needs Σx²·10⁶ < 2⁶³ — fine to ~9e12 of summed
    squares (e.g. 9e6 rows of values ≤ 1000).

    Scale shape: one hash aggregate keyed by group, then a 1-row rollup —
    nothing beyond the group-cardinality frame leaves the first shuffle."""
    d = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("x"))
    g = d.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x") * F.col("x")).alias("qg"),
    )
    term = F.col("sg").cast("double") * F.col("sg") / F.col("ng")
    gm = g.select(
        "ng",
        "sg",
        "qg",
        F.floor(term * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("tm"),
    )
    agg = gm.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum("tm").alias("tsum"),
    )
    grand = (
        F.floor(
            F.col("s").cast("double") * F.col("s") / F.col("n") * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    ssb_micro = F.col("tsum") - grand
    ssw_micro = F.col("q") * F.lit(1000000) - F.col("tsum")
    # degenerate designs (one group, no residual df, zero within-variance)
    # have no F — return NULL rather than trip ANSI divide-by-zero
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw_micro != 0),
        (ssb_micro.cast("double") / (F.col("k") - 1))
        / (ssw_micro.cast("double") / (F.col("n") - F.col("k"))),
    )
    return agg.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n"),
        (ssb_micro / F.lit(1000000.0)).alias("ssb"),
        (ssw_micro / F.lit(1000000.0)).alias("ssw"),
        f_stat.alias("f_stat"),
    )


def mann_whitney_u(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) of each group vs the REST of the frame,
    with tie-corrected normal approximation z.

    Returns (group_col, n, u, z). Exactness: pooled midranks arrive as
    DOUBLED ranks 2·cum_before + ct + 1 — integers even at ties — so the
    rank-sum and U are exact BIGINT halves; the tie correction Σ(t³−t) is
    an exact integer aggregate; z's sqrt is a fixed IEEE sequence over
    exact integer ratios (q70's convention). Overflow-safe to ~1.5e6 rows
    per tie class (t³ < 2⁶³) and ~3e9 total (n₁·n₂ products).

    Scale shape: identical to the KS grid — one (group, value) aggregate,
    one value aggregate, per-group windows over the VALUE GRID (bounded
    by the value domain), never a sort of the raw frame."""
    # three consumers of the narrow projection (cell counts, value totals,
    # grand total) — checkpoint once, same rationale as ks_distance_by_group
    d = share(df.select(F.col(group_col).alias("g"), F.col(value_col).alias("x")))
    cgx = d.groupBy("g", "x").agg(F.count(F.lit(1)).alias("c"))
    ct = d.groupBy("x").agg(F.count(F.lit(1)).alias("ct"))
    nn = d.agg(F.count(F.lit(1)).alias("nn"))
    # tie term over value multiplicities: Σ t³ − t
    ties = ct.agg(
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")).alias("tie3")
    )
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = ct.select(
        "x",
        "ct",
        (F.lit(2) * (F.sum("ct").over(wv) - F.col("ct")) + F.col("ct") + 1).alias("dr"),
    )
    r2 = (
        cgx.join(ranked, "x")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n1"),
            F.sum(F.col("c") * F.col("dr")).alias("r2"),
        )
    )
    j = r2.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    n2 = F.col("nn") - F.col("n1")
    u2 = F.col("r2") - F.col("n1") * (F.col("n1") + 1)  # doubled U
    mu2 = F.col("n1") * n2  # doubled mean n1·n2/2
    var = (
        F.col("n1").cast("double")
        * n2
        / 12.0
        * (
            (F.col("nn") + 1)
            - F.col("tie3").cast("double") / (F.col("nn") * (F.col("nn") - 1))
        )
    )
    # z undefined when a side is empty, nn < 2, or the pooled frame is one
    # giant tie (var == 0) — NULL instead of ANSI divide-by-zero
    z = F.when(
        (F.col("n1") > 0) & (n2 > 0) & (F.col("nn") > 1) & (var > 0),
        (u2 - mu2).cast("double") / F.lit(2.0) / F.sqrt(var),
    )
    return j.select(
        F.col("g").alias(group_col),
        F.col("n1").cast("long").alias("n"),
        (u2.cast("double") / F.lit(2.0)).alias("u"),
        z.alias("z"),
    )


# Poisson(1) CDF thresholds, Python-precomputed so BOTH engines compare the
# SAME literals against the md5 uniform — no runtime exp()/factorials
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
]


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    reps: int = 40,
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Per-group bootstrap confidence interval of the mean of an INTEGER
    ``value_col`` via the Poisson bootstrap (the distributed-data
    bootstrap: each row independently draws a Poisson(1) multiplicity per
    replicate, so no replicate ever needs a global resample).

    Returns (group_col, n, mean, ci_lo, ci_hi). Draws are DETERMINISTIC:
    one md5 of id:group seeds EIGHT replicates (each takes a 4-hex /
    16-bit slice), and the Poisson inverse-CDF thresholds are
    Python-precomputed 4-hex literals compared LEXICOGRAPHICALLY against
    the slice (fixed-length lowercase hex orders like the integer), so
    every engine/run resamples identically with no runtime base
    conversion at all. The 16-bit draw granularity (1/65536) is
    documented: tail weights past the 0.99992 threshold quantize to
    multiples of 2⁻¹⁶ — irrelevant at bootstrap sample sizes. Replicate
    means are ratios of exact BIGINT sums; the CI is the exact
    interpolated percentile (quantile_cont semantics) over the
    ``reps``-sized per-group mean set.

    Scale shape: one scan explodes ×reps (weights are pure codegen string
    compares; md5 runs once per 8 replicates — measured 3.2× over the
    per-replicate 48-bit conv() variant at sf1.0), ONE shuffle keyed
    (group, replicate), then a reps-per-group rollup."""
    khex = [format(round(t * 65536), "04x") for t in POISSON1_CDF]
    n_grp = (reps + 7) // 8
    # two consumers (the ×reps replicate explode and the per-group base
    # stats) — checkpoint the narrow projection so the caller's value/id
    # expressions run once over the scan
    d = share(
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).alias("x"),
            F.col(id_col).cast("string").alias("rid"),
        )
    )
    e = d.select(
        "g", "x", "rid", F.explode(F.sequence(F.lit(0), F.lit(n_grp - 1))).alias("grp")
    ).withColumn("h", F.md5(F.concat(F.col("rid"), F.lit(":"), F.col("grp"))))
    e = e.select(
        "g", "x", "h", "grp", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j")
    ).withColumn("r", F.col("grp") * 8 + F.col("j"))
    if reps % 8:
        e = e.filter(F.col("r") < reps)
    e = e.withColumn("hs", F.substring(F.col("h"), F.col("j") * 4 + 1, 4))
    w = sum(F.when(F.col("hs") >= F.lit(k), 1).otherwise(0) for k in khex)
    per_rep = (
        e.withColumn("w", w)
        .groupBy("g", "r")
        .agg(F.sum(F.col("w") * F.col("x")).alias("sw"), F.sum("w").alias("cw"))
        .filter(F.col("cw") > 0)
        .select("g", (F.col("sw").cast("double") / F.col("cw")).alias("m"))
    )
    base = d.groupBy("g").agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    ci = per_rep.groupBy("g").agg(
        F.percentile(F.col("m"), F.lit(lo)).alias("ci_lo"),
        F.percentile(F.col("m"), F.lit(hi)).alias("ci_hi"),
    )
    return (
        base.join(ci, "g")
        .select(
            F.col("g").alias(group_col),
            F.col("n").cast("long").alias("n"),
            (F.col("s").cast("double") / F.col("n")).alias("mean"),
            "ci_lo",
            "ci_hi",
        )
    )
