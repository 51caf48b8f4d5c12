"""PERCENTILE — exact, approximate, and mergeable-sketch forms.

Reference: ``PERCENTILE(x, p, min, max, precision)`` keeps a bounded HDR
histogram per cell — values clamped to [min, max], `precision` decimal
digits, state merged across buckets, read out as value-at-quantile
(reference expr/percentile.go:31–173). A 2-arg form re-reads a stored
sketch at a different quantile (reference sql/sql.go:794–853).

Spark-first mapping:

- Direct queries → ``percentile(x, p)`` (exact, matches DuckDB
  quantile_cont bit-for-bit) or ``percentile_approx`` for cheap scans.
- Stored/mergeable state → a **fixed-bin linear histogram** on the bounded
  range, exactly the reference's bounded-HDR idea: state is a SPARSE
  ``map<bin,count>`` of occupied bins (the bounded range may span 10k bins;
  paying for all of them per cell is the dense-array mistake — the
  reference's HDR compacts its counts on export too); merge =
  ``map_zip_with(+)``; read = first occupied bin (sorted) where the
  cumulative count crosses ceil(p/100·total), returned as the bin's lower
  bound (integer math → deterministic and engine-independent). All
  built-ins — no UDAF, and the state column aggregates with ordinary
  shuffle-combine at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def percentile_exact(value: Column | str, p: float) -> Column:
    """Exact interpolated percentile (p in [0,1]) — matches quantile_cont."""
    value = F.col(value) if isinstance(value, str) else value
    return F.percentile(value, F.lit(p))


def percentile_approx(value: Column | str, p: float, accuracy: int = 10000) -> Column:
    value = F.col(value) if isinstance(value, str) else value
    return F.percentile_approx(value, F.lit(p), F.lit(accuracy))


HIST_TYPE = "map<bigint,bigint>"  # the stored state: occupied bin → count


def check_bounds(lo: float, hi: float) -> None:
    """Refuse an inverted bounded range: every value would fall outside it
    and the state would read NULL forever."""
    if hi < lo:
        raise ValueError(f"percentile bounds inverted: lo={lo} > hi={hi}")


def hist_bin(value: Column | str, lo: float, hi: float, precision: int) -> Column:
    """Bin index of a value in the bounded linear histogram (null if out of bounds).

    precision = decimal digits retained (reference scales to ints the same
    way; expr/percentile.go:43–53). Bin width = 10^-precision.
    """
    check_bounds(lo, hi)
    value = F.col(value) if isinstance(value, str) else value
    scale = float(10**precision)
    # round, not truncate: (hi-lo)*scale can land at x.9999999… in floats
    # (e.g. (0.3-0.0)*10), and truncation would clamp hi itself into the
    # wrong bin
    nbins = int(round((hi - lo) * scale)) + 1
    idx = F.floor((value - F.lit(lo)) * scale + F.lit(0.5)).cast("long")
    return F.when((value >= lo) & (value <= hi), F.least(idx, F.lit(nbins - 1)))


def hist_agg(
    df: DataFrame,
    group_cols: list[str | tuple[str, Column]],
    value: Column | str,
    lo: float,
    hi: float,
    precision: int,
    state_col: str = "hist",
) -> DataFrame:
    """Aggregate rows to one sparse histogram state (map<bin,count>) per
    group. Two-level: count per (group, bin) — map-side combinable — then
    assemble the occupied-bins map per group. Both stages are plain hash
    aggregates. A ``(name, Column)`` group key groups by that expression
    under that name.

    SPARSE state: a dense array of nbins (up to 10k elements, ~80 KB per
    cell at precision 1 over a 0..1000 range) made every cell and every
    merge pay for the full bounded range; occupied bins only matches the
    reference's HDR sparseness (expr/percentile.go compacts its counts
    array on export).
    """
    binned = df.withColumn("__bin", hist_bin(value, lo, hi, precision)).filter(
        F.col("__bin").isNotNull()
    )
    per_bin = binned.groupBy(
        *[g[1].alias(g[0]) if isinstance(g, tuple) else g for g in group_cols], "__bin"
    ).agg(F.count(F.lit(1)).alias("__c"))
    return per_bin.groupBy(
        *[g[0] if isinstance(g, tuple) else g for g in group_cols]
    ).agg(F.map_from_entries(F.collect_list(F.struct("__bin", "__c"))).alias(state_col))


def hist_merge(state: Column | str) -> Column:
    """Merge histogram states across rows: key-wise sum of sparse maps.

    Usable in ``groupBy().agg(hist_merge("hist").alias("hist"))`` to
    re-aggregate stored sketches to coarser time buckets (the reference's
    SubMerge for percentiles — expr/percentile.go:126–144)."""
    state = F.col(state) if isinstance(state, str) else state
    return F.aggregate(
        F.collect_list(state),
        F.expr(f"CAST(map() AS {HIST_TYPE})"),
        lambda acc, x: F.map_zip_with(
            acc,
            x,
            lambda _k, v1, v2: F.coalesce(v1, F.lit(0).cast("long"))
            + F.coalesce(v2, F.lit(0).cast("long")),
        ),
    )


def hist_quantile(state: Column | str, p: float, lo: float, precision: int) -> Column:
    """Read value-at-quantile from a sparse histogram state (p in [0,100]).

    Deterministic integer scan: the lower bound of the first occupied bin
    (in key order) where the cumulative count reaches ceil(p/100 · total).
    """
    state = F.col(state) if isinstance(state, str) else state
    scale = float(10**precision)
    entries = F.sort_array(F.map_entries(state))
    total = F.aggregate(entries, F.lit(0).cast("long"), lambda a, x: a + x["value"])
    # target rides IN the accumulator, not as a lambda-captured expression
    # (round 6, measured): a higher-order function's lambda re-evaluates
    # every captured subexpression PER ELEMENT, interpreted — with target
    # (itself an O(bins) fold over `total`) inlined into the lambda, the
    # read was O(bins²): 13 s of single-task CPU for q14's five rows at
    # 1001 bins. The zero/initial value is evaluated once per row, so
    # carrying target there makes the fold O(bins) with the identical
    # integer result.
    target = F.ceil(total * F.lit(p) / F.lit(100.0)).cast("long")
    folded = F.aggregate(
        entries,
        F.struct(
            target.alias("target"),
            F.lit(0).cast("long").alias("cum"),
            F.lit(-1).cast("long").alias("ans"),
        ),
        lambda acc, x: F.struct(
            acc["target"].alias("target"),
            (acc["cum"] + x["value"]).alias("cum"),
            F.when(
                (acc["ans"] < 0) & (acc["cum"] + x["value"] >= acc["target"]),
                x["key"].cast("long"),
            )
            .otherwise(acc["ans"])
            .alias("ans"),
        ),
    )
    return F.when(folded["ans"] >= 0, folded["ans"] / F.lit(scale) + F.lit(lo))


def exact_quantile_2pass(
    df: DataFrame,
    value_col: str,
    q: float,
    accuracy: int = 10_000,
) -> DataFrame:
    """EXACT q-quantile (k-th smallest, k = ceil(q·N)) without a global
    sort — the two-pass pattern that stays exact at any scale:

    Pass 1 (narrow): ``approx_percentile`` brackets the answer with
    candidates at q ± 1/accuracy. The sketch's error only affects how
    WIDE the bracket is (≈ 2N/accuracy rows), never the answer.
    Pass 2 (exact): count rows strictly below the bracket (exact
    integer rank), pull only the bracketed slice, and select the element
    whose exact rank is k with a single-partition row_number over that
    small slice. A global orderBy would range-shuffle ALL N rows; here
    the full data is only scanned (twice) and the sort touches
    ~2N/accuracy rows — pick accuracy ~ √N so the slice fits one
    executor comfortably (1e12 rows, accuracy 1e6 → 2M-row slice).

    Exactness does not depend on the sketch: if the bracket were
    misestimated the rank arithmetic would select nothing, never a wrong
    element — and approx_percentile's rank error is hard-bounded at
    N/accuracy, so k always lands inside. Returns a 1-row DataFrame
    (k, n, value).
    """
    v = F.col(value_col)
    src = df.filter(v.isNotNull()).select(v.alias("v"))
    lo_q = max(0.0, q - 1.0 / accuracy)
    hi_q = min(1.0, q + 1.0 / accuracy)
    b = src.agg(
        F.percentile_approx("v", [lo_q, hi_q], accuracy).alias("bracket"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    lo, hi, n = b["bracket"][0], b["bracket"][1], b["n"]
    import math

    k = max(1, int(math.ceil(q * n)))
    below = src.filter(F.col("v") < F.lit(lo)).count()
    slice_df = src.filter((F.col("v") >= F.lit(lo)) & (F.col("v") <= F.lit(hi)))
    w = Window.orderBy("v")
    return (
        slice_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.lit(k - below))
        .select(
            F.lit(int(k)).alias("k"),
            F.lit(int(n)).alias("n"),
            F.col("v").alias("value"),
        )
    )


def exact_quantile_2pass_grouped(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    q: float,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group EXACT q-quantile (k-th smallest, k = ceil(q·n_g)) with no
    per-group sort and NO driver round-trip — the grouped generalization
    of ``exact_quantile_2pass``:

    1. one aggregate computes each group's approx bracket (percentile
       error bounds only the bracket width) and exact count;
    2. the brackets join back (broadcast when groups fit, shuffle-keyed
       otherwise — either way a plain equi-join);
    3. exact ranks below each bracket are one filtered count;
    4. a row_number window over each group's ~2n_g/accuracy bracketed
       SLICE — partitioned by group, so no global single-task sort —
       selects the element whose exact rank is k.

    Returns one row per group: (keys…, k, n, value). Null values are
    ignored; empty groups do not appear."""
    v = F.col(value_col)
    src = df.filter(v.isNotNull()).select(*keys, v.alias("__v"))
    lo_q = max(0.0, q - 1.0 / accuracy)
    hi_q = min(1.0, q + 1.0 / accuracy)
    br = src.groupBy(*keys).agg(
        F.percentile_approx("__v", [lo_q, hi_q], accuracy).alias("__br"),
        F.count(F.lit(1)).alias("__n"),
    )
    br = br.select(
        *keys,
        F.col("__br")[0].alias("__lo"),
        F.col("__br")[1].alias("__hi"),
        "__n",
        F.ceil(F.lit(q) * F.col("__n")).cast("long").alias("__k"),
    )
    j = src.join(br, keys)
    below = (
        j.filter(F.col("__v") < F.col("__lo"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__below"))
    )
    w = Window.partitionBy(*keys).orderBy("__v")
    return (
        j.filter((F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi")))
        .join(below, keys, "left")
        .withColumn("__below", F.coalesce(F.col("__below"), F.lit(0)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == F.col("__k") - F.col("__below"))
        .select(
            *keys,
            F.col("__k").alias("k"),
            F.col("__n").alias("n"),
            F.col("__v").alias("value"),
        )
    )
