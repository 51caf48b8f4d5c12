"""KMV (k-minimum-values) distinct-set sketches with set operations.

HLL (z14) answers |A| per group; it cannot answer |A ∩ B| or Jaccard
between groups. The KMV sketch — keep the k smallest hash values of the
distinct elements — supports exactly that: the union sketch is the k
smallest of the merged lists, and J(A,B) ≈ |KMV_k(A∪B) ∩ A_mins ∩
B_mins| / k (Beyer et al., "On Synopses for Distinct-Value Estimation
Under Multiset Operations", SIGMOD 2007). Error ~ 1/√k.

Engine-exact by construction: the "hash" is the md5 hex string — fixed
width, lowercase, so LEXICOGRAPHIC order IS numeric order and any engine
that sorts strings reproduces the identical sketch (no float hash
fractions, no platform RNG). The k-min aggregation is two-phase: a
salted map-side k-min bounds every intermediate list at k elements, then
the per-key merge takes the k smallest of the survivors — the global
k-min regardless of how the salt splits the data, so a hot key never
materializes its full distinct set anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["kmv_sketch", "kmv_estimate", "kmv_jaccard", "heavy_hitters"]


def kmv_sketch(
    df: DataFrame,
    keys: list[str],
    value: str,
    k: int = 64,
    n_salts: int = 64,
) -> DataFrame:
    """Per-``keys`` KMV sketch of ``value``: column ``kmin`` holds the k
    lexicographically-smallest md5 hex digests of the distinct values.
    Output is one row per key group — O(k) state, mergeable by
    re-sorting concatenated lists."""
    h = df.select(
        *keys, F.md5(F.col(value).cast("string")).alias("hx")
    ).distinct()
    salted = h.withColumn(
        "__salt",
        F.pmod(
            F.conv(F.substring("hx", 1, 4), 16, 10).cast("long"), F.lit(n_salts)
        ),
    )
    local = salted.groupBy(*keys, "__salt").agg(
        F.slice(F.array_sort(F.collect_list("hx")), 1, k).alias("mins")
    )
    return local.groupBy(*keys).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("mins"))), 1, k).alias(
            "kmin"
        )
    )


def kmv_estimate(sketch: Column | str, k: int) -> Column:
    """Distinct-count estimate from a k-min sketch of md5 hex digests.

    Below k members the sketch IS the set, so its size is exact; at k, the
    classic (k-1)/h_(k) estimator, with h_(k) read from the first 8 hex
    chars of the k-th smallest digest (32 bits / 2^32 — exactly
    reproducible in any engine with md5). A missing sketch estimates 0."""
    sketch = F.col(sketch) if isinstance(sketch, str) else sketch
    # floor at 2^-32 so a k-th digest with 8 leading zero hex chars
    # (P ≈ 2^-32 per read) estimates 2^32·(k-1) instead of nulling the
    # group — keeps the estimator total
    frac = F.greatest(
        F.conv(F.substring(F.element_at(sketch, k), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0),
        F.lit(2.0**-32),
    )
    return (
        F.when(sketch.isNull(), F.lit(0.0))
        .when(F.size(sketch) < k, F.size(sketch).cast("double"))
        .otherwise(F.lit(float(k - 1)) / frac)
    )


def _union_k(a: Column, b: Column, k: int) -> Column:
    return F.slice(F.array_sort(F.array_union(a, b)), 1, k)


def kmv_jaccard(
    sk_a: DataFrame,
    sk_b: DataFrame,
    join_cond,
    k: int = 64,
) -> DataFrame:
    """Estimated Jaccard between two sketch frames (columns ``kmin`` as
    produced by kmv_sketch, aliased ``a``/``b``): n_shared / |U_k| where
    U_k is the union sketch (k smallest of the merged lists) and
    n_shared counts its members present in BOTH input sketches. The
    denominator is |U_k| = min(k, |A∪B|), NOT k: when the true union is
    smaller than k the sketch is exhaustive and dividing by k would
    underestimate (found by the small-set audit test). Pure array
    built-ins on O(k) lists — the pair join moves sketches, never
    data."""
    uk = _union_k(F.col("a.kmin"), F.col("b.kmin"), k)
    return (
        sk_a.alias("a")
        .join(sk_b.alias("b"), join_cond)
        .withColumn(
            "n_shared",
            F.size(
                F.array_intersect(
                    F.array_intersect(uk, F.col("a.kmin")), F.col("b.kmin")
                )
            ),
        )
        .withColumn("n_union_k", F.size(uk))
        .withColumn(
            "est_jaccard",
            (F.col("n_shared") / F.col("n_union_k").cast("double")),
        )
    )


def heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """EXACT φ-heavy hitters — every key with global count ≥ N/k, with its
    exact count — via the two-pass pattern that works at any scale:

    Pass 1 (candidates, no shuffle): each partition streams its Arrow
    batches through one Misra-Gries summary of capacity 2k (mapInPandas;
    k counters merged batch-by-batch with the standard subtract-the-
    (cap+1)-th-largest merge, Agarwal et al., "Mergeable Summaries",
    PODS'12). MG's deterministic guarantee: a key with partition frequency
    > n_p/(2k+1) always survives. Any globally-heavy key (freq ≥ N/k) has,
    by weighted averaging, SOME partition where freq_p/n_p ≥ 1/k >
    1/(2k+1) — so the union of per-partition summaries provably contains
    every true heavy hitter. At most 2k·partitions candidate keys ever
    exist — the full key space is never shuffled or held anywhere.

    Pass 2 (exact recount): broadcast the candidate set, semi-join the
    corpus, count exactly, keep count·k ≥ N. False candidates die here;
    true ones emerge with exact counts — approximation bounds the WORK,
    never the ANSWER.

    Returns (key_col, n_occurrences), exact. Null keys are ignored.
    """
    cap = 2 * int(k)
    dtype = dict(df.dtypes)[key_col]
    src = df.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull())

    def _mg_partition(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for key, c in pdf["key"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > cap:
                kth = sorted(counters.values(), reverse=True)[cap]
                counters = {x: c - kth for x, c in counters.items() if c > kth}
        yield pd.DataFrame({"key": list(counters.keys())})

    cands = src.mapInPandas(_mg_partition, schema=f"key {dtype}").distinct()
    total = src.count()
    return (
        src.join(F.broadcast(cands), "key")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * F.lit(int(k)) >= F.lit(total))
        .select(F.col("key").alias(key_col), "n_occurrences")
    )
