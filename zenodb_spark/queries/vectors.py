"""Vectors and media over ``embeddings`` and ``documents``: exact and
approximate nearest neighbours (LSH, IVF, PQ), clustering, embedding
statistics, retrieval evaluation and multimodal frame/resize/embed
operators.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.functions.measures import cents
from zenodb_spark.operators import similarity
from zenodb_spark.operators.dedup import connected_components, normalize_text
from zenodb_spark.operators.multimodal import (
    attach_media,
    embed_media,
    extract_features,
    frame_sample,
    resize,
)
from zenodb_spark.operators.retrieval import bm25_topk
from zenodb_spark.operators.similarity import (
    _planes,
    cell_topk_pairs,
    cosine_topk,
    dot,
    ivf_assign,
    ivf_centroids,
    ivf_search,
    kmeans_step,
    norm,
    pq_assign,
    pq_codebooks,
    pq_lut,
    semdedup_drop_list,
)
from zenodb_spark.operators.topk import topk
from zenodb_spark.operators.util import lit_mat, spread
from zenodb_spark.queries.common import MD5_UNIFORM, NORM, ORACLE, md5_uniform, query
from zenodb_spark.queries.text import _bm25_oracle


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


def _ivf_distances_sql(dim: int, k: int, seed: int) -> str:
    """Twin of ``similarity.ivf_assign``'s distance array: squared L2 from
    ``v`` to each of ``ivf_centroids(dim, k, seed)`` as v·v − 2·v·c + c·c,
    the same IEEE sequence in the same centroid order."""
    terms = []
    for c in ivf_centroids(dim, k, seed):
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        cc = repr(sum((x * x for x in c), 0.0))
        terms.append(f"(list_dot_product(v, v) - 2.0 * list_dot_product(v, {lit}) + {cc})")
    return "[" + ", ".join(terms) + "]"


def _ivf_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    darr = _ivf_distances_sql(dim, k, seed)
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

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, ivf_centroids(64, 8, 43), "vec_id", "embedding")
    return assigned.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec")
    )


def _ivf_search_oracle(dim: int = 64, k: int = 8, seed: int = 43, nprobe: int = 2, topk: int = 5) -> str:
    darr = _ivf_distances_sql(dim, k, seed)
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

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search(
        emb, emb.filter(F.col("vec_id") < 10), ivf_centroids(64, 8, 43),
        "vec_id", "embedding", k=5, nprobe=2,
    )


def _semdedup_oracle(dim: int = 64, k: int = 8, seed: int = 43, thr: float = 0.38) -> str:
    darr = _ivf_distances_sql(dim, k, seed)
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

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_drop_list(emb, ivf_centroids(64, 8, 43), "vec_id", "embedding", 0.38)


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


def _kmeans_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    darr = _ivf_distances_sql(dim, k, seed)
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

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_step(emb, ivf_centroids(64, 8, 43))


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


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 8, seed: int = 101) -> str:
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

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_assign(emb, pq_codebooks(64, 4, 8, 101))
    n = F.count(F.lit(1))
    return codes.groupBy("subspace", "code").agg(
        n.cast("long").alias("n_vecs"),
        (
            F.sum("err_micro").cast("double") / n.cast("double") / F.lit(1e6)).alias("avg_err"),
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


def _adc_oracle(dim: int = 64, m: int = 4, k: int = 8, seed: int = 101) -> str:
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


def _label_noise_oracle(dim: int = 64, k: int = 8, seed: int = 43) -> str:
    darr = _ivf_distances_sql(dim, k, seed)
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
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
      SELECT *, {MD5_UNIFORM.format(x='CAST(vec_id AS VARCHAR)', n=4)} % 10 AS bkt
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

    emb = load_table(spark, sf_dir, "embeddings")
    bkt = (
        md5_uniform(F.col("vec_id").cast("string"), 4) % 10
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
    "q175_embedding_drift",
    f"""
    WITH m AS (
      SELECT CASE WHEN {MD5_UNIFORM.format(x='CAST(vec_id AS VARCHAR)', n=4)} % 2 = 0
                  THEN 'A' ELSE 'B' END AS half,
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
        md5_uniform(F.col("vec_id").cast("string"), 4) % 2 == 0,
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
