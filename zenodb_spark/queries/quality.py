"""Corpus quality and data-mix curation over ``documents``: rule filters,
the linear quality classifier, deterministic sampling and resampling,
mixing weights and dataset cards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.operators import textstats
from zenodb_spark.operators.dedup import normalize_text
from zenodb_spark.operators.util import share
from zenodb_spark.queries.common import (
    CLASSIFIER_FEATURES,
    CLASSIFIER_LOGIT,
    MD5_UNIFORM,
    NORM,
    TOKENIZE,
    TOKENIZE_NONEMPTY,
    _NT,
    classifier_features,
    classifier_logit,
    md5_uniform,
    query,
    tokenize,
    tokenize_nonempty,
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


@query(
    "q37_hash_sample",
    f"""
    WITH s AS (
      SELECT source, doc_id FROM documents
      WHERE {MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=4)} % 10 = 0
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
    bucket = md5_uniform(F.col("doc_id").cast("string"), 4)
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
    "q48_repetition",
    f"""
    WITH t AS (
      SELECT doc_id AS doc, {TOKENIZE.format(x='text')} AS toks
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
    "q65_quality_resample",
    f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENIZE.format(x='text')} AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, len(toks) AS n, len(list_distinct(toks)) AS d
      FROM t WHERE len(toks) > 0
    ), w AS (
      SELECT doc_id, source, n, d,
             {MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=8)}
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    d = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("d"),
    ).filter(F.col("n") > 0)
    u = md5_uniform(F.col("doc").cast("string"), 8) / F.lit(4294967296.0)
    ttr = F.col("d").cast("double") / F.col("n")
    return d.filter(u < ttr).select(
        "doc",
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        (ttr).alias("ttr"),
    )


@query(
    "q76_dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             {TOKENIZE.format(x='text')} AS toks,
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

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    t = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokenize("text")).alias("n_toks"),
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
    "q85_weighted_sample_k",
    f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENIZE.format(x='text')} AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS w
      FROM t WHERE len(toks) > 0
    ), keyed AS (
      SELECT doc_id, source, w,
             CAST(floor(
               ln(({MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=8)} + 1)
                  / 4294967297.0) / w * 1000000 + 0.5)
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    s = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("w"),
    ).filter(F.size(toks) > 0)
    v = md5_uniform(F.col("doc").cast("string"), 8)
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
    "q104_sequence_packing",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             len({TOKENIZE_NONEMPTY.format(x='text')}) AS n_tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(
            tokenize_nonempty("text")
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
    "q106_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize("text")).alias("tok"),
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


@query(
    "q110_clean_pipeline",
    f"""
    WITH feat AS (
      SELECT doc_id, source, lang,
             len({TOKENIZE_NONEMPTY.format(x='text')}) AS n_words,
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

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(
            tokenize_nonempty("text")
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
    "q148_temperature_mixing",
    f"""
    WITH tok AS (
      SELECT source,
             CAST(sum(len(list_filter(
               {TOKENIZE.format(x='text')},
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

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(
            F.size(
                tokenize_nonempty("text")
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
    "q160_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             {CLASSIFIER_FEATURES}
      FROM documents
    ), f AS (
      SELECT doc_id, source, {CLASSIFIER_LOGIT} AS logit
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    )
    SELECT doc_id AS doc, source, logit,
           CASE WHEN logit > 0.0 THEN 1 ELSE 0 END AS keep
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    t = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        *classifier_features(toks),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
    return t.select(
        "doc",
        "source",
        logit.alias("logit"),
        F.when(logit > 0.0, 1).otherwise(0).alias("keep"),
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
               WHEN {MD5_UNIFORM.format(x='CAST(cl.cluster_id AS VARCHAR)', n=4)} % 10 < 8
                 THEN 'train'
               WHEN {MD5_UNIFORM.format(x='CAST(cl.cluster_id AS VARCHAR)', n=4)} % 10 = 8
                 THEN 'val'
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

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.md5(normalize_text("text")).alias("fp")
    )
    cl = d.groupBy("fp").agg(
        F.min("doc_id").alias("cluster_id"), F.count(F.lit(1)).alias("csize")
    )
    bucket = (
        md5_uniform(F.col("cluster_id").cast("string"), 4)
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
             {CLASSIFIER_FEATURES}
      FROM documents
    ), f AS (
      SELECT doc_id, fp,
             {CLASSIFIER_LOGIT} AS logit
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    t = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fp"),
        *classifier_features(toks),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
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
    "q181_shard_shuffle",
    f"""
    WITH h AS (
      SELECT {MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=6)}
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
    hv = md5_uniform(F.col("doc_id").cast("string"), 6)
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
             {CLASSIFIER_FEATURES}
      FROM documents
    ),
    f AS (
      SELECT doc_id, fp, len(toks) AS n_tok,
             lang = 'en' AS p_lang,
             lang = 'en' AND len(toks) BETWEEN 20 AND 80 AS p_len,
             lang = 'en' AND len(toks) BETWEEN 20 AND 80
               AND {CLASSIFIER_LOGIT} > 0.0 AS p_qual
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    t = docs.select(
        "doc_id",
        "lang",
        F.md5(normalize_text("text")).alias("fp"),
        *classifier_features(toks, ("n_tok", "n_uniq", "n_chars", "n_sym", "n_dig")),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
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
    "q188_gopher_rules",
    f"""
    WITH f AS (
      SELECT source,
             len({TOKENIZE.format(x='text')}) AS n,
             len(list_distinct({TOKENIZE.format(x='text')})) AS nu,
             length(replace({_NT}, ' ', '')) AS chars,
             len(list_filter({TOKENIZE.format(x='text')},
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

    norm = normalize_text("text")
    toks = tokenize("text")
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
    "q208_selection_frontier",
    f"""
    WITH t AS (
      SELECT doc_id,
             {CLASSIFIER_FEATURES}
      FROM documents
    ), f AS (
      SELECT doc_id, len(toks) AS n_tok, {CLASSIFIER_LOGIT} AS logit
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), ranked AS (
      SELECT n_tok, logit,
             ntile(10) OVER (ORDER BY logit DESC, doc_id) AS decile
      FROM f
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

    Determinism: the logit is q160's fixed IEEE expression
    (``classifier_logit``); deciles are the q178
    deterministic ntile (logit desc, doc tie-break); token masses are
    integer sums, cumulated over the 10-row decile frame."""

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    t = docs.select(
        "doc_id",
        *classifier_features(toks),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
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


@query(
    "q211_filter_length_bias",
    f"""
    WITH t AS (
      SELECT doc_id,
             {CLASSIFIER_FEATURES}
      FROM documents
    ), f AS (
      SELECT doc_id, len(toks) AS n_tok,
             {CLASSIFIER_LOGIT} AS logit
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    t = docs.select(
        "doc_id",
        *classifier_features(toks),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
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
    "q222_calibration_ece",
    f"""
    WITH t AS (
      SELECT doc_id,
             {CLASSIFIER_FEATURES},
             length(replace({NORM.format(x='text')}, ' ', '')) AS chars_ns
      FROM documents
    ), f AS (
      SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nu,
             len(list_filter(toks,
                 t -> t = 'the' OR t = 'and' OR t = 'of' OR t = 'to' OR t = 'a'
             )) AS stop_cnt,
             chars_ns, n_chars, n_sym, n_dig
      FROM t WHERE len(toks) > 0 AND n_chars > 0
    ), s AS (
      SELECT doc_id,
             {CLASSIFIER_LOGIT} AS logit,
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

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    toks = tokenize_nonempty("text")
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
        *classifier_features(toks, ("n_chars", "n_sym", "n_dig")),
    ).filter((F.col("n") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit("nu", "n")
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


@query(
    "q230_hashed_features",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, source,
             unnest({TOKENIZE.format(x='text')}) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc, source,
             {MD5_UNIFORM.format(x='tok', n=4)} % 16 AS b,
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.explode(tokenize("text")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy(
        "doc",
        "source",
        (md5_uniform("tok", 4, "int") % 16).alias("b"),
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
