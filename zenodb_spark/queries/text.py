"""Text statistics over ``documents``: tokens and vocabularies, n-gram
language models, language id, chunking, PII scrubbing and lexical
retrieval (BM25, TF-IDF, reciprocal-rank fusion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.functions.measures import IF
from zenodb_spark.operators import textstats
from zenodb_spark.operators.dedup import normalize_text, shingle_arrays
from zenodb_spark.operators.multimodal import attach_media, extract_features
from zenodb_spark.operators.percentile import percentile_exact
from zenodb_spark.operators.pipeline import EMAIL_RE, IPV4_RE, PHONE_RE, chunk_documents, pii_scrub
from zenodb_spark.operators.retrieval import bm25_topk
from zenodb_spark.operators.textstats import unigram_logprob
from zenodb_spark.operators.topk import topk
from zenodb_spark.operators.util import share, spread
from zenodb_spark.queries.common import (
    MD5_UNIFORM,
    NORM,
    TOKENIZE,
    TOKENIZE_NONEMPTY,
    md5_uniform,
    query,
    tokenize,
    tokenize_nonempty,
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

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    feats = extract_features(media)
    return feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("digest").alias("n_distinct"),
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


_CHUNK, _STRIDE = 64, 48


@query(
    "q44_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENIZE.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", _CHUNK, _STRIDE)


def _pii_oracle() -> str:
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
    "q50_vocab_stats",
    f"""
    WITH toks AS (
      SELECT source, lang, unnest({TOKENIZE.format(x='text')}) AS tok
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


@query(
    "q62_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id")


def _bm25_cte(k1: float = 1.5, b: float = 0.75) -> str:
    """The BM25 oracle's CTE chain (corpus/query split → `ranked`), shared
    by q64 and the q187 RRF fusion so the two oracles cannot drift."""
    tok = TOKENIZE.format(x="text")
    return f"""corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 <> 0),
    qs AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id % 100 = 0),
    toks AS (SELECT doc_id AS doc, unnest({tok}) AS tok FROM corpus),
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
        SELECT qid, unnest({tok}) AS tok FROM qs
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

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("qid"), "text"
        ),
    )


@query(
    "q71_tfidf_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(tokenize("text")).alias("tok"),
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
    "q72_bigram_logprob",
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENIZE.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.col("doc_id").alias("doc"), tokenize("text").alias("toks")
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
      SELECT unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize("text")).alias("tok")
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
      SELECT source, len({TOKENIZE.format(x='text')}) AS n_tokens
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

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "source", F.size(tokenize("text")).alias("n_tokens")
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.percentile("n_tokens", F.lit(0.5)).alias("p50"),
        F.percentile("n_tokens", F.lit(0.95)).alias("p95"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@query(
    "q81_token_pmi",
    f"""
    WITH t AS (
      SELECT doc_id, list_distinct({TOKENIZE.format(x='text')}) AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.array_distinct(tokenize("text")).alias("toks"),
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
    "q97_top_token_per_source",
    f"""
    WITH f AS (
      SELECT source, tok, count(*) AS cnt FROM (
        SELECT source, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(
            "source", F.explode(tokenize("text")).alias("tok")
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
    "q183_heaps_growth",
    f"""
    WITH d AS (
      SELECT doc_id,
             {MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=4)}
               % 10 AS bkt,
             {TOKENIZE_NONEMPTY.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
    bkt = (
        md5_uniform(F.col("doc_id").cast("string"), 4) % 10
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
      SELECT source, unnest({TOKENIZE.format(x='text')}) AS tok
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
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


def _rrf_oracle() -> str:
    tok = TOKENIZE.format(x="text")
    return f"""
    WITH {_bm25_cte()},
    t3c AS (SELECT doc_id, {tok} AS t FROM corpus),
    carr AS (
      SELECT doc_id AS doc,
             list_filter(list_distinct(
               [array_to_string(t[i+1:i+3], ' ')
                for i in range(greatest(len(t)-2, 1))]), x -> len(x) > 0) AS sh
      FROM t3c
    ),
    csh AS (SELECT doc, unnest(sh) AS shingle, len(sh) AS sz FROM carr
            WHERE len(sh) > 0),
    t3q AS (SELECT qid, {tok} AS t FROM qs),
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


@query(
    "q193_vocab_coverage",
    f"""
    WITH t AS (
      SELECT lang, unnest({TOKENIZE.format(x='text')}) AS tok FROM documents
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

    t = docs.select(
        "lang", F.explode(tokenize("text")).alias("tok")
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
    "q197_hapax_rate",
    f"""
    WITH t AS (
      SELECT source, unnest({TOKENIZE.format(x='text')}) AS tok FROM documents
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

    t = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
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
      SELECT array_to_string({TOKENIZE.format(x='text')}[1:3], ' ') AS opener
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

    opener = F.array_join(F.slice(tokenize("text"), 1, 3), " ")
    cnt = docs.select(opener.alias("opener")).groupBy("opener").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.orderBy(F.col("n_docs").desc(), "opener")
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("opener", "n_docs", F.col("rank").cast("long").alias("rank"))
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
