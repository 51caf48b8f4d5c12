"""Exact and near-duplicate detection over ``documents``: fingerprints,
shingle Jaccard, MinHash/SimHash LSH, connected-component clustering,
span-level repetition, decontamination, and the diagnostics and
calibration panels built on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.operators import dedup, textstats
from zenodb_spark.operators.dedup import (
    containment_pairs,
    dedup_apply,
    ngram_jaccard_pairs_auto,
    normalize_text,
)
from zenodb_spark.operators.pipeline import decontaminate, decontaminate_bloom, paragraph_dedup
from zenodb_spark.operators.util import share, spread
from zenodb_spark.queries.common import (
    CLASSIFIER_FEATURES,
    CLASSIFIER_LOGIT,
    MD5_UNIFORM,
    NORM,
    ORACLE,
    TOKENIZE,
    TOKENIZE_NONEMPTY,
    _NT,
    classifier_features,
    classifier_logit,
    md5_uniform,
    query,
    shingle_sql,
    tokenize,
    tokenize_nonempty,
)


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


_JACCARD_SQL = f"""
    WITH sh AS ({shingle_sql()}),
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
      SELECT doc_id AS doc, unnest({TOKENIZE.format(x='text')}) AS tok
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


@query(
    "q46_decontaminate",
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENIZE.format(x='text')} AS toks
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
    WITH RECURSIVE sh AS ({shingle_sql()}),
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
    "q49_dup_ngram_fraction",
    f"""
    WITH sh AS ({shingle_sql(5)}),
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


_PARA = 20


@query(
    "q60_paragraph_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, {TOKENIZE.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_bloom(
        docs.filter(F.col("doc_id") % 100 != 0),
        docs.filter(F.col("doc_id") % 100 == 0),
        "text",
        "doc_id",
        n=4,
    )


@query(
    "q66_containment",
    f"""
    WITH sh AS ({shingle_sql()}),
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

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", n=3, threshold=0.8)


@query(
    "q67_dedup_keep_best",
    f"""
    WITH t AS (
      SELECT doc_id, source, {NORM.format(x='text')} AS norm,
             {TOKENIZE.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    enriched = docs.withColumn(
        "ttr", F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    ).filter(F.size(toks) > 0)
    kept = dedup_apply(enriched, "text", "doc_id", priority=[F.desc("ttr")])
    return kept.select(
        F.col("doc_id").alias("doc"), "source", F.col("ttr").alias("ttr")
    )


@query(
    "q73_source_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, source, {TOKENIZE.format(x='text')} AS toks
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
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
    "q95_source_dup_rate",
    f"""
    WITH sh AS ({shingle_sql()}),
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
    "q112_dup_span_coverage",
    f"""
    WITH t AS (
      SELECT doc_id,
             {TOKENIZE_NONEMPTY.format(x='text')} AS toks
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

    W = 10
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        tokenize_nonempty("text").alias("toks"),
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

    lines = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(tokenize("text", "\\. ")).alias(
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
    "q165_dup_span_strike",
    f"""
    WITH t AS (
      SELECT doc_id,
             {TOKENIZE_NONEMPTY.format(x='text')} AS toks
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

    W = 10
    docs = spread(load_table(spark, sf_dir, "documents"))
    # tt feeds the window pass, the token re-emission and the final join;
    # w feeds the per-hash aggregate and the strike join. Checkpoint both:
    # without it the tokenize ran ~4x and the O(tokens) window-md5 pass —
    # the dominant compute — ran twice (round-6 measured plan)
    tt = share(
        docs.select(
            "doc_id",
            tokenize_nonempty("text").alias("toks"),
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
    "q180_contamination_frac",
    f"""
    WITH sh AS ({shingle_sql(5)}),
    t AS (
      SELECT doc, shingle,
             {MD5_UNIFORM.format(x='CAST(doc AS VARCHAR)', n=4)}
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
        md5_uniform(F.col("doc").cast("string"), 4) % 50 == 0
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
    "q186_incremental_dedup",
    f"""
    WITH d AS (
      SELECT doc_id,
             md5({NORM.format(x='text')}) AS fp,
             {MD5_UNIFORM.format(x='CAST(doc_id AS VARCHAR)', n=4)}
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

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fp"),
        (
            md5_uniform(F.col("doc_id").cast("string"), 4) % 5 == 0
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


@query(
    "q189_cluster_size_dist",
    f"""
    WITH RECURSIVE sh AS ({shingle_sql()}),
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
    WITH sh AS ({shingle_sql()}),
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
    verification joins candidate pairs to the checkpointed per-doc shingle
    arrays — the q25 verify shape, never an all-pairs pass."""

    docs = load_table(spark, sf_dir, "documents")
    arrays = share(dedup.shingle_arrays(docs, "text", "doc_id", 3), mode="lazy")
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
             len({TOKENIZE.format(x='text')}) AS n,
             len(list_distinct({TOKENIZE.format(x='text')})) AS nu,
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

    norm = normalize_text("text")
    toks = tokenize("text")
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
    "q194_crosslang_leakage",
    f"""
    WITH sh AS (
      SELECT DISTINCT lang, shingle FROM (
        SELECT lang, unnest(list_distinct(
          [array_to_string(t[i+1:i+3], ' ') for i in range(greatest(len(t)-2, 1))]
        )) AS shingle
        FROM (SELECT lang, {TOKENIZE.format(x='text')} AS t FROM documents)
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
    WITH sh AS ({shingle_sql()}),
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


@query(
    "q209_dedup_report",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, md5({_NT}) AS fp,
             len({TOKENIZE_NONEMPTY.format(x='text')}) AS n_tok
      FROM documents
    ),
    keepers AS (SELECT fp, min(doc_id) AS keeper FROM t GROUP BY 1),
    sh AS ({shingle_sql()}),
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

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_nonempty("text")
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


@query(
    "q212_cluster_keep_best",
    f"""
    WITH RECURSIVE sh AS ({shingle_sql()}),
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
             {CLASSIFIER_FEATURES}
      FROM documents
    ), q AS (
      SELECT doc_id,
             CAST(floor(({CLASSIFIER_LOGIT}) * 1000000 + 0.5) AS BIGINT) AS logit_micro
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

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix(docs, "text", "doc_id", n=3, threshold=0.5)
    labels = dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )
    toks = tokenize_nonempty("text")
    t = docs.select(
        "doc_id",
        *classifier_features(toks),
    ).filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
    logit = classifier_logit()
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
