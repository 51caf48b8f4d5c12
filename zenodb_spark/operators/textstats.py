"""Text analysis (extension beyond the reference per BASELINE.json's north
star — no reference equivalent exists, so no file:line citations apply): operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All integer/ratio math from built-in regex/string functions — deterministic,
codegen'd, engine-independent (the DuckDB oracle reproduces every value).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A BPE-ish tokenization: letter runs, digit runs, single punctuation marks.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "de", "et"],
}


def token_count(text: Column | str) -> Column:
    """Number of BPE-ish tokens (letter runs / digit runs / punct marks)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def word_count(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(text), r"\s+"))


def occurrences(text: Column | str, word: str) -> Column:
    """Count of ' word ' occurrences via the replace-length trick (exact ints)."""
    text = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    # non-overlapping count; for needles with single-space padding two
    # adjacent occurrences overlap on the shared space, so count on a
    # double-spaced copy where occurrences are disjoint.
    doubled = F.regexp_replace(padded, r" ", "  ")
    dneedle = needle.replace(" ", "  ")
    return ((F.length(doubled) - F.length(F.replace(doubled, F.lit(dneedle), F.lit("")))) / F.lit(len(dneedle))).cast("long")


def stopword_count(text: Column | str, lang: str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    lowered = F.lower(text)
    counts = [occurrences(lowered, w) for w in STOPWORDS[lang]]
    return sum(counts[1:], start=counts[0])


def punct_count(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: counts + deterministic ratios.

    quality_score ∈ [0,1]: penalizes very short docs, high punctuation
    density, and absence of common stopwords — the standard cheap heuristics
    for pretraining-corpus filtering.
    """
    t = F.col(text_col)
    nw = word_count(t)
    nt = token_count(t)
    np_ = punct_count(t)
    nsw = stopword_count(t, "en")
    out = (
        df.withColumn("n_words", nw)
        .withColumn("n_tokens", nt)
        .withColumn("n_punct", np_)
        .withColumn("n_stopwords", nsw)
        .withColumn("punct_ratio", F.col("n_punct") / F.col("n_tokens"))
        .withColumn("stopword_ratio", F.col("n_stopwords") / F.col("n_words"))
    )
    score = (
        F.when(F.col("n_words") >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return out.withColumn("quality_score", score)


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts
    (ties → lexicographically-first language; no hits → 'und')."""
    lowered = F.lower(F.col(text_col))
    scores = {lang: stopword_count(lowered, lang) for lang in sorted(STOPWORDS)}
    out = df
    for lang, s in scores.items():
        out = out.withColumn(f"__s_{lang}", s)
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in sorted(STOPWORDS)])
    pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"__s_{lang}") == best), F.lit(lang)).otherwise(pred)
    out = out.withColumn("pred_lang", pred)
    return out.drop(*[f"__s_{lang}" for lang in sorted(STOPWORDS)])


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint of the normalized document (md5) — the join key
    for exact dedup and incremental re-crawl diffing."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 2).alias("shard"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:

    - ``uniq_token_frac``: distinct words / total words (type-token ratio);
    - ``top_bigram_frac``: occurrences of the most frequent word bigram /
      total bigrams;
    - ``dup_trigram_frac``: fraction of trigram occurrences that are
      repeats of an earlier trigram.

    All four signals are in-row array expressions — the most-frequent-bigram
    count comes from the longest equal-run of the doc's SORTED bigram array
    (array_sort + one fold), so there is no explode and no UDF, and — on a
    corpus with ≥ cores input files — no shuffle: a 100 TB corpus pass
    stays one narrow codegen'd scan. `spread` guards the local/one-file
    case: Catalyst adds no parallelism below a narrow chain, and this
    per-doc array work (sorted-run folds, array_distinct over trigrams)
    is the most CPU-dense narrow pass in the repo — measured 67 s as a
    SINGLE task on the sf0.1 one-file corpus (event-log, round 6)."""
    from zenodb_spark.operators.dedup import normalize_text
    from zenodb_spark.operators.util import spread

    df = spread(df)

    toks = F.split(normalize_text(text_col), " ")
    n = F.size(toks)

    def grams(k: int):
        seq = F.sequence(F.lit(1), n - (k - 1))
        win = F.transform(
            seq,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
        return F.when(n >= k, win).otherwise(F.array().cast("array<string>"))

    bigrams, trigrams = grams(2), grams(3)
    empty = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top_bigram = F.aggregate(
        F.array_sort(bigrams),
        empty,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_bi, n_tri = F.size(bigrams), F.size(trigrams)
    return df.select(
        F.col(id_col).alias("doc"),
        n.cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / n).alias("uniq_token_frac"),
        F.when(n_bi > 0, top_bigram / n_bi).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        F.when(n_tri > 0, F.lit(1.0) - F.size(F.array_distinct(trigrams)) / n_tri)
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Per-group vocabulary statistics: token occurrences, distinct-token
    vocabulary size, and type-token ratio — the corpus composition report a
    training-data pipeline runs per source/language slice.

    Scale shape: explode tokens → two-level aggregate. Exact distinct is a
    (group, token) pre-aggregate (map-side combined) followed by a group
    count — never a driver-side set. At 100 TB swap `F.count_distinct` for
    `F.approx_count_distinct` (HLL) to drop the second shuffle; the exact
    form is kept here because the oracle compares exact values."""
    from zenodb_spark.operators.dedup import normalize_text

    toks = df.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    return toks.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col("tok")).alias("vocab"),
        (F.count_distinct(F.col("tok")) / F.count(F.lit(1))).alias("type_token_ratio"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap perplexity-style quality signal for
    pretraining-data filtering (low scores ⇒ rare-token soup).

    Determinism across engines: each distinct token's ln(cnt/T) is quantized
    to integer micro-nats BEFORE any summation, so per-doc totals are exact
    integer sums; the single trailing float division is IEEE-identical in
    Spark and DuckDB.

    Scale shape: two token aggregations (doc-token counts, global counts)
    plus one join of doc-token rows against the frequency table — AQE
    broadcasts it while the vocabulary fits, shuffle-joins beyond. No
    driver collect; T rides along as a broadcast scalar.

    doc_tok feeds three consumers (frequency table, total, final join)
    whose column pruning differs, so Catalyst cannot stage-reuse the
    exchange and the corpus was scanned + exploded 3× (measured plan,
    round 6); a ``share`` checkpoint materializes the doc-token counts
    once and every consumer reads the blocks.
    """
    from zenodb_spark.operators.dedup import normalize_text

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    from zenodb_spark.operators.util import share

    doc_tok = share(toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("occ")))
    freq = doc_tok.groupBy("tok").agg(F.sum("occ").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("t"))
    lp = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("t")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        doc_tok.join(lp, "tok")
        .groupBy("doc")
        .agg(
            F.sum("occ").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("occ") * F.col("lp_micro")).cast("double")
                / F.sum("occ").cast("double")
                / F.lit(1_000_000.0)).alias("avg_logprob"),
        )
    )
