"""Training-data pipeline operators beyond dedup/similarity: token-window
chunking, PII scrubbing, and benchmark decontamination.

These are the remaining table-stakes ops of a 100 TB pretraining corpus
pipeline. All three are single-pass, codegen'd column expressions (chunking
and scrubbing) or one broadcast semi-join (decontamination) — no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zenodb_spark.operators.dedup import normalize_text
from zenodb_spark.operators.util import share, spread

# Redaction patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b"


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunks per document — the unit a tokenizer /
    embedding stage consumes. Chunk i covers tokens [i·stride, i·stride +
    chunk_tokens). Pure array ops (split → sequence → posexplode → slice):
    one narrow pass, no shuffle; output is (doc, chunk_idx, n_tokens,
    chunk_hash)."""
    toks = F.split(normalize_text(text_col), " ")
    # NOTE: no size-filter on toks — split() never returns an empty array
    # (empty text gives [""]), so such a filter keeps every row while its
    # pushed-down clone re-runs the whole split below the spread exchange
    # at raw-scan parallelism (see shingle_arrays's docstring).
    d = spread(df).select(F.col(id_col).alias("doc"), toks.alias("toks"))
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride))
    d = d.select("doc", "toks", F.posexplode(starts).alias("chunk_idx", "start"))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens)
    return d.select(
        "doc",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers from the normalized
    text; report per-doc redaction counts and the scrubbed fingerprint.
    Replacement order is fixed (email → ip → phone) so the output hash is
    engine-reproducible."""
    norm = normalize_text(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(norm, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col).alias("doc"),
        # idx=0 (whole match): the patterns deliberately carry no capture
        # groups, and Spark's default group index is 1
        F.size(F.regexp_extract_all(norm, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(norm, F.lit(IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(norm, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
) -> DataFrame:
    """C4-style paragraph-level exact dedup. The corpus is split into
    non-overlapping ``chunk_tokens``-token paragraphs; each paragraph
    survives only at its first corpus-wide occurrence (lowest (doc, idx)),
    and every document is reassembled from its surviving paragraphs.

    Returns (doc, kept_chunks, dropped_chunks, clean_hash) where clean_hash
    fingerprints the reassembled text ('' when everything was dropped).

    Scale shape — deliberately skew-immune: the keep-first rule is a
    min-aggregate over the paragraph hash (map-side combined, so a
    paragraph duplicated a million times still reduces locally per
    partition) joined back to the rows (AQE splits the join's skewed
    partitions), then one shuffle on doc for reassembly. A row_number
    window over the hash would put every copy of a hot paragraph on ONE
    task with no partial aggregation — exactly what mass duplication (the
    reason you run dedup) produces. No self-join, no driver collect.
    """
    toks = F.split(normalize_text(text_col), " ")
    # NOTE: no size-filter on toks — split() never returns an empty array
    # (empty text gives [""]), so such a filter keeps every row while its
    # pushed-down clone re-runs the whole split below the spread exchange
    # at raw-scan parallelism (see shingle_arrays's docstring).
    d = spread(df).select(F.col(id_col).alias("doc"), toks.alias("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(chunk_tokens)
    )
    d = d.select("doc", "toks", F.posexplode(starts).alias("cidx", "start"))
    # the chunk rows feed both the keep-first aggregate and the reassembly
    # join; checkpoint so the tokenize + per-chunk slice/md5 pass — the
    # dominant compute — runs once, not twice (round-6 measured plan).
    # UNCONDITIONAL (not size-gated): the chunk/md5 columns cannot be
    # pruned by either consumer, so the duplicate compute is fully paid at
    # ANY scale — round-7 interleaved A/B kept the checkpoint a local win
    # (0.82 vs 1.13 s at sf0.1, min-of-5 ×2 sessions)
    d = share(
        d.select(
            "doc",
            F.col("cidx").cast("long").alias("cidx"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.md5(
                F.array_join(F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens), " ")
            ).alias("h"),
        ),
        mode="eager",
    )
    firsts = d.groupBy("h").agg(F.min(F.struct("doc", "cidx")).alias("first"))
    d = d.join(firsts, "h")
    is_first = (F.col("doc") == F.col("first.doc")) & (
        F.col("cidx") == F.col("first.cidx")
    )
    kept = F.when(is_first, F.struct("cidx", "chunk"))
    return d.groupBy("doc").agg(
        F.count(kept).cast("long").alias("kept_chunks"),
        (F.count(F.lit(1)) - F.count(kept)).cast("long").alias("dropped_chunks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["chunk"]
                ),
                " ",
            )
        ).alias("clean_hash"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with a benchmark/eval set (the standard pretraining leakage
    check). Returns (doc, n_shared) for contaminated docs only.

    Scale shape: the benchmark's distinct n-gram set is tiny relative to
    the corpus → broadcast; the corpus side is one explode + one broadcast
    join + one groupBy(doc). No corpus self-join, no driver collect.

    Gram construction uses dedup.shingle_expr (zip-of-shifted-slices,
    ~3x cheaper than the per-element transform+slice form, identical
    strings) inline — no pre-filter, no extra exchange on the small
    benchmark side (a delegation to dedup.shingles measured 2x slower
    here: its pre-spread predicate re-normalizes the corpus at raw-scan
    parallelism and repartitions the tiny benchmark frame)."""
    from zenodb_spark.operators.dedup import shingle_expr

    def grams(df: DataFrame) -> DataFrame:
        arr = F.array_distinct(shingle_expr(text_col, n))
        return df.select(F.col(id_col).alias("doc"), F.explode(arr).alias("gram"))

    bench_grams = F.broadcast(grams(benchmark).select("gram").distinct())
    return (
        grams(spread(corpus))
        .join(bench_grams, "gram")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Bloom-prefiltered decontamination — the 100 TB path for `decontaminate`.

    When the eval set's raw n-grams are too big to broadcast as strings, a
    Bloom filter over them still fits: k hash positions mod m_bits per gram,
    broadcast as a set-bit table of longs (≤ k·|grams| positions, 8 bytes
    each, independent of gram length). Corpus grams whose k positions are
    all set are *candidates* (no false negatives, tunable false-positive
    rate); only candidates reach the exact verify join against the real
    gram set, so the final (doc, n_shared) is exact — bit-identical to
    `decontaminate`.

    Plan: corpus explode → k-position explode → broadcast join on the bit
    set → all-k filter → verify join (candidate-sized) → groupBy(doc).
    """

    from zenodb_spark.operators.dedup import shingle_expr

    def grams(df: DataFrame) -> DataFrame:
        arr = F.array_distinct(shingle_expr(text_col, n))
        return df.select(F.col(id_col).alias("doc"), F.explode(arr).alias("gram"))

    positions = F.array(
        *[F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(m_bits)) for i in range(k)]
    )
    # the benchmark gram set feeds both the bit table and the verify join;
    # checkpoint so the eval-set scan + gram explode runs once
    bench_g = share(grams(benchmark).select("gram").distinct())
    bits = bench_g.select(F.explode(positions).alias("pos")).distinct()

    cand = (
        grams(spread(corpus))
        .select("doc", "gram", F.explode(positions).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("doc", "gram")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k)
        .drop("n_set")
    )
    return (
        cand.join(bench_g, "gram")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
