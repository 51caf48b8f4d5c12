"""Deduplication operators for large-scale document corpora (extension
beyond the reference per BASELINE.json's north star — getlantern/zenodb has
no document/dedup surface; no file:line citations apply).

Five tiers plus an apply step, all shuffle-bounded (no cross joins),
designed for 100 TB (the embedding-cosine member lives in
operators/similarity.py: cosine_neardup_pairs; dedup_apply below
materializes the kept corpus):

1. exact            — hash-groupBy on a content digest. One shuffle keyed by
                      md5(text); map-side combine makes it cheap.
2. ngram_jaccard    — exact n-gram-shingle Jaccard similarity join. Inverted
                      index on shingles (explode → join on shingle), with a
                      document-frequency cap dropping ubiquitous shingles —
                      the standard guard against quadratic hot keys.
3. minhash_lsh      — MinHash signatures + banded LSH: candidate pairs only
                      from shared band buckets, then *verified* with exact
                      Jaccard, so output = true near-dup pairs (LSH is just
                      the pruning step). Hashes are lexicographic mins of
                      md5(seed|shingle) hex strings — deterministic and
                      engine-independent (the oracle can reproduce them).
4. simhash          — 16-bit simhash from md5 nibbles of tokens; near-dup =
                      hamming distance ≤ k via bucket join on fingerprint
                      halves (any pair at distance ≤ k shares an exact half
                      for k ≤ 1 per half — pigeonhole blocking).

All use built-in functions only (md5, explode, groupBy) — no Python UDFs in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from zenodb_spark.operators.util import share, spread

__all__ = ["normalize_text", "exact_dedup", "dedup_apply", "shingles", "ngram_jaccard_pairs", "ngram_jaccard_pairs_prefix", "ngram_jaccard_pairs_count", "ngram_jaccard_pairs_auto", "minhash_signatures", "minhash_lsh_pairs", "simhash", "simhash_pairs", "containment_pairs", "containment_pairs_count"]


def normalize_text(col: Column | str) -> Column:
    """Canonical form for near-dup hashing: lowercase, collapse whitespace."""
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct (normalized) text: keep min id, count duplicates."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, fingerprint: bool = False
) -> DataFrame:
    """Distinct word n-gram shingle ARRAY per document: (doc, shingles).

    Tokenizes on whitespace and joins n consecutive tokens with a space.
    Built entirely from array functions (split/transform/slice) → codegen.
    array_distinct dedups within the doc BEFORE any explode, so downstream
    posting lists are (doc, shingle)-unique with no shuffle-distinct.

    ``fingerprint=True`` maps each shingle string to its 64-bit xxhash64
    BEFORE the distinct — the standard shingle-fingerprint trick (Broder's
    original sketch paper already hashes shingles): posting keys and per-doc
    sets become 8-byte longs instead of ~3-word strings, cutting shuffle
    bytes ~3× and making every downstream array_intersect compare longs.
    Set semantics survive up to hash collisions, P ≈ n²/2⁶⁵ over n distinct
    shingles (~1e-11 at a billion shingles) — far below any oracle's
    resolution; callers that must echo shingle TEXT keep the default.

    Two load-bearing physical choices:

    - Empty-text docs are dropped HERE with a cheap pre-spread predicate
      (nonempty normalized text ⟺ nonempty shingle array), so every row
      out has ``size(shingles) > 0``. Callers must NOT re-filter on
      ``size("shingles")``: predicate pushdown clones such a filter —
      including the whole shingle expression — BELOW the spread exchange,
      and the entire shingling then runs at raw-scan parallelism (a
      single unsplittable parquet row group = 1-2 tasks; measured 40 s
      vs 2 s on a 50k-doc single-file corpus).
    - Shingles build from n pre-shifted array slices zipped positionally
      (O(n) array copies per doc), NOT ``transform(idx, slice(toks, i,
      n))`` — per-element slices evaluate interpreted and allocate per
      shingle (measured 3.3× slower at equal parallelism). Output strings
      are identical, including the short tail shingle for docs with
      fewer than n tokens (concat_ws skips the nulls arrays_zip pads).
    """
    # rlike '\S' ⟺ length(normalize_text(col)) > 0 (both are "contains a
    # non-\s char"; NULL text drops either way) but costs a first-match
    # probe instead of a full lower+regexp_replace pass. The predicate
    # runs BELOW the spread exchange at raw-scan parallelism — a single
    # small parquet split is 1 task — so on a query-sized side the full
    # normalize here was ~1.2 s of serial regex (event-log measured,
    # q187's two query-side scan stages).
    df = spread(df.filter(F.col(text_col).rlike(r"\S")))
    sh = shingle_expr(text_col, n)
    if fingerprint:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    arr = F.array_distinct(sh)
    return df.select(F.col(id_col).alias("doc"), arr.alias("shingles"))


def shingle_expr(text_col: Column | str, n: int) -> Column:
    """The word n-gram shingle ARRAY expression (strings, in-text order,
    pre-distinct): zip of n pre-shifted token-array slices + positional
    concat_ws — one O(n)-copy pass per doc, 3.3× faster than the
    per-element ``transform(idx, slice)`` form with identical output,
    including the short tail shingle for docs with < n tokens (concat_ws
    skips the nulls arrays_zip pads). Shared by shingle_arrays and
    pipeline.decontaminate* so every gram producer stays on the fast
    construction."""
    toks = F.split(normalize_text(text_col), " ")
    L = F.size(toks)
    shifted = [toks] + [
        F.slice(toks, k + 1, F.greatest(L - k, F.lit(0))) for k in range(1, n)
    ]
    z = F.slice(F.arrays_zip(*shifted), 1, F.greatest(L - n, F.lit(0)) + 1)
    sh = F.transform(z, lambda x: F.concat_ws(" ", *[x[str(k)] for k in range(n)]))
    return F.filter(sh, lambda s: F.length(s) > 0)


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, with_size: bool = False
) -> DataFrame:
    """Exploded shingle postings: (doc, shingle[, sz]). With ``with_size``
    the per-doc distinct-shingle count rides along from the pre-explode
    array — no extra shuffle ever needed to recover set sizes downstream."""
    arrays = shingle_arrays(df, text_col, id_col, n)
    cols = [F.col("doc"), F.explode("shingles").alias("shingle")]
    if with_size:
        cols.append(F.size("shingles").alias("sz"))
    return arrays.select(*cols)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard similarity join on n-gram shingle sets.

    Plan shape — TWO shuffles total, no joins, single pass over the corpus:
    explode shingles (set size rides along from the pre-explode array) →
    groupBy shingle collecting the (doc, sz) posting list (skipping lists
    over the doc-frequency cap — the standard guard against quadratic hot
    keys) → emit each list's sorted C(k,2) pair combinations inline →
    groupBy pair counting intersections. A self-join formulation would
    compute the posting subtree twice (Catalyst's static planner does not
    reuse the exchange) and add a third shuffle.
    """
    sh = shingles(df, text_col, id_col, n, with_size=True)
    posting = sh.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("sz"))).alias("docs")
    )
    posting = posting.filter(F.size("docs").between(2, max_doc_freq))
    # double explode (two codegen'd Generate operators) — NOT a nested
    # transform+slice combinations expression, whose per-element array
    # copies are interpreted and quadratic in allocation (measured 20×
    # slower); the a.doc < b.doc filter keeps each unordered pair once
    pairs = (
        posting.select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity join via AllPairs/PPJoin prefix filtering —
    LOSSLESS (no doc-frequency cap), and immune to the C(k,2) blowup on
    ubiquitous shingles that makes the inverted-index formulation
    (`ngram_jaccard_pairs`) quadratic on hot keys.

    Two sets with Jaccard >= t must share at least one element among the
    first ``L = sz - ceil(t*sz) + 1`` elements of each, when both sets are
    ordered by the SAME global total order (document frequency ascending,
    shingle string as tie-break). So the candidate index holds only each
    doc's L rarest shingles: posting lists are built from rare shingles and
    stay short, while the hot shingles that dominate full-index cost land in
    the un-indexed suffix of almost every doc. Candidates then pass a length
    filter (min(sz) >= t*max(sz)) and are verified exactly with
    ``array_intersect`` over the checkpointed per-doc shingle arrays.

    Scale shape: more shuffles than the capped inverted index (df count,
    rank-by-doc, prefix postings, pair distinct, two verify joins) but every
    one is LINEAR in corpus size; nothing is quadratic in a shingle's
    document frequency. This is the 100 TB formulation (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al., PPJoin,
    WWW'08).
    """
    if arrays is None:
        arrays = share(
            shingle_arrays(df, text_col, id_col, n, fingerprint=True), mode="lazy"
        )
    sh = arrays.select(
        "doc", F.size("shingles").alias("sz"), F.explode("shingles").alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # per-doc global-rarity order; struct sort = (df asc, shingle-hash asc) —
    # any consistent total order is valid for prefix filtering
    ranked = (
        sh.join(dfreq, "shingle")
        .groupBy("doc", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ranked"))
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    # df=1 shingles are dropped AFTER the prefix slice (they pair with
    # nothing, but removing them earlier would deepen the slice and admit
    # spurious candidates beyond the true prefix). posexplode keeps each
    # entry's 1-based position in the rarity order for the position filter.
    prefix = (
        ranked.select(
            "doc", "sz", F.posexplode(F.slice("ranked", 1, plen)).alias("pos0", "p")
        )
        .filter(F.col("p.df") >= 2)
        .select(
            "doc",
            "sz",
            (F.col("pos0") + 1).alias("pos"),
            F.col("p.shingle").alias("shingle"),
        )
    )
    # PPJoin position filter (Xiao et al., WWW'08): for the FIRST shingle a
    # true pair shares under the global order, |A∩B| ≤ 1 + min(|A|−i, |B|−j)
    # (all other common shingles rank later, hence live in both suffixes);
    # J ≥ t forces |A∩B| ≥ ceil(t/(1+t)·(|A|+|B|)), so co-occurrences whose
    # positional bound can't reach that overlap are dropped BEFORE the
    # pair-distinct. Checking every co-occurrence (not just the first) is
    # the same filter: the first shared shingle has the minimal positions
    # and therefore the maximal bound.
    overlap_min = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    pos_bound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cands = (
        prefix.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc", "sz", "pos")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        # length filter: jaccard <= min(sz)/max(sz), so min >= t*max or prune
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .filter(pos_bound >= overlap_min)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    sets_a = arrays.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sets_b = arrays.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact-join auto-planner
#
# Three exact formulations with different data-dependent regimes:
#
# * pairtoken (ngram_jaccard_pairs_pairtoken): segmented 2-token indexing
#   (the fixed l=2 point of AdaptJoin's variable-length prefix scheme —
#   Wang, Li & Feng, "Can We Beat the Prefix Filtering?", SIGMOD'12).
#   Shingles hash into K segments; a qualifying pair must share >= K+1
#   shingles, so by pigeonhole SOME segment holds >= 2 shared shingles and
#   the pair collides on a (shingle, shingle) 2-token. 2-token buckets are
#   tiny even when every single-shingle bucket is huge (the dense regime
#   that drowns both other plans), so candidate volume collapses to the
#   truly-correlated pairs. Docs too small to guarantee K+1 overlap are
#   indexed by single shingles against everything (bounded by the size
#   quantile the planner picks K from). Exact: candidates are verified
#   with array_intersect, and the pigeonhole argument guarantees
#   candidate completeness (see each function's proof sketch).
#
# * counting (ngram_jaccard_pairs_count): one pass — inverted index, emit
#   every co-occurring pair once per shared shingle, groupBy(pair) COUNT =
#   the exact intersection, Jaccard from counts. No verify join at all.
#   Cost = Σ_shingle C(df,2) pair rows through one shuffle. Dies on Zipfian
#   corpora where one hot shingle has df ~ N (C(df,2) ~ N²/2).
# * prefix (ngram_jaccard_pairs_prefix): AllPairs/PPJoin — candidates only
#   from the L rarest shingles of each doc, then an array_intersect verify
#   join. Immune to hot shingles, but at LOW thresholds the prefix covers
#   most of each doc and candidate volume + verify dominate (measured at
#   sf1.0/t=0.2: 88M prefix co-occurrences → 55.7M candidates → 102 true
#   pairs; 27 s of a 50 s query in the distinct+verify stages alone).
#
# The planner probes both volumes with O(1)-row aggregates over the posting
# frequencies — the same mechanism as the BM25 dense-regime planner
# (retrieval.py mode="auto") — and picks the cheaper plan. Probes are pure
# aggregates (no persists to leak); the chosen path then builds its own
# pipeline from the parquet scan (one extra linear pass, noise next to the
# pair stages being planned).
# ---------------------------------------------------------------------------

# Below this many counting-path pair rows the counting plan wins so clearly
# that probing the prefix volume (a collect_list + slice pass) is not worth
# its own cost.
COUNT_COST_OBVIOUS = 30_000_000
# A prefix candidate costs ~3× a counting pair row: it passes through the
# pair-distinct AND a two-sided join against the full shingle arrays with a
# per-row array_intersect (measured 7.8 s distinct + 19.1 s verify vs a
# comparable-volume count shuffle at sf1.0).
PREFIX_VERIFY_WEIGHT = 3.0


def _pair_volume(freqs: DataFrame, col: str) -> int:
    """Σ C(f,2) over a posting-frequency frame — the exact number of pair
    rows an inverted index over those postings emits. One-row aggregate."""
    row = freqs.agg(
        F.coalesce(
            F.sum(F.col(col).cast("double") * (F.col(col) - 1) / 2), F.lit(0.0)
        ).alias("v")
    ).collect()[0]
    return int(row["v"])


def _prefix_volume(
    sh: DataFrame, threshold: float, contained_side_only: bool = False
) -> int:
    """Pair volume the prefix plan would emit: Σ C(pf,2) over per-shingle
    prefix frequencies (Jaccard, both sides indexed), or Σ pf·df for the
    containment join (prefix rows × full postings)."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .groupBy("doc", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ranked"))
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefix = (
        ranked.select("doc", F.explode(F.slice("ranked", 1, plen)).alias("p"))
        .filter(F.col("p.df") >= 2)
        .select(F.col("p.shingle").alias("shingle"), F.col("p.df").alias("df"))
    )
    pf = prefix.groupBy("shingle", "df").agg(F.count(F.lit(1)).alias("pf"))
    if contained_side_only:
        row = pf.agg(
            F.coalesce(F.sum(F.col("pf").cast("double") * F.col("df")), F.lit(0.0)).alias("v")
        ).collect()[0]
        return int(row["v"])
    return _pair_volume(pf, "pf")


def _segment_arrays(sh: DataFrame, K: int, small_max: int) -> DataFrame:
    """(doc, sz, ss) — each doc's shingles hashed into K segments, sorted
    within segment, segments of < 2 elements dropped (they can't witness a
    shared 2-token). Built once by the planner and REUSED by the pairtoken
    executor: the groupBy here is the only token-channel shuffle whose input
    is the full posting set, so sharing it between probe and execution
    halves that cost."""
    return (
        sh.filter(F.col("sz") >= small_max)
        .groupBy("doc", "sz", F.pmod(F.col("s"), F.lit(K)).alias("seg"))
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )


# Packed-row guards: (doc << 16) | sz must be a lossless bijection for the
# packed candidate path; docs or shingle-set sizes beyond these fall back to
# the struct formulation (identical semantics, ~2× shuffle bytes).
PACK_MAX_DOC = 1 << 45
PACK_MAX_SZ = 1 << 16


def _pairtoken_candidates(
    sh: DataFrame,
    K: int,
    small_max: int,
    token_docs: DataFrame | None = None,
    segarr: DataFrame | None = None,
    pack_ok: bool | None = None,
) -> DataFrame:
    """Candidate (doc_a, doc_b, sz_a, sz_b) pairs from segmented 2-token
    indexing over fingerprinted postings ``sh`` = (doc, sz, s).

    * token channel: docs in ``token_docs`` (default: sz >= small_max) sort
      each hash segment's shingles and emit every within-segment ordered
      shingle pair as a token; candidate = two docs sharing a token.
    * singles channel: docs with sz < small_max post every shingle; each
      such posting pairs against the shingle's FULL posting list (never
      all-pairs of the full list — volume is Σ df_small·df, controlled by
      the size quantile K was derived from).

    Physical encoding: when doc ids and sizes fit (the PACK_* guards), the
    emission row is TWO longs — token = xxhash64(s1, s2) and
    dz = (doc << 16) | sz — so the token-channel shuffle moves ~16 B/row
    instead of a 4-field struct, and the candidate distinct() runs on a
    2-long row before unpacking (measured 16 s → ~8 s on the 28.6M-row
    sf1.0 emission). Token hashing can only MERGE buckets (xxhash64
    collisions), which adds verified-away candidates, never drops one —
    losslessness is preserved. ``segarr`` (from the planner) skips the
    segment groupBy; ``pack_ok`` skips the max-doc/max-sz probe."""
    token_side = token_docs if token_docs is not None else sh.filter(
        F.col("sz") >= small_max
    )
    if segarr is None:
        segarr = _segment_arrays(token_side, K, 0)
    if pack_ok is None:
        doc_type = dict(sh.dtypes).get("doc")
        if doc_type not in ("tinyint", "smallint", "int", "bigint"):
            pack_ok = False
        else:
            row = sh.agg(
                F.min("doc").alias("mn"), F.max("doc").alias("md"), F.max("sz").alias("ms")
            ).collect()[0]
            pack_ok = (
                row["md"] is not None
                and 0 <= row["mn"]
                and row["md"] < PACK_MAX_DOC
                and row["ms"] < PACK_MAX_SZ
            )

    if not pack_ok:
        tok = (
            segarr.select("doc", "sz", F.explode("ss").alias("s1"), F.col("ss"))
            .select("doc", "sz", "s1", F.explode("ss").alias("s2"))
            .filter(F.col("s1") < F.col("s2"))
        )
        tok_pairs = (
            tok.groupBy("s1", "s2")
            .agg(F.collect_list(F.struct("doc", "sz")).alias("docs"))
            .filter(F.size("docs") >= 2)
            .select(F.explode("docs").alias("a"), F.col("docs"))
            .select("a", F.explode("docs").alias("b"))
            .filter(F.col("a.doc") < F.col("b.doc"))
        )
        posting = (
            sh.groupBy("s")
            .agg(F.collect_list(F.struct("doc", "sz")).alias("docs"))
            .withColumn(
                "smalls", F.filter("docs", lambda d: d["sz"] < F.lit(small_max))
            )
            .filter((F.size("smalls") >= 1) & (F.size("docs") >= 2))
        )
        small_pairs = (
            posting.select(F.explode("smalls").alias("x"), F.col("docs"))
            .select("x", F.explode("docs").alias("y"))
            .filter(F.col("x.doc") != F.col("y.doc"))
            .select(
                F.when(F.col("x.doc") < F.col("y.doc"), F.struct("x", "y"))
                .otherwise(F.struct(F.col("y").alias("x"), F.col("x").alias("y")))
                .alias("p")
            )
            .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
        )
        both = tok_pairs.unionByName(small_pairs)
        return both.select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        ).distinct()

    dz = (F.shiftleft(F.col("doc").cast("bigint"), 16) + F.col("sz")).alias("dz")
    tok = (
        segarr.select(F.col("doc"), F.col("sz"), F.explode("ss").alias("s1"), F.col("ss"))
        .select("doc", "sz", "s1", F.explode("ss").alias("s2"))
        .filter(F.col("s1") < F.col("s2"))
        .select(F.xxhash64("s1", "s2").alias("t"), dz)
    )
    tok_pairs = (
        tok.groupBy("t")
        .agg(F.collect_list("dz").alias("dzs"))
        .filter(F.size("dzs") >= 2)
        .select(F.explode("dzs").alias("a"), F.col("dzs"))
        .select("a", F.explode("dzs").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    posting = (
        sh.select("s", dz)
        .groupBy("s")
        .agg(F.collect_list("dz").alias("dzs"))
        .withColumn(
            "smalls",
            F.filter("dzs", lambda d: d.bitwiseAND(F.lit(65535)) < F.lit(small_max)),
        )
        .filter((F.size("smalls") >= 1) & (F.size("dzs") >= 2))
    )
    small_pairs = (
        posting.select(F.explode("smalls").alias("x"), F.col("dzs"))
        .select("x", F.explode("dzs").alias("y"))
        .filter(F.shiftright("x", 16) != F.shiftright("y", 16))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    both = tok_pairs.unionByName(small_pairs).distinct()
    return both.select(
        F.shiftright("a", 16).alias("doc_a"),
        F.shiftright("b", 16).alias("doc_b"),
        F.col("a").bitwiseAND(F.lit(65535)).cast("int").alias("sz_a"),
        F.col("b").bitwiseAND(F.lit(65535)).cast("int").alias("sz_b"),
    )


def _verify_pairs(cands: DataFrame, arrays: DataFrame) -> DataFrame:
    """Exact intersection for candidate pairs: two hash joins against the
    per-doc shingle arrays + one array_intersect per candidate. Adds
    ``inter``; callers derive jaccard / containment and filter."""
    sets_a = arrays.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sets_b = arrays.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .drop("sh_a", "sh_b")
    )


def ngram_jaccard_pairs_pairtoken(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    K: int | None = None,
    small_max: int | None = None,
    arrays: DataFrame | None = None,
    segarr: DataFrame | None = None,
    pack_ok: bool | None = None,
) -> DataFrame:
    """Exact Jaccard join, segmented 2-token formulation (planner block
    comment above; AdaptJoin SIGMOD'12 for the general l-token scheme).

    Completeness proof sketch: for J(A,B) >= t,
    |A∩B| >= t/(1+t)·(|A|+|B|) >= 2t/(1+t)·min(|A|,|B|). With
    small_max = ceil((K+1)(1+t)/(2t)), two docs both of size >= small_max
    share >= K+1 shingles, so some hash segment (seg = pmod(fingerprint, K),
    identical in every doc) holds >= 2 shared shingles — both docs emit that
    (s1, s2) token. Pairs where either side is smaller are covered by the
    singles channel (small docs post every shingle against full posting
    lists). Candidates are then verified exactly, so false candidates cost
    time, never correctness."""
    if K is None or small_max is None:
        raise ValueError("pairtoken requires planner-provided K and small_max")
    if arrays is None:
        arrays = share(
            shingle_arrays(df, text_col, id_col, n, fingerprint=True), mode="lazy"
        )
    sh = arrays.select(
        "doc", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    cands = _pairtoken_candidates(
        sh, K, small_max, segarr=segarr, pack_ok=pack_ok
    ).filter(
        F.least(F.col("sz_a"), F.col("sz_b"))
        >= F.lit(threshold) * F.greatest(F.col("sz_a"), F.col("sz_b"))
    )
    return (
        _verify_pairs(cands, arrays)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs_pairtoken(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    K: int | None = None,
    small_max: int | None = None,
    arrays: DataFrame | None = None,
    segarr: DataFrame | None = None,
    pack_ok: bool | None = None,
) -> DataFrame:
    """Exact containment join, segmented 2-token formulation.

    Completeness: C(A→B) >= t means |A∩B| >= t·|A|; with
    small_max = ceil((K+1)/t), a contained side of size >= small_max forces
    >= K+1 shared shingles → a shared within-segment 2-token. The CONTAINER
    has no size bound, so the token channel indexes EVERY doc (the shared
    segment pair is inside B whatever B's size). Contained docs below
    small_max go through the singles channel. Verification computes both
    directions from one unordered candidate set."""
    if K is None or small_max is None:
        raise ValueError("pairtoken requires planner-provided K and small_max")
    if arrays is None:
        arrays = share(
            shingle_arrays(df, text_col, id_col, n, fingerprint=True), mode="lazy"
        )
    sh = arrays.select(
        "doc", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    cands = _pairtoken_candidates(
        sh, K, small_max, token_docs=sh, segarr=segarr, pack_ok=pack_ok
    )
    verified = _verify_pairs(cands, arrays)
    directed = verified.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_a"),
                    F.col("doc_b").alias("doc_b"),
                    (F.col("inter") / F.col("sz_a")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    (F.col("inter") / F.col("sz_b")).alias("containment"),
                ),
            )
        ).alias("p")
    )
    return directed.select("p.doc_a", "p.doc_b", "p.containment").filter(
        F.col("containment") >= threshold
    )


def ngram_jaccard_pairs_count(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard join, counting formulation: the intersection size IS
    the per-pair co-occurrence count over the inverted index, so Jaccard
    falls out of one groupBy with no verify join and no shingle arrays kept
    around. The length filter (min sz ≥ t·max sz) prunes pairs before the
    pair shuffle; map-side partial aggregation combines repeat pairs.

    Use via ``ngram_jaccard_pairs_auto`` — this path is only correct-AND-
    fast when Σ C(df,2) is modest (dense small-vocab corpora); a hot
    shingle makes it quadratic, which is what the planner guards.

    With planner-provided ``arrays`` (fingerprinted, checkpointed) the
    postings derive from them — same fingerprint-collision exposure as the
    verify joins of the other two modes (≈ n²/2⁶⁵, below any oracle's
    resolution)."""
    if arrays is not None:
        sh = arrays.select(
            "doc", F.explode("shingles").alias("shingle"), F.size("shingles").alias("sz")
        )
    else:
        sh = shingles(df, text_col, id_col, n, with_size=True)
    posting = sh.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("sz"))).alias("docs")
    )
    pairs = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# Emission rows (narrow token rows through one shuffle) cost ~1/4 of a pair
# row that must survive distinct + verify.
EMISSION_WEIGHT = 0.25
# A pairtoken win this lopsided skips the prefix-volume probe entirely (the
# probe itself costs a collect_list + slice pass over the corpus).
PT_DECISIVE_RATIO = 5.0


# 1-in-TOKVOL_SAMPLE hash-sample of 2-token keys for the tokvol probe: every
# row of a sampled key is kept (token-level sampling), so per-key counts are
# exact and Σ C(c,2) over the sample × TOKVOL_SAMPLE is an unbiased estimate
# of the full token-pair volume.
TOKVOL_SAMPLE = 16


class _ExactJoinPlan:
    """Everything _plan_exact_join decided AND materialized, so executors
    re-use the probe's work instead of re-deriving it: ``arrays`` is the
    shared checkpoint of the fingerprinted shingle arrays (every mode
    needs it), ``segarr`` the segment arrays (pairtoken token channel),
    ``pack_ok`` the packed-row guard verdict."""

    __slots__ = ("mode", "K", "small_max", "arrays", "segarr", "pack_ok")

    def __init__(self, mode, K, small_max, arrays, segarr, pack_ok):
        self.mode, self.K, self.small_max = mode, K, small_max
        self.arrays, self.segarr, self.pack_ok = arrays, segarr, pack_ok


def _plan_exact_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    contained: bool,
    stats: dict | None = None,
) -> _ExactJoinPlan:
    """Probe posting volumes and pick an exact-join plan: "count",
    "pairtoken", or "prefix" (planner block comment above).

    Probe discipline (the round-4 planner re-tokenized the corpus for every
    probe and materialized the full pair-token emission — 35 s of a 78 s
    query at sf1.0; this one is ~5 s on the same corpus):

    * the shingle arrays are checkpointed ONCE and shared by
      every probe AND by the chosen executor;
    * emission is computed ANALYTICALLY as Σ C(segment_size, 2) from the
      segment arrays — no pair explode;
    * token-pair volume is estimated from a 1/TOKVOL_SAMPLE hash-sample of
      2-token keys (unbiased; planning needs relative order, not digits);
    * the prefix volume (a collect_list + rank pass) is probed ONLY when
      neither cheap mode is decisive — on corpora where count or pairtoken
      is already below COUNT_COST_OBVIOUS the probe would cost more than
      the difference it could reveal;
    * probe ACTIONS are merged (round 6): the quantile materializes the
      lazily-checkpointed arrays in the same job, and the three 1-row
      segment probes (emission / sampled tokvol / heavy-hitter floor)
      crossJoin into a single collect — 4 jobs end to end instead of 7.

    Cost unit = pair rows through a shuffle+distinct+verify; token emission
    rows are weighted EMISSION_WEIGHT. The 5th-percentile doc size sets the
    segment count K so that at most ~5% of docs fall into the singles
    channel, keeping its Σ df_small·df term bounded."""
    import math

    # lazy checkpoint: the quantile probe is the first action over the
    # arrays, so one job both tokenizes the corpus into checkpoint blocks
    # and returns the size quantile (an eager checkpoint + separate
    # quantile action would scan the corpus twice)
    arrays = share(
        shingle_arrays(df, text_col, id_col, n, fingerprint=True), mode="lazy"
    )
    quant = arrays.select(F.size("shingles").alias("sz")).approxQuantile(
        "sz", [0.05], 0.01
    )
    q05 = quant[0] if quant else 0.0
    if contained:
        K = int(threshold * q05) - 1
        small_max = math.ceil((K + 1) / threshold) if K >= 2 else None
    else:
        K = int(2 * threshold * q05 / (1 + threshold)) - 1
        small_max = (
            math.ceil((K + 1) * (1 + threshold) / (2 * threshold)) if K >= 2 else None
        )
    sh = arrays.select(
        "doc", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    doc_integral = dict(arrays.dtypes).get("doc") in (
        "tinyint", "smallint", "int", "bigint",
    )
    per = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("df"),
        F.count_if(F.col("sz") < F.lit(small_max if small_max else 0)).alias("nsmall"),
        F.min("doc").alias("mnd"),
        F.max("doc").alias("mxd"),
        F.max("sz").alias("mxs"),
    )
    row = per.agg(
        F.coalesce(
            F.sum(F.col("df").cast("double") * (F.col("df") - 1) / 2), F.lit(0.0)
        ).alias("cc"),
        F.coalesce(
            F.sum(F.col("nsmall").cast("double") * (F.col("df") - 1)), F.lit(0.0)
        ).alias("sc"),
        F.min("mnd").alias("mn"),
        F.max("mxd").alias("md"),
        F.max("mxs").alias("ms"),
    ).collect()[0]
    count_cost, small_cross = int(row["cc"]), int(row["sc"])
    pack_ok = bool(
        doc_integral
        and row["md"] is not None
        and 0 <= row["mn"]
        and row["md"] < PACK_MAX_DOC
        and row["ms"] < PACK_MAX_SZ
    )
    costs: dict[str, float] = {"count": float(count_cost)}
    pt_detail = None
    segarr = None
    if count_cost <= COUNT_COST_OBVIOUS:
        mode = "count"
    else:
        if K >= 2:
            token_side = sh if contained else sh.filter(F.col("sz") >= small_max)
            # eager, deliberately (round 6, measured): a lazy checkpoint
            # here looks like it would merge the materialization into the
            # probe collect (the arrays+quantile trick one step up), but
            # the THREE crossJoined probe subtrees each scan segarr in
            # their own stage, and with unmaterialized blocks they all
            # recompute the explode+collect_list shuffle concurrently —
            # flat at 32 cores, 2x slower at 8 (q24 4.55 vs 2.19 s, 8-core
            # subset bench). Same failure mechanism as the rejected lazy
            # per-round checkpoints in _cc_star. (Also rejected: merging
            # the size quantile into the df-stats job via an in-plan
            # percentile + 1-row crossJoin - the broadcast attach taxes
            # every exploded shingle row, costing more than the job it
            # saves.)
            segarr = share(_segment_arrays(token_side, K, 0), mode="eager")
            em_agg = segarr.agg(
                F.coalesce(
                    F.sum(
                        F.size("ss").cast("double") * (F.size("ss") - 1) / 2
                    ),
                    F.lit(0.0),
                ).alias("em")
            )
            tok_sample = (
                segarr.select(F.explode("ss").alias("s1"), F.col("ss"))
                .select("s1", F.explode("ss").alias("s2"))
                .filter(F.col("s1") < F.col("s2"))
                .filter(F.pmod(F.xxhash64("s1", "s2"), F.lit(TOKVOL_SAMPLE)) == 0)
                .groupBy("s1", "s2")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            tv_agg = tok_sample.agg(
                F.coalesce(
                    F.sum(F.col("c").cast("double") * (F.col("c") - 1) / 2),
                    F.lit(0.0),
                ).alias("tv")
            )
            # the hash sample is keyed — a single hot 2-token key is either
            # fully counted or fully MISSED (1/TOKVOL_SAMPLE odds), and a
            # miss underestimates the dominant C(c,2) term 16x. Floor with
            # an exact heavy-hitter bound that needs no pair explosion:
            # g docs sharing an IDENTICAL segment array share >= 1 2-token
            # key of count >= g, and convexity makes sum-of-C(g,2) over
            # identical-array groups a lower bound on sum-of-C(c,2) even
            # when groups overlap on keys (c >= g1+g2 => C(c,2) >=
            # C(g1,2)+C(g2,2)). One O(|docs|)-row aggregate over the
            # shared checkpoint.
            fl_agg = (
                segarr.filter(F.size("ss") >= 2)
                .groupBy(F.xxhash64("ss").alias("ak"))
                .agg(F.count(F.lit(1)).alias("g"))
                .agg(
                    F.coalesce(
                        F.sum(F.col("g").cast("double") * (F.col("g") - 1) / 2),
                        F.lit(0.0),
                    ).alias("fl")
                )
            )
            # all three probes are 1-row aggregates over the SAME
            # checkpointed segment arrays: crossJoin them into one row and
            # pay ONE job's scheduling + Py4J round-trip instead of three
            # (the subtrees are independent, so the single job still runs
            # their stages in parallel)
            prow = em_agg.crossJoin(tv_agg).crossJoin(fl_agg).collect()[0]
            emission = float(prow["em"])
            tokvol = max(float(prow["tv"]) * TOKVOL_SAMPLE, float(prow["fl"]))
            costs["pairtoken"] = EMISSION_WEIGHT * emission + PREFIX_VERIFY_WEIGHT * (
                tokvol + small_cross
            )
            pt_detail = {
                "emission": emission,
                "tokvol": tokvol,
                "small_cross": small_cross,
            }
        if "pairtoken" in costs and (
            costs["pairtoken"] <= COUNT_COST_OBVIOUS
            or costs["pairtoken"] * PT_DECISIVE_RATIO <= count_cost
        ):
            mode = "pairtoken"
        else:
            prefix_vol = _prefix_volume(
                sh.withColumnRenamed("s", "shingle"),
                threshold,
                contained_side_only=contained,
            )
            costs["prefix"] = PREFIX_VERIFY_WEIGHT * prefix_vol
            mode = min(costs, key=costs.get)
    if stats is not None:
        stats.update(
            mode=mode,
            count_cost=count_cost,
            prefix_cost=costs.get("prefix"),
            pairtoken_cost=costs.get("pairtoken"),
            K=K if mode == "pairtoken" else None,
            small_max=small_max if mode == "pairtoken" else None,
            q05=q05,
            pack_ok=pack_ok,
            pt_detail=pt_detail,
        )
    if mode != "pairtoken":
        return _ExactJoinPlan(mode, None, None, arrays, None, pack_ok)
    return _ExactJoinPlan(mode, K, small_max, arrays, segarr, pack_ok)


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    stats: dict | None = None,
) -> DataFrame:
    """Exact Jaccard join with the three-way auto-planner (block comment
    above). Returns identical rows whichever plan is chosen — all three are
    lossless; only the physical plan differs. ``stats``, if given, receives
    {"mode", "count_cost", "prefix_cost", "pairtoken_cost", ...} for
    plan-pin tests.

    The planner's materializations (checkpointed shingle arrays, segment
    arrays) are handed to the chosen executor, so the corpus is tokenized
    exactly once per auto call."""
    plan = _plan_exact_join(
        df, text_col, id_col, n, threshold, contained=False, stats=stats
    )
    if plan.mode == "count":
        return ngram_jaccard_pairs_count(
            df, text_col, id_col, n, threshold, arrays=plan.arrays
        )
    if plan.mode == "pairtoken":
        return ngram_jaccard_pairs_pairtoken(
            df,
            text_col,
            id_col,
            n,
            threshold,
            K=plan.K,
            small_max=plan.small_max,
            arrays=plan.arrays,
            segarr=plan.segarr,
            pack_ok=plan.pack_ok,
        )
    return ngram_jaccard_pairs_prefix(
        df, text_col, id_col, n, threshold, arrays=plan.arrays
    )


def cross_doc_dup_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Corpus-wide duplicate n-gram fraction per document: the share of a
    doc's distinct n-gram shingles that also occur in at least one OTHER
    document. High values mark boilerplate/templated text that survives
    doc-level dedup (the cross-document cousin of the in-document Gopher
    repetition signals in textstats.repetition_signals).

    Scale shape: one groupBy(shingle) for global document frequency (map-
    side combined), one shuffle join back to the postings, one groupBy(doc)
    — all linear; no pair materialization anywhere.
    """
    arrays = shingle_arrays(df, text_col, id_col, n)
    sh = arrays.select("doc", F.explode("shingles").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "doc",
            "n_shingles",
            (F.col("n_dup") / F.col("n_shingles")).alias("dup_frac"),
        )
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    md5(i|shingle) (lexicographic min of hex strings — a valid uniform
    min-hash, reproducible in any engine with md5)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verified.

    Scale shape: signatures are one groupBy over exploded shingles; band
    buckets explode to `bands` rows/doc; candidates come from joining docs
    sharing a band bucket (hot buckets are bounded because equal bands imply
    near-identical docs); final exact verification touches only candidates.
    """
    rows_per_band = num_hashes // bands
    # the shingle set feeds three plan branches (signatures + both sides of
    # the verification join); checkpoint the per-doc ARRAYS once (1 row/doc —
    # far smaller than the exploded postings) rather than recomputing the
    # tokenization 3× at scale. No size-filter: shingle_arrays guarantees
    # nonempty arrays.
    arrays = share(shingle_arrays(df, text_col, id_col, n), mode="lazy")
    # signatures straight off the array, NO groupBy shuffle. Hash family is
    # Carter–Wegman over ONE md5 per shingle: h_i(s) = (h1(s) + i·h2(s))
    # mod P with h1/h2 = two 32-bit halves of md5(s) — pairwise-independent,
    # deterministic in any engine, and 1 digest per shingle instead of
    # num_hashes digests (the dominant CPU cost of signature building).
    P = 4_294_967_311  # smallest prime > 2^32; i·h2 ≤ 2^37 ≪ 2^63, no overflow
    hashed = arrays.select(
        "doc",
        F.size("shingles").alias("sz"),
        F.transform("shingles", lambda s: F.md5(s)).alias("__m"),
    ).select(
        "doc",
        "sz",
        F.transform("__m", lambda m: F.conv(F.substring(m, 1, 8), 16, 10).cast("long")).alias("__h1"),
        F.transform("__m", lambda m: F.conv(F.substring(m, 9, 8), 16, 10).cast("long")).alias("__h2"),
    )
    def _cw_min(i: int):
        return F.array_min(
            F.zip_with("__h1", "__h2", lambda a, b: (a + F.lit(i + 1) * b) % F.lit(P))
        ).alias(f"h{i}")

    sig = hashed.select("doc", "sz", *[_cw_min(i) for i in range(num_hashes)])
    band_cols = [
        F.concat_ws("|", F.lit(str(b)), *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ]
    buckets = sig.select("doc", "sz", F.explode(F.array(*band_cols)).alias("bucket"))
    cands = (
        buckets.alias("a")
        .join(buckets.alias("b"), "bucket")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    # exact verification over the checkpointed per-doc shingle ARRAYS: join the
    # candidate pairs to one array per side and intersect in-row. This keeps
    # the verify cost O(candidates · array-size) with two narrow hash joins,
    # instead of re-exploding EVERY posting on both sides and shuffling the
    # full postings table twice (the r1 bench hotspot — 28.6s at sf0.1).
    sets_a = arrays.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sets_b = arrays.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """16-bit SimHash per document from word unigrams.

    Bit j of the fingerprint = majority vote of bit j across token hashes
    (weighted by token frequency). Token hash bit j = high bit of the j-th
    hex nibble of md5(token) — deterministic in any engine.

    `spread` first: the normalize+explode+md5 pass is CPU-dense and ran
    at raw-scan parallelism (1 task on the one-file local corpus,
    event-log measured round 6); a real corpus has ≥ cores files and the
    spread is a no-op.
    """
    df = spread(df)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.withColumn("md5", F.md5("tok"))
    # vote[j] = Σ tokens (+1 if nibble_j >= 8 else -1)
    votes = [
        F.sum(
            F.when(
                F.substring("md5", j + 1, 1).isin(*list("89abcdef")), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = h.groupBy("doc").agg(*votes)
    fp = per_doc.select(
        "doc",
        sum(
            (F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)),
            start=F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return fp


def simhash_pairs(fp: DataFrame, max_hamming: int = 2, bits: int = 16) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Blocking: split the fingerprint into (max_hamming+1) segments — any pair
    within distance k must agree exactly on ≥1 segment (pigeonhole), so we
    only join within segment-value buckets. Verification via bit_count(xor).
    """
    nseg = max_hamming + 1
    seg_bits = bits // nseg
    segs = [
        F.concat_ws(":", F.lit(str(s)), ((F.col("simhash").bitwiseAND(F.lit(((1 << seg_bits) - 1) << (s * seg_bits)))) / F.lit(1 << (s * seg_bits))).cast("long"))
        for s in range(nseg)
    ]
    keyed = fp.select("doc", "simhash", F.explode(F.array(*segs)).alias("seg"))
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "seg")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs


def dedup_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    priority: list | None = None,
) -> DataFrame:
    """Materialize the deduplicated corpus: keep ONE row per
    normalized-content fingerprint — the lowest id by default, or the first
    row under ``priority`` (a list of ordering Columns, e.g.
    ``F.desc("quality")``; the id is always appended as the deterministic
    tie-break). The apply step downstream of `exact_dedup`'s report.

    Skew-immune formulation: the winner per fingerprint is `min_by` over a
    lexicographic sort-key struct — an algebraic aggregate that map-side
    combines, so a document duplicated a million times (the reason dedup
    runs at all) still reduces locally per partition, where a row_number
    window would pile every copy onto one task. The winner ids then join
    back (AQE splits any skewed join partition). Descending keys are
    realized by numeric negation, so priority columns must be numeric —
    which quality scores are."""
    keys = []
    for i, c in enumerate(priority or []):
        expr = c._jc.toString() if hasattr(c, "_jc") else str(c)
        name = expr.split(" ")[0].strip("`")
        if " DESC" in expr:
            keys.append((-F.col(name)).alias(f"__k{i}"))
        else:
            keys.append(F.col(name).alias(f"__k{i}"))
    # null text coalesces to '' BEFORE hashing: a null fingerprint would
    # never satisfy the winner equi-join and the row would silently vanish
    fp = F.md5(F.coalesce(normalize_text(text_col), F.lit("")))
    tagged = df.withColumn("__fp", fp)
    winners = (
        tagged.groupBy("__fp")
        .agg(
            F.min_by(
                F.col(id_col), F.struct(*keys, F.col(id_col).alias("__id"))
            ).alias("__wid")
        )
    )
    return (
        tagged.join(
            winners,
            (tagged["__fp"] == winners["__fp"]) & (tagged[id_col] == winners["__wid"]),
        )
        .drop("__fp", "__wid")
    )


# Small-graph fast lane of connected_components (see _cc_star): collect the
# deduped edge list to a driver-side union-find when it has at most this many
# edges AND an estimated collected footprint of at most this many bytes.
CC_DRIVER_MAX_EDGES = 1_000_000
CC_DRIVER_MAX_BYTES = 64 * 1024 * 1024


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph. Returns one row per
    node: (node, lab) where lab is the component's min node id.

    Alternating large-star / small-star rounds (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC'14) converge in O(log n)
    rounds on ANY graph shape, so a pathological chain-shaped duplicate
    graph (diameter ~n) costs log rounds, not n; small graphs take a
    driver-side union-find instead (see ``_cc_star``, gated by
    ``CC_DRIVER_MAX_EDGES`` and ``CC_DRIVER_MAX_BYTES``). ``stats``, if
    given, receives ``{"rounds": n}`` for round-count assertions."""
    return _cc_star(edges, a_col, b_col, max_iter, stats)


def _cc_star(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    max_iter: int,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. SoCC'14, Alg. 2).

    Each round is two map-reduce steps over the CURRENT edge list only:

    - **large-star**: per node u, connect every strictly larger neighbor to
      m = min(N(u) ∪ {u}) — one symmetrizing explode, one groupBy-min, one
      equi-join, all hash-partitioned by node id.
    - **small-star**: orient edges (large, small); per node u connect every
      smaller neighbor (and u) to m = min(N⁻(u) ∪ {u}) — same shape without
      the symmetrize.

    The edge list never grows beyond the input (deduped each step), labels
    only fall, and the paper proves O(log n) rounds to the star fixpoint
    where every edge is (node, component-min). Convergence detection: a
    cheap O(1)-row signature aggregate (count, Σa, Σb over decimal —
    overflow-proof at any id magnitude) per round, confirmed by an exact
    ``exceptAll`` emptiness check only when the signature stops moving, so
    a signature collision can never end the loop early. Lineage is
    truncated per round with an eager ``share``.

    Small-graph fast lane (round 6, measured): each distributed round is
    ~8 scheduled jobs (two star shuffles, an eager checkpoint, a signature
    collect, plus the exceptAll confirmation at the fixpoint) — ~3–6 s of
    pure scheduling at bench scale over an edge list of a few hundred
    rows. When the deduped edge count (already computed for the signature)
    is at most ``CC_DRIVER_MAX_EDGES``, the edges are collected and labeled
    by a driver-side union-find instead. The output is IDENTICAL by
    construction: union-by-min-root keeps every root the minimum id of
    its component — the same fixpoint the star rounds converge to — and
    id comparison agrees with Spark's (longs exactly; strings compare
    byte-wise in Spark and codepoint-wise in Python, which UTF-8 makes
    the same order). The gate is data-adaptive, not scale-tuned: at
    100 TB the near-dup edge count exceeds any sane threshold and the
    distributed rounds run unchanged (the same adaptivity AQE applies to
    broadcast joins). Thresholds: ``CC_DRIVER_MAX_EDGES`` (1e6 edges —
    sized for long ids) AND an estimated-bytes gate ``CC_DRIVER_MAX_BYTES``
    (64 MiB — catches fat string ids the edge count alone would
    under-estimate; round 7)."""
    # eager checkpoint, measured choice (round 6): a lazy checkpoint whose
    # blocks materialize under the signature aggregate was 2× SLOWER here —
    # the per-round frame is consumed by several downstream jobs and the
    # lazy variant re-ran upstream stages — so the explicit materialize-
    # then-aggregate two-job shape stays
    e = share(
        edges.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
            F.least(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        mode="eager",
    )
    # isolated self-pair nodes (a==b only) would vanish here; near-dup edge
    # lists don't produce them, and dedup_clusters unions labels over the
    # pair frame's own nodes anyway.

    def _sig(df: DataFrame, *extra):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # try_cast: numeric ids sum exactly; non-numeric (string) ids
            # yield NULL sums, leaving the count + exceptAll confirmation
            # to detect the fixpoint (ANSI cast would throw on strings)
            F.sum(F.col("a").try_cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").try_cast("decimal(38,0)")).alias("sb"),
            *extra,
        ).collect()[0]
        return (r["n"], r["sa"], r["sb"]), r

    # the first signature also estimates the fast lane's collected
    # footprint: id bytes plus ~60 B/edge of Row/tuple overhead, so fat
    # string ids the edge count under-estimates stay distributed
    prev_sig, r = _sig(
        e,
        F.sum(
            F.octet_length(F.col("a").cast("string"))
            + F.octet_length(F.col("b").cast("string"))
            + F.lit(60)
        ).alias("bytes"),
    )
    if prev_sig[0] <= CC_DRIVER_MAX_EDGES and (r["bytes"] or 0) <= CC_DRIVER_MAX_BYTES:
        if stats is not None:
            stats["rounds"] = 0  # driver fast lane: no distributed rounds
        return _cc_union_find_driver(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star ---------------------------------------------------
        nb = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("x")
        ).select("x.u", "x.v")
        mins = nb.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        ls = (
            nb.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # -- small-star ---------------------------------------------------
        # ls edges are already oriented (a > b)
        smins = ls.groupBy("a").agg(F.min("b").alias("m"))
        e_new = share(
            ls.join(smins, "a")
            .select(F.col("b").alias("x"), F.col("m"))
            .filter(F.col("x") != F.col("m"))
            .unionByName(smins.select(F.col("a").alias("x"), F.col("m")))
            .select(F.col("x").alias("a"), F.col("m").alias("b"))
            .distinct(),
            mode="eager",
        )
        sig, _ = _sig(e_new)
        if sig == prev_sig and e_new.exceptAll(e).union(e.exceptAll(e_new)).isEmpty():
            e = e_new
            break
        prev_sig = sig
        e = e_new
    if stats is not None:
        stats["rounds"] = rounds
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("lab"))
        .unionByName(e.select(F.col("b").alias("node"), F.col("b").alias("lab")))
        .groupBy("node")
        .agg(F.min("lab").alias("lab"))
    )


def _cc_union_find_driver(e: DataFrame) -> DataFrame:
    """Label a collected (a, b) edge list with union-find, root = component
    min (see the `_cc_star` fast-lane docstring for the equivalence
    argument). `e` is the canonical edge frame: a > b, deduped, already
    checkpoint-materialized, so the collect reads blocks, not lineage.
    Output schema matches the distributed path: (node, lab) in the edge
    columns' own type."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in e.collect():
        a, b = row[0], row[1]
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller: every root stays
            # the minimum id of its component, exactly the star fixpoint
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    nodes = sorted(parent)  # every non-isolated node appears as a key or root
    roots = {x for x in nodes if find(x) == x} | {find(x) for x in nodes}
    out = [(x, find(x)) for x in sorted(set(nodes) | roots)]
    dtype = e.schema[0].dataType
    schema = T.StructType(
        [T.StructField("node", dtype, True), T.StructField("lab", dtype, True)]
    )
    return e.sparkSession.createDataFrame(out, schema)


def dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-duplicate clustering: n-gram-Jaccard pairs >= threshold become
    edges; connected components assign each involved doc a cluster id (the
    component's min doc id) and cluster size. The downstream curation rule
    "keep one doc per near-dup cluster" is `doc == cluster_id`.

    Edges come from the auto-planned exact join (lossless in both modes),
    so the clustering is exact at any scale."""
    pairs = ngram_jaccard_pairs_auto(df, text_col, id_col, n=n, threshold=threshold)
    labels = connected_components(pairs)
    size_w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("node").alias("doc"), F.col("lab").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(size_w).cast("long"))
    )


def containment_pairs_count(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Containment join, counting formulation (see the auto-planner block
    comment): per-pair co-occurrence count over the inverted index IS the
    exact intersection; each unordered pair then yields up to two directed
    rows (inter/sz_a and inter/sz_b). No length pre-filter exists for
    containment — the smaller side of any co-occurring pair is always a
    feasible contained side — so this is the full Σ C(df,2) volume, planner-
    guarded like the Jaccard path."""
    if arrays is not None:
        sh = arrays.select(
            "doc", F.explode("shingles").alias("shingle"), F.size("shingles").alias("sz")
        )
    else:
        sh = shingles(df, text_col, id_col, n, with_size=True)
    posting = sh.groupBy("shingle").agg(
        F.collect_list(F.struct(F.col("doc"), F.col("sz"))).alias("docs")
    )
    pairs = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_x"),
            F.col("b.doc").alias("doc_y"),
            F.col("a.sz").alias("sz_x"),
            F.col("b.sz").alias("sz_y"),
        )
    )
    counted = pairs.groupBy("doc_x", "doc_y").agg(
        F.count(F.lit(1)).alias("inter"),
        F.first("sz_x").alias("sz_x"),
        F.first("sz_y").alias("sz_y"),
    )
    directed = counted.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_x").alias("doc_a"),
                    F.col("doc_y").alias("doc_b"),
                    (F.col("inter") / F.col("sz_x")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_y").alias("doc_a"),
                    F.col("doc_x").alias("doc_b"),
                    (F.col("inter") / F.col("sz_y")).alias("containment"),
                ),
            )
        ).alias("p")
    )
    return directed.select("p.doc_a", "p.doc_b", "p.containment").filter(
        F.col("containment") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    mode: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Asymmetric near-subset detection: pairs (A, B) with containment
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold, A ≠ B — the quote /
    boilerplate-copy signal Jaccard misses (a small doc wholly inside a huge
    one has low Jaccard but containment 1.0).

    ``mode="auto"`` (default) probes posting volumes and picks the counting
    formulation when Σ C(df,2) is cheap (dense small-vocab regime), else the
    prefix+verify plan below — same planner as ngram_jaccard_pairs_auto.
    ``mode="prefix"`` / ``mode="count"`` force a plan.

    Prefix filtering applies to the CONTAINED side only: if C(A→B) ≥ t then
    B shares one of A's first L_A = |A| − ceil(t·|A|) + 1 shingles under the
    global rarity order (fewer than L_A matches would leave the intersection
    short even if ALL later shingles matched). The containing side has no
    such bound, so B indexes every shingle. A-prefixes hold only each doc's
    rarest shingles, so hot-shingle postings meet few prefix rows — the
    cross term stays near-linear on natural corpora; exact verification is
    `array_intersect` over the materialized shingle arrays, as in the
    Jaccard join.
    """
    if mode not in ("auto", "count", "prefix", "pairtoken"):
        raise ValueError(f"unknown containment mode {mode!r}")
    K = small_max = None
    arrays = segarr = None
    pack_ok = None
    if mode == "auto":
        plan = _plan_exact_join(
            df, text_col, id_col, n, threshold, contained=True, stats=stats
        )
        mode, K, small_max = plan.mode, plan.K, plan.small_max
        arrays, segarr, pack_ok = plan.arrays, plan.segarr, plan.pack_ok
    if mode == "count":
        return containment_pairs_count(
            df, text_col, id_col, n, threshold, arrays=arrays
        )
    if mode == "pairtoken":
        if K is None:
            raise ValueError("mode='pairtoken' is planner-only for containment")
        return containment_pairs_pairtoken(
            df,
            text_col,
            id_col,
            n,
            threshold,
            K=K,
            small_max=small_max,
            arrays=arrays,
            segarr=segarr,
            pack_ok=pack_ok,
        )

    if arrays is None:
        arrays = share(
            shingle_arrays(df, text_col, id_col, n, fingerprint=True), mode="lazy"
        )
    sh = arrays.select(
        "doc", F.size("shingles").alias("sz"), F.explode("shingles").alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .groupBy("doc", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ranked"))
    )
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefix = (
        ranked.select("doc", "sz", F.explode(F.slice("ranked", 1, plen)).alias("p"))
        .filter(F.col("p.df") >= 2)
        .select(
            F.col("doc").alias("doc_a"),
            F.col("sz").alias("sz_a"),
            F.col("p.shingle").alias("shingle"),
        )
    )
    cands = (
        prefix.join(sh.select(F.col("doc").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "sz_a")
        .distinct()
    )
    sets_a = arrays.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sets_b = arrays.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("containment", F.col("inter") / F.col("sz_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
