"""Streaming NEAR-duplicate filtering: MinHash-LSH dedup of a document
stream against ACCUMULATED history — the missing streaming member of the
dedup family (exact streaming dedup: q108 custom state / q135 built-in
dropDuplicatesWithinWatermark; batch near-dup: operators/dedup.py).

Reference framing: the reference engine deduplicates at INSERT time by
aggregating into keyed state (core/table.go insert path) — an ARRIVAL-
ordered fold, not a key-ordered one. This operator is the near-duplicate
analogue for a training-data ingest: each arriving micro-batch of
documents is checked against every document seen so far, marked
kept/dropped, and folded into the history.

Semantics (arrival order, deterministic, oracle-checkable): a document D
arriving in micro-batch B is DROPPED iff some document P with
(P.batch < B) OR (P.batch == B AND P.id < D.id) shares at least one LSH
band with D and their MinHash signatures agree on >= min_match of
num_hashes positions (the estimator calibrated by q195). Within a batch
there is no arrival order — rows of one micro-batch are a set — so the
id is the documented intra-batch tiebreak. History holds ALL seen
documents (kept and dropped), each tagged with the batch id it arrived
in, so "earlier-seen" is exactly the (batch, id) lexicographic order —
expressible by a pure-SQL oracle whenever the batch assignment is itself
a function of the data (q231 uses doc_id % 4).

State layout (exactly-once, crash-safe):
    state_dir/bands/batch={id}/   (doc, band, bh)     per-batch slices
    state_dir/bands/base_v{k}/    (doc, band, bh, batch)  compacted base
    state_dir/bands/_ptr          current version [, "table", "buckets"]
    state_dir/sigs/...            same shape, (doc, h0..h{n-1})
Each root is a versioned store (sources/versions.py, the protocol engine
tables commit their folds through): the pointer names the current base,
and a commit keeps the previous base until the next one. Slices are
written with per-batch overwrite so a checkpoint replay of a batch id is
idempotent — the same part-replace ledger idea as streaming/ingest.py.
Marked output lands in ``out_dir/batch={id}`` the same way.

Compaction (``compact_neardup_state``) folds slices into a NEW version
and commits it; readers always resolve the pointer first, so every crash
window leaves a complete store: a crash before the commit leaves
base_v{k}+slices (the old complete view; the half-written base_v{k+1} is
swept by the next compact); a crash after the commit but before slice
removal leaves base_v{k+1}+slices (duplicated rows, harmless — every
consumer is set-semantic: candidate and dropped frames are distinct()-ed,
and compact itself dropDuplicates()-es). The slices are deleted right
after the commit, because the stream's own synchronous fold is their
only reader. External compaction MUST NOT run concurrently with an
active stream (it removes slice dirs a running fold may be reading); the
sanctioned path is ``compact_every`` on the fold, which compacts
synchronously between batches.

Scale shape: the per-batch cost is |batch| signature aggregation + a
band-keyed equi-join against the band store — the standard LSH join whose
bucket sizes the banding bounds on Heaps-law corpora. With
``bucket_base=n`` the compacted band base is persisted through
sources/bucketed.py CLUSTERED BY (band, bh): the daily join is then
exchange-free on the history side (only the small arriving batch
shuffles; see test_round9 plan pin), and a fresh session re-registers the
table from the pointer file. Signatures are 16 hex-string columns per
doc, ~0.5 KB/doc — 5 TB of state per 10B docs, a parquet table, never
driver-resident.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from zenodb_spark.operators.dedup import minhash_signatures, shingles
from zenodb_spark.operators.util import share
from zenodb_spark.sources import versions

_BAND_COLS = ["doc", "band", "bh", "batch"]


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bh) — band hash = md5 of the concatenated member hashes
    (hex-string concat, reproducible in any engine with md5)."""
    rpb = num_hashes // bands
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"h{j * rpb + r}") for r in range(rpb)])
                ).alias("bh"),
            )
            for j in range(bands)
        ]
    )
    return sig.select("doc", F.explode(entries).alias("e")).select(
        "doc", "e.band", "e.bh"
    )


def _band_table_name(base: str) -> str:
    tag = hashlib.md5(os.path.abspath(base).encode()).hexdigest()[:12]
    return f"neardup_bands_{tag}"


def _ensure_band_table(
    spark: SparkSession, name: str, path: str, buckets: int
) -> None:
    """Re-register the bucketed base as an external catalog table — the
    in-memory catalog forgets tables across sessions but the bucket spec
    in the store pointer + the bucket-suffixed file names survive on
    disk."""
    if spark.catalog.tableExists(name):
        return
    schema = spark.read.parquet(path).schema
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING parquet "
        f"CLUSTERED BY (band, bh) SORTED BY (band, bh) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def _store_parts(spark: SparkSession, root: str, cols: list[str]) -> list[DataFrame]:
    """The store as a LIST of frames — [compacted base?, batch slices?] —
    kept separate so the caller can join each with its own physical
    strategy (the bucketed base must not be unioned before the join, a
    union erases the bucket partitioning and re-introduces the exchange).
    Pointer-first resolution makes reads crash-tolerant (module doc)."""
    parts = []
    ptr = versions.current(root)
    base = versions.base(root, ptr)
    if base and ptr.get("table"):
        _ensure_band_table(spark, ptr["table"], base, ptr["buckets"])
        parts.append(spark.table(ptr["table"]).select(*cols))
    elif base:
        parts.append(spark.read.parquet(base).select(*cols))
    if os.path.isdir(root) and any(e.startswith("batch=") for e in os.listdir(root)):
        sl = spark.read.option("basePath", root).parquet(f"{root}/batch=*")
        sl = sl.withColumn("batch", F.col("batch").cast("long"))
        parts.append(sl.select(*cols))
    return parts


def compact_neardup_state(
    spark: SparkSession, state_dir: str, bucket_base: int | None = None
) -> None:
    """Fold per-batch band/signature slices into a NEW store version and
    commit it — the streaming analogue of engine ``compact()``: a
    long-running stream otherwise accumulates one directory per
    micro-batch and every fold pays a wider and wider file listing. Crash
    windows and the concurrent-stream prohibition are documented in the
    module docstring; a version left by a crash mid-compact is swept at
    the start of the next compact, so the operation is self-healing.

    With ``bucket_base``, the bands base is written CLUSTERED BY
    (band, bh) into that many buckets (sources/bucketed.py) and the table
    name + bucket count recorded in the pointer, making the per-batch LSH
    join exchange-free on the history side."""
    for sub in ("bands", "sigs"):
        root = os.path.join(state_dir, sub)
        batches = (
            [e for e in os.listdir(root) if e.startswith("batch=")]
            if os.path.isdir(root)
            else []
        )
        if not batches:
            continue
        if sub == "bands":
            cols = _BAND_COLS
        else:
            sample = spark.read.option("basePath", root).parquet(f"{root}/batch=*")
            cols = [c for c in sample.columns if c != "batch"]
        parts = _store_parts(spark, root, cols)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # replay-after-compact can duplicate a slice into the base; fold
        # the duplicates out so the base stays tight over many compactions
        df = df.dropDuplicates()
        old_table = versions.current(root).get("table")
        dest = versions.fresh(root)
        meta = {}
        if sub == "bands" and bucket_base:
            from zenodb_spark.sources.bucketed import write_bucketed

            name = _band_table_name(dest)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed(
                df, name, ["band", "bh"], bucket_base,
                sort_cols=["band", "bh"], path=dest,
            )
            meta = {"table": name, "buckets": bucket_base}
        else:
            df.write.mode("overwrite").parquet(dest)
        versions.commit(root, discard=batches, **meta)
        if old_table:  # only the pointed base is read through the catalog
            spark.sql(f"DROP TABLE IF EXISTS {old_table}")


def fold_neardup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_match: int = 8,
    compact_every: int | None = None,
    bucket_base: int | None = None,
) -> None:
    """Fold one micro-batch: mark kept/dropped vs (earlier batches ∪
    earlier-id-in-this-batch), then append this batch's bands+signatures
    to the history. Drop order is ARRIVAL order — (batch, id) lexicographic
    — so a history document always suppresses a later arrival regardless
    of how their ids compare. With ``compact_every=N``, state is compacted
    synchronously whenever N slice dirs have accumulated (bounded
    directory count for long streams; replay-safe, see module doc)."""
    if batch_df.isEmpty():
        return
    sig = share(
        minhash_signatures(shingles(batch_df, text_col, id_col, n), num_hashes=num_hashes),
        mode="eager",
    )
    cur_bands = _band_rows(sig, num_hashes, bands)

    bands_root = os.path.join(state_dir, "bands")
    sigs_root = os.path.join(state_dir, "sigs")
    hcols = ["doc"] + [f"h{i}" for i in range(num_hashes)]
    hist_band_parts = _store_parts(spark, bands_root, _BAND_COLS)
    hist_sig_parts = _store_parts(spark, sigs_root, hcols)

    cur_tagged = cur_bands.withColumn("batch", F.lit(batch_id).cast("long"))
    # one join per store part (base stays un-unioned to keep its bucket
    # partitioning); a replayed batch's own slice carries batch==batch_id
    # and falls under the same-batch id rule — identical verdicts
    earlier = (F.col("p_batch") < F.lit(batch_id)) | (
        (F.col("p_batch") == F.lit(batch_id)) & (F.col("p") < F.col("doc"))
    )
    cand = None
    for pf in hist_band_parts + [cur_tagged]:
        partner = pf.select(
            F.col("doc").alias("p"), "band", "bh", F.col("batch").alias("p_batch")
        )
        c = cur_bands.join(partner, ["band", "bh"]).filter(earlier).select("doc", "p")
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct()

    all_sigs = sig
    for sp in hist_sig_parts:
        all_sigs = all_sigs.unionByName(sp)
    sa = sig.select("doc", *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)])
    sb = all_sigs.select(
        F.col("doc").alias("p"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    n_match = sum(
        [
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(1, num_hashes)
        ],
        start=F.when(F.col("a0") == F.col("b0"), 1).otherwise(0),
    )
    dropped = (
        cand.join(sa, "doc")
        .join(sb, "p")
        .filter(n_match >= F.lit(min_match))
        .select("doc")
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    marked = (
        batch_df.join(
            dropped.withColumnRenamed("doc", id_col), id_col, "left"
        ).withColumn("dropped", F.coalesce("dropped", F.lit(False)))
    )
    # per-batch overwrite directories: a checkpoint replay rewrites the
    # same paths instead of double-counting (ingest.py's ledger idea)
    marked.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
    cur_bands.write.mode("overwrite").parquet(f"{bands_root}/batch={batch_id}")
    sig.write.mode("overwrite").parquet(f"{sigs_root}/batch={batch_id}")
    if compact_every:
        n_slices = sum(
            1 for e in os.listdir(bands_root) if e.startswith("batch=")
        )
        if n_slices >= compact_every:
            compact_neardup_state(spark, state_dir, bucket_base=bucket_base)


def start_neardup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    **fold_kwargs,
) -> StreamingQuery:
    """Attach the near-dup filter to a streaming DataFrame of documents.
    availableNow when no trigger interval is configured upstream; marked
    rows land in ``out_dir/batch=*`` with a ``dropped`` boolean. Pass
    ``compact_every=N`` to auto-compact state every N micro-batches and
    ``bucket_base=n`` to keep the compacted band store bucketed by
    (band, bh) for an exchange-free history-side join."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_neardup_batch(
            spark, batch_df, batch_id, state_dir, out_dir, **fold_kwargs
        )

    writer = stream_df.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()
