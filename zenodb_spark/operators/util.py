"""Shared operator utilities."""

from __future__ import annotations

import math
import os
import sys
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    """SQL literal text of one FINITE double: Python ``repr`` round-trips
    doubles exactly and Spark's ``D`` suffix parses with java.lang.Double
    semantics, so the parsed Literal is bitwise the ``F.lit(x)`` tree
    (verified incl. denormals, ±0.0 and max-double — TestLitVec). The one
    place this serialization lives; non-finite values have no SQL literal
    form — callers must check :func:`all_finite` first and fall back to
    per-element ``F.lit`` construction."""
    return repr(float(x)) + "D"


def all_finite(xs) -> bool:
    """True when every element of ``xs`` (floats) is finite — the
    :func:`sql_double` eligibility check."""
    return all(map(math.isfinite, xs))


def lit_vec(xs) -> Column:
    """Constant ``array<double>`` literal built in ONE Py4J round-trip.

    ``F.array(*[F.lit(float(x)) for x in xs])`` costs dim+1 JVM round-trips
    per vector — profiled at 0.5-2.5 s of pure driver-side chatter for an
    8x64 model (512 literals), which dominated q33/q63/q107's bench time.
    Parsing ``array(<repr>D, ...)`` in one ``F.expr`` call yields the SAME
    CreateArray(Literal double) tree: Python ``repr`` round-trips doubles
    exactly and Spark's ``D`` suffix parses with java.lang.Double semantics
    (bitwise-verified incl. denormals, +-0.0 and max-double). Non-finite
    values have no SQL literal form and fall back to the per-element path.
    """
    xs = [float(x) for x in xs]
    if not xs or not all_finite(xs):
        return F.array(*[F.lit(x) for x in xs])
    return F.expr("array(" + ",".join(sql_double(x) for x in xs) + ")")


def lit_mat(rows) -> Column:
    """Constant ``array<array<double>>`` literal (one ``F.expr`` parse).

    Same contract and bitwise guarantee as :func:`lit_vec`, one level up:
    a whole plane/centroid matrix rides the plan as ONE parsed expression
    instead of rows x (dim+1) JVM round-trips. Non-finite rows fall back to
    per-row :func:`lit_vec` construction."""
    rows = [[float(x) for x in r] for r in rows]
    if not rows or not all(all_finite(r) for r in rows):
        return F.array(*[lit_vec(r) for r in rows])
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(sql_double(x) for x in r) + ")" for r in rows)
        + ")"
    )


# Below this input size, recomputing a shared subtree once per consumer is
# cheaper than the extra materialization job a localCheckpoint schedules:
# the whole input fits in one or two scan tasks, so each re-scan costs
# milliseconds while the checkpoint job pays fixed scheduling + block-write
# cost (measured round 6/7: +0.1-0.5 s per query at sf0.1 under the bench's
# count action). The break-even is a LOCAL fixed-cost question, independent
# of cluster size — at any real corpus size the gate fires and the
# round-6 one-pass shape (N corpus scans -> 1) is preserved unchanged.
CHECKPOINT_MIN_BYTES = 3 * 1024 * 1024
# At or above this many scan files the input is assumed big without
# stat'ing each file: checkpointing data this size is at worst a small
# fixed cost, while per-file driver-side stats are not.
_CKPT_MANY_FILES = 64
# Spark's short call-site property: RDDs made while it is set take it as
# their creation site (the UI's job and storage names)
_CALL_SITE = "callSite.short"


def _scan_files(df: DataFrame) -> list[str]:
    """The frame's scan files (``inputFiles``: analysis only, no job); empty
    when it has none (in-memory or checkpointed leaves) or the probe fails."""
    try:
        return df.inputFiles()
    except Exception:
        return []


def _file_bytes(spark, uri: str) -> int:
    """Byte size of one scan file (driver-side, no job); raises when the
    file cannot be stat'ed. Local paths are stat'ed directly, anything else
    through the Hadoop FileSystem of its own scheme."""
    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return os.path.getsize(unquote(p.path))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.getFileStatus(jpath).getLen()


def share(df: DataFrame, source: DataFrame | None = None, mode: str = "gated") -> DataFrame:
    """Materialize a shared multi-consumer subtree as a ``localCheckpoint``
    — the engine's one checkpoint call. Consumers see identical rows
    whichever way it goes; only the number of scans changes.

    ``mode`` picks when to checkpoint:

    * ``"gated"`` (default): checkpoint eagerly unless the scan input is
      provably small. The input is sized on ``source`` (default ``df``):
      its scan files are summed against :data:`CHECKPOINT_MIN_BYTES`, and
      64+ files count as big without stat'ing. Every unknown fails toward
      checkpointing — the choice that is at worst a small fixed cost, where
      skipping it re-scans a big input once per consumer: a failed probe or
      stat, and a sized frame with no scan files. A subtree derived from
      another checkpoint reports no files of its own, so such callers pass
      the raw scan as ``source``.
    * ``"eager"``: always checkpoint, with one job at the call (sites where
      a measurement showed the recompute is paid at any scale, or a loop
      must cut its lineage each round).
    * ``"lazy"``: always checkpoint, with no job at the call; the first
      action over the result writes the blocks while it computes.

    Neither ``"eager"`` nor ``"lazy"`` probes files.

    Why a local checkpoint and never ``persist``: a helper returns its
    frame lazily, so no caller can place the ``unpersist`` a persist
    needs, and each call would pin a CacheManager entry for the life of
    the session. Checkpoint blocks are released by the ContextCleaner once
    the returned frame is garbage collected.

    The checkpoint RDD's creation site names the caller
    (``module.function``), so a leaked block or a slow job points at the
    site that made it."""
    if mode == "gated":
        src = df if source is None else source
        files = _scan_files(src)
        if 0 < len(files) < _CKPT_MANY_FILES:
            try:
                size = sum(_file_bytes(src.sparkSession, u) for u in files)
                if size < CHECKPOINT_MIN_BYTES:
                    return df
            except Exception:
                pass
    elif mode not in ("eager", "lazy"):
        raise ValueError(f"unknown share mode {mode!r}")
    caller = sys._getframe(1)
    label = f"{caller.f_globals.get('__name__', '?')}.{caller.f_code.co_name}"
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty(_CALL_SITE)
    sc.setLocalProperty(_CALL_SITE, label)
    try:
        return df.localCheckpoint(eager=mode != "lazy")
    finally:
        sc.setLocalProperty(_CALL_SITE, prev)


def spread(df: DataFrame) -> DataFrame:
    """Repartition only when the input is under-partitioned relative to the
    cluster (e.g. a single unsplittable file): pairwise vector math and
    shingle explodes are CPU-bound, and Catalyst adds no parallelism below a
    narrow chain — with a broadcast join the whole pipeline inherits the
    scan's partitioning.

    Under-partitioning is detected from the scan's file listing
    (``inputFiles``), NOT ``df.rdd`` — converting to RDD lineage forces plan
    materialization and hides the frame from AQE. A real corpus has ≥ cores
    input files, so this is a no-op with no added shuffle at scale; a
    single-file local read (or an in-memory test frame, which reports zero
    input files) gets one explicit round-robin spread."""
    sc = df.sparkSession.sparkContext
    if len(_scan_files(df)) < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
