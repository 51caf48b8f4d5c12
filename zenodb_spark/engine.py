"""DB facade: schema registry, tables as materialized aggregates, batch
ingest, and SQL queries over stored state.

Mirrors the reference's lifecycle (SURVEY.md §3) Spark-first:

- ``DB.apply_schema`` — YAML/dict of table definitions, dependency-ordered
  creation of views (reference schema.go:72–128). Re-applying updates
  definitions (the reference live-alters; we re-register — new state shape
  applies to subsequent ingests; documented deviation).
- ``DB.insert`` — points go to a *stream*; every table/view subscribed to
  that stream folds them into its own (dims…, bucket) state rows
  (reference insert.go:67–268). Ingest appends *partial* state parts —
  the memstore-flush model: queries merge parts on read, ``compact()``
  folds them down (LSM-ish, exactly how the reference's filestore merges
  memstore flushes).
- ``DB.query`` — the ZenoDB SQL dialect over stored tables: state merge to
  query resolution, derived expressions, HAVING, crosstab, SHIFT,
  IN-subqueries, FROM-subqueries, ORDER/LIMIT (reference planner/local.go).

Scale notes: state parts are plain DataFrames (parquet-backed when a
workdir is given); part-append is embarrassingly parallel, merge-on-read is
one hash aggregate keyed (dims, bucket) with map-side combine. Retention is
a bucket-range filter → partition pruning on the bucket column.

Store layout with a workdir (``workdir/{table}/``, sources/versions.py):
``base_v{k}/`` holds the folded state of version k, ``_ptr`` names the
current k, and each streamed micro-batch sits in ``stream_part={id}/``
until a fold merges it; all are ``_day``-partitioned. A fold writes a new
version and commits it atomically. It retires the previous base and the
stream parts it merged, and the next fold deletes them, so a plan built
before a fold still reads its files: readers survive one fold, and a
table holds at most its current and previous base. A store written before
versioning keeps its base in ``main/`` and reopens as version 0.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field as dfield

from pyspark import StorageLevel
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import _create_local_socket

from zenodb_spark.ir import (
    DimConst,
    DimExpr,
    DimFunc,
    DimIn,
    DimInSubquery,
    DimLogical,
    DimMarker,
    DimNot,
    GroupDim,
    MAgg,
    MConst,
    MCrosshift,
    MExpr,
    MFieldRef,
    MPercentile,
    MShift,
    Query,
    SelectField,
    SetOp,
)
from zenodb_spark.operators.sketch import kmv_estimate, kmv_sketch
from zenodb_spark.plans.compiler import (
    BUCKET_COL,
    POINTS_AGG,
    StateRegistry,
    aggregate_raw,
    build_registry,
    collect_agg_leaves,
    compile_dim,
    dim_truth,
    finalize_expr,
    merge_states,
)
from zenodb_spark.sources import versions
from zenodb_spark.sqlparser.durations import format_duration, parse_duration
from zenodb_spark.sqlparser.parser import parse

TIME_COL = "_time"
DAY_COL = "_day"  # persisted-store partition directory key
DAY_SEC = 86400


class EngineOutOfMemory(RuntimeError):
    """Graceful memory-pressure abort — the engine-level equivalent of the
    reference's ErrOutOfMemory (zenodb.go:510–549, query.go:129–139: abort
    the QUERY with a clear error instead of letting the process die). A
    collection that hits a JVM memory failure mid-sort/agg surfaces as this
    error with remediation guidance, never a raw task-failure stack."""


_OOM_MARKERS = (
    "SparkOutOfMemoryError",
    "OutOfMemoryError",
    "Unable to acquire",
    "Not enough memory to build and broadcast",
    "TaskMemoryManager",
)


@contextmanager
def memory_guard(context: str = "query"):
    """Translate JVM memory failures (surfacing as Py4J errors whose text
    carries the JVM stack) into EngineOutOfMemory. Wrap COLLECTION sites
    (web/RPC result streaming, explicit collects) — plan building is lazy
    and cannot OOM."""
    try:
        yield
    except EngineOutOfMemory:
        raise
    except Exception as e:
        msg = str(e)
        if any(m in msg for m in _OOM_MARKERS):
            raise EngineOutOfMemory(
                f"{context} aborted under memory pressure (executor memory "
                "exhausted). Remedies: rerun when co-tenant load subsides, "
                "raise spark.sql.shuffle.partitions, narrow the ASOF/UNTIL "
                "range, or add executor memory. Original failure: "
                + msg[:500]
            ) from e
        raise


# Estimated bytes of the result rows the plan cache may hold, over all its
# entries together, as ``row_bytes`` estimates them (the Python objects
# take several times the estimate).
RESULT_ROWS_MAX_BYTES = 16 * 1024 * 1024


def row_bytes(vals) -> int:
    """Estimated size of one result row: its strings' lengths plus 8 bytes
    per other value (reference web/query.go:229–233) — the running estimate
    of the response-size guard and of the result rows the plan cache holds."""
    return sum(len(v) if isinstance(v, str) else 8 for v in vals)


def collect_rows(df: DataFrame):
    """Rows of ``df``, yielded lazily — the result reader of the HTTP and
    RPC query surfaces.

    A plan-cache entry (``DB.query``) whose rows were read in full since
    the last table-state mutation is served from those rows, with no Spark
    job. Otherwise this is ``DataFrame.collect()`` without its ``list()``:
    one ``collectToPython`` call runs ONE Spark job and serves the result
    on a local socket, and rows are unpickled off that socket as the
    caller consumes them, so a caller that stops early (the response-size
    guard) never unpickles the rest. Closing the generator
    (``contextlib.closing``) closes the socket. The JVM holds the whole
    result meanwhile, bounded by ``spark.driver.maxResultSize``. A
    plan-cache entry's rows are kept when the caller reads to the end and
    they fit ``RESULT_ROWS_MAX_BYTES``; a read that is closed early keeps
    nothing.

    Spark's partition-at-a-time local iterator would hold less but runs
    one job per partition; re-planning a new frame (``df.limit(n)``) would
    re-run a shuffle the cached plan already reuses."""
    owner = df.__dict__.get("_plan_owner")  # (db, sql) of a plan-cache entry
    if owner is not None:
        held = owner[0]._held_rows(owner[1], df)
        if held is not None:
            yield from held
            return
    kept, nbytes = ([] if owner is not None else None), 0
    sockfile = _create_local_socket(df._jdf.collectToPython())
    try:
        for row in BatchedSerializer(CPickleSerializer()).load_stream(sockfile):
            if kept is not None:
                nbytes += row_bytes(row)
                if nbytes <= RESULT_ROWS_MAX_BYTES:
                    kept.append(row)
                else:
                    kept = None
            yield row
    finally:
        sockfile.close()
    if kept is not None:
        owner[0]._keep_rows(owner[1], df, kept, nbytes)


def json_value(v):
    """One result cell as a JSON value — the row encoder of the HTTP and
    RPC query surfaces: timestamps become ISO-8601 text (naive ones read
    as UTC), everything else passes through."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return v.isoformat()
    return v


def resolve_time(s: str, now: float) -> float:
    """ASOF/UNTIL values: RFC3339 timestamps or signed durations relative to
    now (reference sql/sql.go:1220–1227)."""
    s = s.strip()
    try:
        return now + parse_duration(s)
    except ValueError:
        pass
    iso = s.replace("Z", "+00:00")
    d = dt.datetime.fromisoformat(iso)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d.timestamp()


def _is_duration(s: str) -> bool:
    """True for an ASOF/UNTIL value that ``resolve_time`` reads relative
    to now (a signed duration), False for an absolute timestamp."""
    try:
        parse_duration(s)
    except ValueError:
        return False
    return True


def _ir_nodes(node):
    """Every IR node reachable from ``node`` (a statement or expression),
    ``node`` included: dataclass fields and list/tuple items, so nested
    statements (FROM-subqueries, set-operation operands, IN-subqueries)
    are walked too."""
    if isinstance(node, (list, tuple)):
        for x in node:
            yield from _ir_nodes(x)
    elif dataclasses.is_dataclass(node) and not isinstance(node, type):
        yield node
        for f in dataclasses.fields(node):
            yield from _ir_nodes(getattr(node, f.name))


def _max_shift_seconds(exprs) -> float:
    """Largest backward time offset any SHIFT/CROSSHIFT in ``exprs`` reads —
    how far below ASOF the stored-state scan must extend (reference
    encoding/seq.go:244–276 reads the shifted source from asOf+shift)."""
    return max(
        [0.0]
        + [
            float(n.dur if isinstance(n, MShift) else n.cutoff)
            for n in _ir_nodes(exprs)
            if isinstance(n, (MShift, MCrosshift))
        ]
    )


def _in_window(df: DataFrame, asof: int | None, until: int | None) -> DataFrame:
    """Rows of ``df`` whose bucket lies in [asof, until); None = unbounded."""
    if asof is not None:
        df = df.filter(F.col(BUCKET_COL) >= F.lit(asof))
    if until is not None:
        df = df.filter(F.col(BUCKET_COL) < F.lit(until))
    return df


def _trim(flat: DataFrame, out_min_ts: int | None, having: bool = False) -> DataFrame:
    """Finalized rows minus the shift-extended read below ASOF (output
    buckets before ``out_min_ts``) and, with ``having``, minus the rows
    the ``_having`` column rejects."""
    if out_min_ts is not None:
        flat = flat.filter(F.col(TIME_COL) >= F.timestamp_seconds(F.lit(out_min_ts)))
    if having:
        flat = flat.filter(F.col("_having") > 0).drop("_having")
    return flat


def _explode_array_vals(df: DataFrame, val_names: set[str] | None = None) -> DataFrame:
    """Array-valued measures fan out per element (reference insert.go:213–252):
    element[0] rides the main insert alongside the point's scalar measures;
    each later element becomes a sub-insert carrying ONLY that measure (every
    other measure column — scalar or array — nulled). A point with a scalar
    val and an n-element array val thus contributes its scalar measures once
    and counts as n points, matching the reference."""
    array_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]
    if not array_cols:
        return df
    # Measure columns = declared val names plus all array-valued columns.
    measures = set(array_cols) | {
        n for n in (val_names or set()) if n in df.columns
    }
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    # Main insert: scalars intact, each array collapsed to its first element.
    base = df
    for c in array_cols:
        base = base.withColumn(c, F.col(c).getItem(0).cast("double"))
    parts = [base]
    for c in array_cols:
        part = df
        for other in measures:
            if other != c:
                target = "double" if other in array_cols else dtypes[other]
                part = part.withColumn(other, F.lit(None).cast(target))
        # Elements 1..n-1 only (element 0 already on the main insert).
        tail = F.slice(F.col(c), 2, F.greatest(F.size(F.col(c)) - 1, F.lit(0)))
        part = part.withColumn(c, F.explode(tail)).withColumn(
            c, F.col(c).cast("double")
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class TableDef:
    name: str
    sql: str
    retention: float | None = None
    backfill: float | None = None
    partition_by: list[str] = dfield(default_factory=list)
    virtual: bool = False
    view: bool = False


class Table:
    def __init__(self, db: "DB", tdef: TableDef, q: Query, fields: list[SelectField]):
        self.db = db
        self.tdef = tdef
        self.query_ir = q
        self.fields = fields  # effective fields (views: resolved vs parent)
        self.stream = q.from_table
        self.resolution = q.resolution or 1.0
        self.where = q.where
        self.group_by = list(q.group_by)
        self.group_by_all = q.group_by_all
        self.dims: list[str] | None = [g.name for g in self.group_by] if not q.group_by_all else None
        self.registry: StateRegistry | None = None
        self._parts: list[DataFrame] = []
        # streaming exactly-once ledger: stream-part dir name → index in
        # _parts, or None once a fold committed it into the base. A
        # replayed micro-batch (crash after the parquet write, before the
        # checkpoint commit) REPLACES its slot / is skipped instead of
        # double-counting.
        self._stream_seen: dict[str, int | None] = {}
        self._materialized = False
        self.created_at = db.now()  # backfill depth anchors here
        self._load_persisted()

    def _load_persisted(self) -> None:
        """Re-open a persisted store (workdir/{table}) without replaying
        data: the current version's base plus every stream part no commit
        retired (a retired part is folded into that base, so the ledger
        marks its batch folded); the registry is rebuilt deterministically
        from the table definition; GROUP BY * dims are recovered from the
        stored schema."""
        root = self._root()
        if root is None or not os.path.isdir(root):
            return
        ptr = versions.current(root)
        base = versions.base(root, ptr)
        parts = [self.db.spark.read.parquet(base)] if base else []
        for sub in sorted(os.listdir(root)):
            if sub.startswith("stream_part="):
                if sub in ptr["retired"]:
                    self._stream_seen[sub] = None
                else:
                    parts.append(self.db.spark.read.parquet(f"{root}/{sub}"))
                    self._stream_seen[sub] = len(parts) - 1
        if not parts:
            return
        self.registry = build_registry(self.fields)
        state_cols = {s.col for s in self.registry.all_specs()}
        # state-format version gate: v1 COUNTDISTINCT states (`_sN__dset`)
        # used an incompatible encoding; the current suffix is `dsetv2`.
        # Refuse to silently merge a stale store — the fix is recompute
        # (drop the store dir) or an offline re-encode, never a quiet merge.
        legacy = [
            c
            for c in parts[0].columns
            if c.endswith("__dset")
            or c.endswith("__hll")
            # pre-ALTER-support stores named the implicit points counter by
            # registration index (_sN__points); it is now the fixed
            # _s__points so field APPENDs can't re-bind it. Refuse a silent
            # zero-points merge.
            or re.fullmatch(r"_s\d+__points", c)
        ]
        if legacy:
            raise ValueError(
                f"table {self.tdef.name!r}: persisted state columns {legacy} "
                "use the v1 COUNTDISTINCT format; current format is dsetv2 "
                "(sorted string array). Recompute the store (delete "
                f"{root}) or re-encode offline before reopening."
            )
        if self.dims is None:
            self.dims = [
                c
                for c in parts[0].columns
                if c not in (BUCKET_COL, DAY_COL) and c not in state_cols
            ]
        self._parts = parts
        self._materialized = len(parts) == 1  # parquet-backed; >1 still needs a fold
        self.db._invalidate_plans()

    # -- live ALTER (reference schema.go:16-55 + table_alter semantics) ------
    def alter_compatible(self, q: Query) -> bool:
        """A changed definition can be applied IN PLACE (stored parts kept)
        when only the FIELD list / retention / backfill / partition-by
        moved: the stream, grouping, resolution and ingest filter must
        match, because stored rows are keyed by (dims…, bucket) under that
        filter and cannot be re-derived from state."""
        return (
            q.from_table == self.stream
            and (q.resolution or 1.0) == self.resolution
            and list(q.group_by) == self.group_by
            and q.group_by_all == self.group_by_all
            and q.where == self.where
        )

    def alter(self, tdef: TableDef, q: Query, fields: list[SelectField]) -> None:
        """Apply a field-list change without dropping stored state (the
        reference live-alters tables when the watched schema file moves).

        New fields' state columns are simply ABSENT from old parts:
        state_df unions with allowMissingColumns, and every merge kind is
        null-safe (sum/min/max skip nulls; collect_list drops them), so
        pre-ALTER buckets read the new field as empty — the reference's
        zeros-before-the-field-existed semantics. Dropped fields stop being
        selected; their stored columns become dead weight until the next
        compact() rewrites the canonical part without them.

        Stored state column names carry the field-registration INDEX, so an
        ALTER is refused (loudly) if re-using an index would silently bind
        an old column to a different aggregate — append new fields rather
        than reordering, or change the table name to rebuild."""
        if self.registry is not None:
            new_reg = build_registry(fields)
            old = {s.key: s.col for s in self.registry.all_specs()}
            new = {s.key: s.col for s in new_reg.all_specs()}
            moved = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
            rev_old: dict[str, str] = {}
            for k, c in old.items():
                rev_old.setdefault(c, k)
            stolen = sorted(
                c for k, c in new.items() if k not in old and rev_old.get(c, k) != k
            )
            if moved or stolen:
                raise ValueError(
                    f"table {self.tdef.name!r}: ALTER would re-bind stored state "
                    f"columns (reordered aggs: {moved}; name collisions: {stolen}). "
                    "Append new fields instead of reordering, or rename the table "
                    "to rebuild from the stream."
                )
            self.registry = new_reg
        self.tdef = tdef
        self.query_ir = q
        self.fields = fields

    # -- ingest -------------------------------------------------------------
    def ingest(self, points: DataFrame, ts_col: str = "ts") -> None:
        df = _explode_array_vals(points, self._val_names())
        if self.tdef.backfill is not None:
            # Backfill limit: historical replay depth is bounded from table
            # creation time; fresher points always flow (reference
            # table.go:50-52, 161-167).
            cutoff = self.created_at - self.tdef.backfill
            df = df.filter(F.col(ts_col) >= F.timestamp_seconds(F.lit(cutoff)))
        if self.where is not None:
            resolve = lambda n: F.col(n) if n in df.columns else F.lit(None)
            df = df.filter(dim_truth(compile_dim(self.where, resolve)))
        if self.dims is None:
            # GROUP BY *: every non-ts, non-numeric-measure column is a dim
            val_names = self._val_names()
            self.dims = [
                f.name
                for f in points.schema.fields
                if f.name != ts_col
                and f.name not in val_names
                and not isinstance(f.dataType, (T.ArrayType,))
            ]
        group_dims = self._group_dim_cols(df)
        registry = StateRegistry()
        state, registry = aggregate_raw(
            df, self.fields, group_dims, self.resolution, ts_col, registry
        )
        if self.registry is None:
            self.registry = registry
        self._parts.append(state)
        self._materialized = False
        self.db._invalidate_plans()

    def _val_names(self) -> set[str]:
        return {
            n.name
            for n in _ir_nodes([f.expr for f in self.fields])
            if isinstance(n, MFieldRef)
        }

    def _group_dim_cols(self, df: DataFrame):
        resolve = lambda n: F.col(n) if n in df.columns else F.lit(None)
        if self.group_by:
            return [(g.name, compile_dim(g.expr, resolve)) for g in self.group_by]
        return [(d, resolve(d)) for d in self.dims or []]

    # -- state access ---------------------------------------------------------
    def state_df(self, asof: int | None = None, until: int | None = None) -> DataFrame:
        """Stored state, optionally pre-filtered to [asof, until) bucket
        epochs. Persisted parts are day-partitioned (``_day`` directory key):
        time-range and retention predicates are applied to BOTH the
        partition column (directory pruning — at 100 TB the difference
        between listing a few day dirs and the whole store) and the bucket
        column (row-group stats within a day)."""
        if not self._parts:
            raise ValueError(f"table {self.tdef.name} has no data")
        cutoff: int | None = None
        if self.tdef.retention is not None:
            cutoff = int((self.db.now() - self.tdef.retention) // self.resolution * self.resolution)
        parts = []
        for p in self._parts:
            if DAY_COL in p.columns:
                if asof is not None:
                    p = p.filter(F.col(DAY_COL) >= F.lit(asof // DAY_SEC))
                if until is not None:
                    p = p.filter(F.col(DAY_COL) <= F.lit(until // DAY_SEC))
                if cutoff is not None:
                    p = p.filter(F.col(DAY_COL) >= F.lit(cutoff // DAY_SEC))
                p = p.drop(DAY_COL)
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if cutoff is not None:
            out = out.filter(F.col(BUCKET_COL) >= F.lit(cutoff))
        return _in_window(out, asof, until)

    def ingest_batch(self, batch_df: DataFrame, batch_id: int, ts_col: str = "ts") -> None:
        """Fold one streaming micro-batch into stored state, exactly-once
        under checkpoint replay.

        A crash after the stream_part parquet write but before the
        checkpoint commit re-delivers this batch_id on restart. The ledger
        (``_stream_seen``) records every stream-part path: a replayed batch
        REPLACES its existing slot in ``_parts`` (which ``_load_persisted``
        may already have re-opened from disk), and a batch whose part a
        fold committed into the base is skipped entirely — so no path
        double-counts. Without a workdir there is no ledger: each batch is
        a new part."""
        if batch_df.isEmpty():
            return
        sub = f"stream_part={batch_id}"
        slot = self._stream_seen.get(sub, len(self._parts))
        if slot is None:
            return  # already folded into the base
        self.ingest(batch_df, ts_col)
        part = self._hold(self._parts.pop(), sub)
        if slot < len(self._parts):
            self._parts[slot] = part
        else:
            self._parts.append(part)
        if self.db.workdir:
            self._stream_seen[sub] = slot
        self.db._invalidate_plans()

    def _root(self) -> str | None:
        """The table's store directory, None without a workdir."""
        return f"{self.db.workdir}/{self.tdef.name}" if self.db.workdir else None

    def _hold(self, df: DataFrame, sub: str | None = None) -> DataFrame:
        """Materialize a part the table keeps. With a workdir the part is
        written day-partitioned (retention → partition drop; ASOF/UNTIL →
        partition pruning) to ``workdir/{table}/{sub}``, or with no ``sub``
        to the fresh store version that ``fold`` then commits, and
        reopened; without one it is persisted memory-and-disk and counted,
        because a micro-batch or a folded union is not re-computable once
        its sources are released. The engine's one ``persist``: every
        cache entry it makes belongs to a part in ``_parts``, which
        ``fold`` unpersists when it replaces it."""
        root = self._root()
        if root is None:
            held = df.persist(StorageLevel.MEMORY_AND_DISK)
            held.count()
            return held
        out = df.withColumn(DAY_COL, F.floor(F.col(BUCKET_COL) / F.lit(DAY_SEC)).cast("long"))
        # partitionBy dims (reference TableOpts.PartitionBy — the follower
        # distribution key, table.go:34–64): cluster files by those dims and
        # sort rows by (dims…, bucket) so dim filters prune via parquet
        # row-group stats and co-partitioned reads stay co-located
        pby = [d for d in self.tdef.partition_by if d in df.columns]
        if pby:
            out = out.repartition(*[F.col(d) for d in pby]).sortWithinPartitions(
                *[F.col(d) for d in pby], F.col(BUCKET_COL)
            )
        path = f"{root}/{sub}" if sub else versions.fresh(root)
        out.write.mode("overwrite").partitionBy(DAY_COL).parquet(path)
        return self.db.spark.read.parquet(path)

    def compact(self) -> None:
        """Fold appended partial-state parts into one canonical, MATERIALIZED
        part (the reference's flush-merge, row_store.go:351–508).

        Materialization matters as much as the fold: a table is a stored
        aggregate, so queries — including both sides of a SHIFT self-join —
        must read the (small) state, not re-aggregate the raw stream per
        query. With a workdir the state becomes parquet; without one it is
        persisted memory-and-disk."""
        if self.registry is None or not self._parts:
            return
        if len(self._parts) == 1 and self._materialized:
            return
        self.fold()

    def fold(
        self,
        where: DimExpr | None = None,
        asof: int | None = None,
        until: int | None = None,
    ) -> None:
        """Merge every stored part into one materialized part, first
        dropping the rows outside the dim predicate ``where`` and the
        bucket range [asof, until). ``compact()`` folds with no filter; the
        offline FilterAndMerge (sources/maintenance.py) passes its filters.
        A lone unfiltered part is materialized as it stands."""
        old_parts = list(self._parts)
        filtered = where is not None or asof is not None or until is not None
        if len(old_parts) != 1 or filtered:
            df = self.state_df(asof, until)
            if where is not None:
                df = df.filter(dim_truth(compile_dim(where)))
            merged = merge_states(
                df,
                self.registry,
                [(d, F.col(d)) for d in self.dims or []],
                self.resolution,
                self.resolution,
            )
        else:
            merged = old_parts[0]
        # the folded base is a new store version; the commit retires the
        # previous base and the folded stream parts, which stay readable
        # for plans already built until the next fold (sources/versions.py)
        merged = self._hold(merged)
        if self.db.workdir:
            versions.commit(
                self._root(),
                retire=[sub for sub, slot in self._stream_seen.items() if slot is not None],
            )
        # Unpersist-discipline (round-4 verdict item 7): the folded stream
        # parts were held per micro-batch (ingest_batch) and the previous
        # compact's merged part may itself be persisted — dropping the
        # references without unpersisting leaks CacheManager entries for
        # the life of the session. merged is materialized above, so
        # releasing its sources cannot trigger a recompute of freed
        # lineage.
        for p in old_parts:
            if p is not merged:
                try:
                    p.unpersist(False)
                except Exception:
                    pass
        self._parts = [merged]
        # folded stream parts stay in the ledger (value None) so a late
        # checkpoint replay of an already-folded batch is skipped, not
        # re-ingested
        self._stream_seen = {k: None for k in self._stream_seen}
        self._materialized = True
        self.db._invalidate_plans()


class DB:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        now=None,
        in_splice_max: int = 10_000,
        crosstab_max_values: int = 10_000,
    ):
        self.spark = spark
        self.workdir = workdir
        self.tables: dict[str, Table] = {}
        self.virtual_defs: dict[str, tuple[Query, list[SelectField]]] = {}
        self.streams: list = []  # active StreamingQuery handles (force_fresh)
        self._now = now  # virtual clock (reference zenodb.go:81–83)
        # IN-subquery value sets at most this large splice into the predicate
        # (reference planner/subquery.go collects always); larger sets stay
        # distributed as a membership join so a high-cardinality dim can't
        # OOM the driver.
        self.in_splice_max = in_splice_max
        # crosstab pivots buffer the distinct column values on the driver
        # (same as Spark's own pivot()); fail loudly past this cap.
        self.crosstab_max_values = crosstab_max_values
        # Prepared-plan cache (guide §1/§2: lowering a dialect statement
        # costs ~1,500 Py4J round-trips — measured 0.9-1.1 s for the
        # percentile re-read query vs 0.4 s of execution). Maps SQL text →
        # lowered DataFrame, least recently used first. Beside each plan,
        # ``_result_rows`` keeps its complete result rows once
        # ``collect_rows`` has read them, so a repeated statement runs no
        # Spark job at all. A result is a function of the SQL text and the
        # table state only (``_statement_cacheable`` excludes now- and
        # rand-dependent statements), and both maps are cleared whenever
        # ANY table state mutates (ingest/compact/reopen/schema change),
        # so stored rows are never stale. Held rows are bounded by the
        # entry count and by RESULT_ROWS_MAX_BYTES.
        self._plan_cache: dict[str, DataFrame] = {}
        self._result_rows: dict[str, tuple[list, int]] = {}  # sql → (rows, est. bytes)
        self._plan_epoch = 0  # bumped by _invalidate_plans (store-if-unchanged guard)
        self._cache_lock = threading.Lock()
        self._plan_hits = self._plan_misses = self._result_hits = 0

    def now(self) -> float:
        if self._now is not None:
            return self._now() if callable(self._now) else float(self._now)
        return dt.datetime.now(dt.timezone.utc).timestamp()

    # -- schema -------------------------------------------------------------
    def apply_schema(self, schema: dict) -> None:
        """Create/replace tables from a schema mapping (YAML-shaped:
        name → {sql, retentionperiod, virtual, view, partitionby…})."""
        defs: dict[str, TableDef] = {}
        for name, opts in schema.items():
            defs[name.lower()] = TableDef(
                name=name.lower(),
                sql=opts["sql"],
                retention=parse_duration(opts["retentionperiod"])
                if opts.get("retentionperiod")
                else None,
                backfill=parse_duration(opts["backfill"]) if opts.get("backfill") else None,
                partition_by=[p.lower() for p in opts.get("partitionby", [])],
                virtual=bool(opts.get("virtual")),
                view=bool(opts.get("view")),
            )
        # dependency order: plain tables & virtuals first, then views (by depth)
        remaining = dict(defs)
        progress = True
        while remaining and progress:
            progress = False
            for name in list(remaining):
                tdef = remaining[name]
                # idempotent re-apply (the reference polls its schema file
                # every second, schema.go:16–55): an unchanged definition is
                # a no-op and keeps stored state; a CHANGED definition
                # rebuilds the table — live in-place ALTER is a documented
                # deviation (stored state columns are derived from the field
                # list; re-ingest after changing a definition)
                existing = self.tables.get(name)
                if existing is not None and existing.tdef == tdef:
                    del remaining[name]
                    progress = True
                    continue
                q = parse(tdef.sql)
                parent = q.from_table
                if tdef.view and parent not in self.tables and parent not in self.virtual_defs:
                    continue  # wait for parent
                self._create(tdef, q)
                del remaining[name]
                progress = True
        if remaining:
            raise ValueError(f"unresolvable view dependencies: {sorted(remaining)}")
        # any create/alter invalidates prepared plans (and a retention
        # change flips cacheability for the whole DB)
        self._invalidate_plans()

    def apply_schema_yaml(self, text: str) -> None:
        self.apply_schema(_parse_simple_yaml(text))

    def apply_schema_file(self, path: str) -> None:
        with open(path) as f:
            self.apply_schema_yaml(f.read())

    def watch_schema(self, path: str, interval: float = 1.0):
        """Apply the schema file now and keep polling it for changes,
        re-applying when mtime/size moves (reference schema.go:16–55 polls
        every second and live-alters tables). Returns a handle with
        ``.stop()``; the poll runs on a daemon thread — pure driver-side
        control flow, no Spark jobs unless the file actually changed."""
        self.apply_schema_file(path)
        stat = os.stat(path)
        stop = threading.Event()

        def loop() -> None:
            nonlocal stat
            while not stop.wait(interval):
                try:
                    new_stat = os.stat(path)
                except OSError:
                    continue
                if new_stat.st_mtime > stat.st_mtime or new_stat.st_size != stat.st_size:
                    stat = new_stat
                    try:
                        self.apply_schema_file(path)
                    except Exception as e:  # keep polling; reference logs and continues
                        print(f"watch_schema: apply failed: {e}")

        t = threading.Thread(target=loop, name="zenodb-schema-watch", daemon=True)
        t.start()

        class _Watch:
            def stop(self) -> None:
                stop.set()
                t.join(timeout=interval + 1)

        return _Watch()

    def _create(self, tdef: TableDef, q: Query) -> None:
        # a BASE table must declare its resolution via period() — the
        # reference rejects CreateTable without one (zenodb_test.go:156–162,
        # "missing a resolution"); views inherit the parent's (view_a in the
        # same fixture has no period)
        if not tdef.view and not q.resolution:
            raise ValueError(
                f"table {tdef.name} is missing a resolution: declare "
                "period(...) in its GROUP BY"
            )
        fields = list(q.fields)
        if tdef.view:
            parent_name = q.from_table
            if parent_name in self.tables:
                parent = self.tables[parent_name]
                parent_q, parent_fields = parent.query_ir, parent.fields
            else:
                parent_q, parent_fields = self.virtual_defs[parent_name]
            # view re-consumes the parent's stream with inherited/merged spec
            # (reference table.go:194–250)
            eff = Query()
            eff.from_table = parent_q.from_table
            eff.resolution = q.resolution or parent_q.resolution
            if q.group_by or q.group_by_none:
                eff.group_by = q.group_by
                eff.group_by_all = False
            else:
                eff.group_by = list(parent_q.group_by)
                eff.group_by_all = parent_q.group_by_all
            if parent_q.where is not None and q.where is not None:
                eff.where = DimLogical("AND", parent_q.where, q.where)
            else:
                eff.where = q.where or parent_q.where
            by_name = {
                f.name: MAgg("SUM", f.expr, None) if isinstance(f.expr, MFieldRef) else f.expr
                for f in parent_fields
            }
            if q.select_star or not fields:
                fields = list(parent_fields)
            else:
                fields = [
                    SelectField(f.name, _substitute_refs(f.expr, by_name)) for f in fields
                ]
            q = eff
        if tdef.virtual:
            self.virtual_defs[tdef.name] = (q, fields)
            return
        existing = self.tables.get(tdef.name)
        if existing is not None and existing.alter_compatible(q):
            existing.alter(tdef, q, fields)
            return
        self.tables[tdef.name] = Table(self, tdef, q, fields)

    # -- ingest -------------------------------------------------------------
    def insert(self, stream: str, points: DataFrame, ts_col: str = "ts") -> None:
        stream = stream.lower()
        for t in self.tables.values():
            if t.stream == stream:
                t.ingest(points, ts_col)

    def insert_rows(self, stream: str, rows: list[dict]) -> None:
        self.insert(stream, self.spark.createDataFrame(rows))

    # -- query --------------------------------------------------------------
    def table_stats(
        self, name: str, dim_cardinalities: bool = False, k: int = 256
    ) -> dict:
        """Per-table stats the reference reports alongside query results
        (table.go:569-601, common/common.go:57-64): stored row count,
        bucket range, high-water mark (max bucket epoch — the freshness
        signal), and part count (memstore-vs-filestore analog: parts not
        yet folded by compact()).

        With ``dim_cardinalities``, adds a per-dimension distinct-count
        estimate over the STORED state via the KMV sketch (the same
        construction as the ``COUNTDISTINCT(x, k)`` dialect state and
        operators/sketch.py — exact below k, (k-1)/h_(k) above, ~1/sqrt(k)
        error): one extra pass over the state, O(k·dims) driver bytes at
        any table cardinality — the dashboard cardinality panel."""
        if name not in self.tables:
            raise ValueError(f"unknown table {name}")
        t = self.tables[name]
        if t.registry is None or not t._parts:
            return {
                "table": name, "rows": 0, "parts": 0,
                "min_bucket": None, "max_bucket": None, "high_water": None,
            }
        agg = t.state_df().agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(BUCKET_COL).alias("mn"),
            F.max(BUCKET_COL).alias("mx"),
        ).collect()[0]
        out = {
            "table": name,
            "rows": agg["rows"],
            "parts": len(t._parts),
            "min_bucket": agg["mn"],
            "max_bucket": agg["mx"],
            "high_water": agg["mx"],
        }
        if dim_cardinalities and t.dims:
            pairs = (
                t.state_df()
                .select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(d).alias("dim"),
                                    F.col(d).cast("string").alias("val"),
                                )
                                for d in t.dims
                            ]
                        )
                    ).alias("e")
                )
                .select("e.dim", "e.val")
                .filter(F.col("val").isNotNull())
            )
            sk = kmv_sketch(pairs, ["dim"], "val", k=k)
            out["dim_cardinalities"] = {
                r["dim"]: r["est"]
                for r in sk.select("dim", kmv_estimate("kmin", k).alias("est")).collect()
            }
        return out

    def query_many(self, sqls: list[str]) -> list[DataFrame]:
        """Plan a coalesced batch of statements (the web runner's window),
        each through ``query``, so every statement gets the plan cache and
        the ``-- force_fresh`` drain. The reference shares one filestore
        scan across such a batch (table.go:398–521); here each plan scans
        its own day partitions, the re-scan SURVEY.md §4 allows."""
        return [self.query(s) for s in sqls]

    _PLAN_CACHE_MAX = 64

    def _invalidate_plans(self) -> None:
        """Drop every prepared plan and its result rows; called from every
        table-state mutation site (ingest/compact/reopen/schema/
        maintenance). The epoch bump closes the lower-while-mutating race:
        a query thread that began lowering BEFORE a concurrent mutation
        must not store its (now stale) plan after this clear; a read that
        ends after it finds its plan gone and keeps no rows."""
        with self._cache_lock:
            self._plan_epoch += 1
            self._plan_cache.clear()
            self._result_rows.clear()

    def _held_rows(self, sql: str, df: DataFrame) -> list | None:
        """The stored result rows of plan-cache entry ``sql`` when ``df``
        is still that entry, else None."""
        with self._cache_lock:
            held = self._result_rows.get(sql)
            if held is None or self._plan_cache.get(sql) is not df:
                return None
            self._result_hits += 1
            return held[0]

    def _keep_rows(self, sql: str, df: DataFrame, rows: list, nbytes: int) -> None:
        """Store the complete result ``rows`` of plan ``df`` if it is still
        the cache entry for ``sql`` (no mutation since it was planned),
        then drop the rows of the least recently used entries until the
        total is within RESULT_ROWS_MAX_BYTES."""
        with self._cache_lock:
            if self._plan_cache.get(sql) is not df:
                return
            self._result_rows[sql] = (rows, nbytes)
            held = sum(n for _, n in self._result_rows.values())
            for k in list(self._plan_cache):
                if held <= RESULT_ROWS_MAX_BYTES:
                    break
                if k != sql and k in self._result_rows:
                    held -= self._result_rows.pop(k)[1]

    def cache_stats(self) -> dict:
        """Counters of the plan cache and the result rows it holds: plan
        hits and misses (cacheable statements only), results served from
        held rows, entries, and the estimated bytes of the held rows."""
        with self._cache_lock:
            return {
                "plan_cache_hits": self._plan_hits,
                "plan_cache_misses": self._plan_misses,
                "result_hits": self._result_hits,
                "plan_entries": len(self._plan_cache),
                "result_entries": len(self._result_rows),
                "result_bytes": sum(n for _, n in self._result_rows.values()),
            }

    def _plan_cacheable(self, sql: str) -> bool:
        """True when ``sql`` lowers to a plan that depends only on the SQL
        text and the current table state (both captured by the cache key +
        mutation invalidation); see ``_statement_cacheable``."""
        return self._statement_cacheable(parse(sql))

    def _statement_cacheable(self, q: Query | SetOp) -> bool:
        """The plan-cache rule on a parsed statement, over every nested
        statement (FROM-subqueries, set-operation operands, IN-subqueries).
        Excluded:

        - a relative ASOF/UNTIL (a duration) — it resolves against
          ``now()`` at lowering time, so the same text can legitimately
          lower to different plans; absolute (ISO) times are cacheable;
        - RAND() — an unseeded rand() fixes its seed at analysis, so a
          cached plan would repeat one "random" stream instead of redrawing;
        - any table with retention — the truncation cutoff is a now()-
          derived literal baked into the scan (state_df), same staleness
          class as relative ASOF.
        """
        for node in _ir_nodes(q):
            if isinstance(node, Query) and any(
                _is_duration(t) for t in (node.asof, node.until) if t
            ):
                return False
            if isinstance(node, DimFunc) and node.name == "RAND":
                return False
        return all(t.tdef.retention is None for t in self.tables.values())

    def query(self, sql: str) -> DataFrame:
        q = parse(sql)
        if q.force_fresh:
            # `-- force_fresh`: drain pending stream micro-batches before
            # reading, the reference's include-memstore flag (query.go:28–32)
            # (a drain that folds new batches mutates table state, which
            # clears the plan cache before the lookup below)
            for s in list(self.streams):
                s.drain()
        key = sql if self._statement_cacheable(q) else None
        if key is not None:
            with self._cache_lock:
                hit = self._plan_cache.pop(key, None)
                if hit is not None:
                    self._plan_cache[key] = hit  # now the most recently used
                    self._plan_hits += 1
                    return hit
                self._plan_misses += 1
        epoch0 = self._plan_epoch
        out = self.plan(q)
        if key is not None:
            out._plan_owner = (self, key)  # collect_rows keeps its rows here
            with self._cache_lock:
                if self._plan_epoch == epoch0:
                    # replace a plan another thread stored meanwhile
                    self._plan_cache.pop(key, None)
                    self._result_rows.pop(key, None)
                    if len(self._plan_cache) >= self._PLAN_CACHE_MAX:
                        lru = next(iter(self._plan_cache))
                        del self._plan_cache[lru]
                        self._result_rows.pop(lru, None)
                    self._plan_cache[key] = out
        return out

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """Formatted PHYSICAL plan of a dialect query without executing it —
        the reference CLI's plan introspection surface, answered by
        Catalyst (`df.explain` text): shows the exchanges, pushed filters,
        and codegen stages the dialect statement lowers to. ``mode`` is any
        Spark explain mode (simple|extended|codegen|cost|formatted)."""
        sql = sql.strip()
        if sql.upper().startswith("EXPLAIN "):
            sql = sql[len("EXPLAIN ") :]
        df = self.plan(parse(sql))
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    def plan(self, q: Query | SetOp) -> DataFrame:
        if isinstance(q, SetOp):
            return self._plan_set_op(q)
        return self._plan_grouped(q)[0]

    def _plan_set_op(self, q: SetOp) -> DataFrame:
        """UNION[/ALL] / INTERSECT[/ALL] / EXCEPT[/ALL] between dialect
        queries (extension — SURVEY §2.6: absent in the reference, native in
        Spark). Columns align by position, names from the left operand;
        distinct variants are one extra hash-aggregate shuffle, the ALL
        variants none (union) or one co-partitioned anti/semi shuffle."""
        left, right = self.plan(q.left), self.plan(q.right)
        if len(left.columns) != len(right.columns):
            raise ValueError(
                f"set operation operands have {len(left.columns)} vs "
                f"{len(right.columns)} columns"
            )
        right = right.toDF(*left.columns)
        if q.op == "union_all":
            out = left.unionAll(right)
        elif q.op == "union":
            out = left.unionAll(right).distinct()
        elif q.op == "intersect":
            out = left.intersect(right)
        elif q.op == "intersect_all":
            out = left.intersectAll(right)
        elif q.op == "except":
            out = left.subtract(right)
        elif q.op == "except_all":
            out = left.exceptAll(right)
        else:
            raise ValueError(f"unknown set operation {q.op!r}")
        return self._order_limit(out, q)

    # -- grouped query over a stored table or a FROM-subquery ----------------
    def _plan_grouped(self, q: Query) -> tuple[DataFrame, list[str]]:
        """One planner for both sources of a grouped query (reference
        planner/local.go); returns the result frame and the names of its
        dims. A stored table supplies its state rows and resolves a bare
        name to a stored field. A FROM-subquery's flat rows act as raw
        points (ts = inner _time, dims = inner dims, vals = every other
        inner column — the reference's Unflatten→Group path,
        core/unflatten.go) and a bare name is the SUM of an inner column.
        Every outer clause plans the same way for both."""
        sub = q.from_subquery
        if sub is None:
            name = q.from_table
            if name in self.virtual_defs:
                raise ValueError(f"table {name} is virtual and cannot be queried")
            if name not in self.tables:
                raise ValueError(f"unknown table {name}")
            table = self.tables[name]
            if table.registry is None:
                raise ValueError(f"table {name} has no data")
            src_res, src_dims, read = table.resolution, table.dims or [], table.state_df
            star = [SelectField("_points", MFieldRef("_points"))] + [
                SelectField(f.name, MFieldRef(f.name)) for f in table.fields
            ]

            def bare(n: str) -> MExpr:
                if n == "_points":
                    return POINTS_AGG
                e = next((f.expr for f in table.fields if f.name == n), None)
                if e is None:
                    # reference expr/field.go:44-47: a field missing from the
                    # table reads as ABSENT (value 0, ok=false) — comparisons
                    # against it are false, nothing errors (the integration
                    # test's `HAVING ... OR unknown = 12`). The Spark analogue
                    # of "absent" is a typed NULL: NULL = 12 is not-true in a
                    # filter, and NULL propagates through arithmetic.
                    return MConst(None)
                if isinstance(e, MFieldRef):
                    return MAgg("SUM", e, None)
                return e
        else:
            inner, src_dims = self._plan_grouped(sub)
            inner_fields = [c for c in inner.columns if c not in src_dims and c != TIME_COL]
            # flat rows are points at whole-second timestamps
            src_res = 1.0
            star = [SelectField(n, MFieldRef(n)) for n in inner_fields]
            points = inner.withColumn(BUCKET_COL, F.unix_timestamp(F.col(TIME_COL)))
            read = lambda lo, hi: _in_window(points, lo, hi)
            bare = lambda n: MAgg("SUM", MFieldRef(n), None)  # default-to-SUM
        res_out = q.resolution or src_res
        now = self.now()

        # ASOF / UNTIL: RoundTimeUp to the SOURCE resolution (reference
        # planner/local.go:119–121 + encoding/time.go:39–45) — a partial
        # first source bucket is excluded, a partial last one included; the
        # range is pushed into the read so day-partition pruning and bucket
        # row-group stats both apply. (Output buckets stay epoch-anchored —
        # SURVEY §1.3's documented deviation from until-anchored sequences —
        # so an unaligned ASOF yields a partial first output bucket.)
        tres = int(round(src_res))
        rup = lambda v: int(-(-int(round(v * 1000)) // (tres * 1000)) * tres)
        asof = rup(resolve_time(q.asof, now)) if q.asof else None
        until = rup(resolve_time(q.until, now)) if q.until else None
        # a period longer than the [asof, until) window narrows to the
        # window (reference planner/local.go:152–167), then must still be
        # an even multiple of the source resolution
        bucket_anchor = 0
        if asof is not None and until is not None and res_out > until - asof > 0:
            res_out = float(until - asof)
            if round(res_out) % tres != 0:
                raise ValueError(
                    f"query resolution {res_out}s (truncated to the ASOF/UNTIL "
                    f"window) is not an even multiple of table resolution {tres}s"
                )
            # the single window bucket is [asof, until), not an epoch-grid
            # cell (the reference's sequences anchor at until)
            bucket_anchor = asof
        # SHIFT/CROSSHIFT read SOURCE data from before ASOF by their offset
        # (reference encoding/seq.go:244–276 truncates the shifted source at
        # asOf+shift and grows the merge window): extend the read downward by
        # the largest shift, then trim the OUTPUT back to [asof, until) below
        # — otherwise the first in-range buckets lose their true lag values.
        shift_ext = _max_shift_seconds(
            [f.expr for f in q.fields] + ([q.having] if q.having is not None else [])
        )
        read_asof = asof
        if asof is not None and shift_ext > 0:
            read_asof = int((asof - shift_ext) // src_res * src_res)
        state = read(read_asof, until)
        out_min_ts = asof if read_asof != asof else None

        # WHERE over source dims (IN-subqueries pre-executed, reference
        # planner/subquery.go). A name that is not a source dim — a measure
        # or a typo — resolves to NULL, the reference's "unknown dim = nil,
        # comparisons not-true" rule (goexpr; expr/field.go:44-47), so the
        # filter cleanly matches nothing instead of raising mid-plan.
        dim_cols = set(state.columns)
        state = self._apply_where(
            state,
            q.where,
            lambda n: F.col(n) if n in dim_cols else F.lit(None),
        )

        # STRIDE: keep only the first strideSlice of each stride, where
        # strideSlice = the QUERY resolution (period if given, else source
        # resolution) — reference planner/local.go:144–150 sets
        # strideSlice=resolution then resolution=stride
        if q.stride:
            if round(q.stride) % round(src_res) != 0:
                raise ValueError("stride must be a multiple of the table resolution")
            state = state.filter(
                (F.col(BUCKET_COL) % F.lit(int(q.stride))) < F.lit(int(res_out))
            )
            res_out = max(res_out, q.stride)

        # shift-extended read + ASOF unaligned to the OUTPUT grid: source
        # rows in [first-output-bucket-start, asof) belong to the partial
        # first bucket's PAST, not its base aggregates — exclude them so the
        # extension feeds only the shift columns (lower whole buckets)
        if out_min_ts is not None:
            grid = int(round(res_out))
            b0 = bucket_anchor + (asof - bucket_anchor) // grid * grid
            if b0 != asof:
                state = state.filter(
                    (F.col(BUCKET_COL) >= F.lit(asof)) | (F.col(BUCKET_COL) < F.lit(b0))
                )
            out_min_ts = b0

        # output dims — unknown dim names inside GROUP BY expressions read
        # as nil (reference expr/field.go:44-47), so ANY(missing, k, 'x')
        # falls through instead of failing analysis
        dim_resolve = lambda n: F.col(n) if n in state.columns else F.lit(None)
        if q.group_by_none:
            out_dims: list[tuple[str, object]] = []
        elif q.group_by_all or not q.group_by:
            out_dims = [(d, F.col(d)) for d in src_dims]
        else:
            out_dims = [(g.name, compile_dim(g.expr, dim_resolve)) for g in q.group_by]

        # fields (SELECT * expands to every source field)
        fields = list(q.fields)
        if q.select_star or not fields:
            seen = {f.name for f in fields}
            fields = fields + [f for f in star if f.name not in seen]

        # SELECT aliases are referenceable from HAVING/ORDER BY (reference
        # sql_test.go: HAVING Rate > 15 with rate defined in the SELECT).
        # The map starts EMPTY and grows as fields are rewritten in order —
        # the reference resolves a name against fields defined EARLIER in
        # the select list, else the source field (sql/sql.go:720–738,
        # fieldsMap), so `SHIFT(v, '1d') AS v` reads the stored v instead of
        # recursing into its own alias.
        query_aliases: dict[str, MExpr] = {}

        def field_lookup(n: str) -> MExpr:
            return query_aliases[n] if n in query_aliases else bare(n)

        # a SELECTed name that is an output dim is a dim passthrough (the
        # reference's IN-subqueries SELECT the dim they feed — sql/sql.go:1054)
        dim_names = {n for n, _ in out_dims}
        fields = [
            f
            for f in fields
            if not (isinstance(f.expr, MFieldRef) and f.expr.name in dim_names)
        ]

        # ORDER BY may reference a field OUTSIDE the SELECT list (reference
        # sql_test.go's `ORDER BY Rate DESC, x, y`): materialize it as a
        # hidden `__ob_<name>` column the sort consumes and then drops.
        # Unknown names resolve to the absent-field NULL constant. Crosstab
        # pivots every field, so hidden columns stay off that path.
        if q.order_by and not q.crosstab:
            produced = {f.name for f in fields} | {n for n, _ in out_dims} | {"_time"}
            for name, _desc in q.order_by:
                if name not in produced:
                    fields.append(SelectField(f"__ob_{name}", MFieldRef(name)))

        # rewrite fields; find required leaves (possibly IF-gated at query time)
        rewritten: list[SelectField] = []
        leaves: list[MExpr] = []
        for f in fields:
            rewritten.append(SelectField(f.name, collect_agg_leaves(f.expr, field_lookup, leaves)))
            if not isinstance(f.expr, MFieldRef):
                query_aliases[f.name] = f.expr
        having_expr = None
        if q.having is not None:
            having_expr = collect_agg_leaves(q.having, field_lookup, leaves)

        # the source-specific merge of ``state`` onto a dim list: stored
        # states re-merge (query-time IF gates become merge gates on copies
        # of the stored columns); flat rows aggregate as raw points
        qreg = StateRegistry()
        if sub is None:
            for leaf in leaves:
                state = qreg.require_stored(leaf, table.registry, state, name)
            merge = lambda dims: merge_states(
                state, qreg, dims, src_res, res_out, anchor=bucket_anchor
            )
        else:
            leaf_fields = [SelectField("", leaf) for leaf in leaves]
            merge = lambda dims: aggregate_raw(
                state, leaf_fields, dims, res_out, TIME_COL, qreg, anchor=bucket_anchor
            )[0]

        def q_lookup(n: str) -> MExpr:
            return collect_agg_leaves(field_lookup(n), field_lookup, [])

        if q.crosstab:
            flat = self._crosstab(
                q, state, merge, qreg, out_dims, res_out, rewritten,
                having_expr, q_lookup, out_min_ts,
            )
        else:
            flat = self._finalize_flat(
                merge(out_dims), qreg, rewritten, out_dims, q_lookup, res_out,
                having=having_expr,
            )
            flat = _trim(flat, out_min_ts, having_expr is not None)
        return self._order_limit(flat, q), [n for n, _ in out_dims]

    def _finalize_flat(
        self, merged, qreg, fields, out_dims, q_lookup, res_out, having=None
    ) -> DataFrame:
        """Finalize merged states into flat field values. SHIFT may appear
        ANYWHERE in a field/HAVING expression (the reference treats a
        shifted expr as an ordinary field — expr/shift.go): every distinct
        SHIFT node is materialized once as a hidden column via the
        (dims, bucket − dur) self-join, then expressions compile with those
        nodes resolved to the joined columns. CROSSHIFT stays a
        select-level macro expanding to one column per offset."""
        dims = [n for n, _ in out_dims]

        # 1. discover every distinct SHIFT node (anywhere) + expand CROSSHIFT
        shift_cols: dict[MShift, str] = {}
        shift_plans: list[tuple[str, float, Column]] = []  # hidden, dur, base

        def register(node: MShift) -> str:
            if node not in shift_cols:
                name = f"__sh{len(shift_cols)}"
                shift_cols[node] = name
                shift_plans.append(
                    (name, node.dur, finalize_expr(node.inner, qreg, q_lookup))
                )
            return shift_cols[node]

        def walk(e) -> None:
            if isinstance(e, MShift):
                register(e)
                return  # inner belongs to the shift's own finalize
            if isinstance(e, MCrosshift):
                return  # select-level macro, handled per-field below
            if dataclasses.is_dataclass(e) and not isinstance(e, type):
                for fld in dataclasses.fields(e):
                    v = getattr(e, fld.name)
                    if isinstance(v, MExpr):
                        walk(v)

        crosshift_outs: list[tuple[str, str]] = []  # (hidden/base col, out name)
        plain_fields: list = []
        for f in fields:
            e = f.expr
            if isinstance(e, MCrosshift):
                off = e.interval
                while off <= e.cutoff:
                    crosshift_outs.append(
                        (register(MShift(e.inner, off)), f"{f.name}_{format_duration(off)}")
                    )
                    off += e.interval
                plain_fields.append((f.name, e.inner))  # offset-0 base column
            else:
                walk(e)
                plain_fields.append((f.name, e))
        if having is not None:
            walk(having)

        # 2. base frame: merged state + one column per distinct shift node
        flat = merged
        for hidname, _dur, base in shift_plans:
            flat = flat.withColumn(f"{hidname}_base", base)
        # 3. shift joins: every hidden column comes off the SAME base frame
        #    (no cascading self-joins), keyed (dims, bucket − dur)
        for hidname, dur, _base in shift_plans:
            n = int(dur // res_out * res_out)
            sh = flat.select(
                *dims,
                (F.col(BUCKET_COL) + F.lit(n)).alias(BUCKET_COL),
                F.col(f"{hidname}_base").alias(hidname),
            )
            flat = flat.join(sh, on=[*dims, BUCKET_COL], how="left")

        # 4. final projection: fields/having compile with shift nodes
        #    resolved to the joined columns
        cols: list = [F.timestamp_seconds(F.col(BUCKET_COL)).alias(TIME_COL)] + [
            F.col(d) for d in dims
        ]
        if having is not None:
            cols.append(
                finalize_expr(having, qreg, q_lookup, shift_cols).alias("_having")
            )
        for name, e in plain_fields:
            cols.append(finalize_expr(e, qreg, q_lookup, shift_cols).alias(name))
        for hidname, out_name in crosshift_outs:
            cols.append(F.coalesce(F.col(hidname), F.lit(0.0)).alias(out_name))
        return flat.select(*cols, F.col(BUCKET_COL)).drop(BUCKET_COL)

    def _crosstab(
        self, q, state, merge, qreg, out_dims, res_out, fields, having_expr,
        q_lookup, out_min_ts,
    ):
        """CROSSTAB: re-plan with the crosstab expr as an extra dim, then
        pivot; totals and HAVING come from ``merge(out_dims)``, the merge of
        ``state`` on the plain dims."""
        ct_resolve = lambda n: F.col(n) if n in state.columns else F.lit(None)
        ct_col = F.concat_ws(
            "_", *[compile_dim(e, ct_resolve).cast("string") for e in q.crosstab]
        )
        dims_ct = list(out_dims) + [("__ct", ct_col)]
        flat_ct = self._finalize_flat(
            merge(dims_ct), qreg, fields, dims_ct, q_lookup, res_out
        )
        # trim the shift-extended read BEFORE the pivot-value collection,
        # so pre-ASOF-only crosstab values never become phantom columns
        flat_ct = _trim(flat_ct, out_min_ts)
        # Pivot needs the distinct column values on the driver (the same
        # two-pass shape as Spark's own pivot(); the reference buffers rows
        # too) — but guard the cardinality so a runaway crosstab dim fails
        # loudly instead of OOMing the driver.
        cap = self.crosstab_max_values
        distinct_rows = (
            flat_ct.select("__ct").distinct().limit(cap + 1).collect()
        )
        if len(distinct_rows) > cap:
            raise ValueError(
                f"CROSSTAB dimension has more than {cap} distinct values; "
                "raise DB(crosstab_max_values=...) if this is intentional"
            )
        values = sorted(r["__ct"] for r in distinct_rows if r["__ct"] is not None)
        dims = [n for n, _ in out_dims]
        pivoted = (
            flat_ct.groupBy(TIME_COL, *dims)
            .pivot("__ct", values)
            .agg(*[F.first(f.name).alias(f.name) for f in fields])
        )
        if len(fields) == 1:
            for v in values:
                if v in pivoted.columns:
                    pivoted = pivoted.withColumnRenamed(v, f"{v}_{fields[0].name}")
        # totals + HAVING computed on the un-pivoted (dims, bucket) grain
        tot_fields = [SelectField(f"total_{f.name}", f.expr) for f in fields]
        flat_tot = self._finalize_flat(
            merge(out_dims), qreg, tot_fields, out_dims, q_lookup, res_out,
            having=having_expr,
        )
        flat_tot = _trim(flat_tot, out_min_ts, having_expr is not None)
        join_cols = [TIME_COL, *dims]
        if q.crosstab_totals:
            return pivoted.join(flat_tot, on=join_cols, how="inner")
        return pivoted.join(flat_tot.select(*join_cols), on=join_cols, how="inner")

    # -- shared tail ----------------------------------------------------------
    def _resolve_in_subqueries(
        self, e: DimExpr | None, joins: list | None = None
    ) -> DimExpr | None:
        """Plan uncorrelated IN-subqueries (reference planner/subquery.go:13–100;
        the subquery must select exactly one dim).

        Scale-safe two-tier strategy: the subquery's distinct dim values are
        fetched with LIMIT (in_splice_max + 1). Small sets splice into the
        predicate as a value list (the reference's design — cheap, pushes to
        the scan). Larger sets never touch the driver: the planner records a
        (marker, values_df, dim_expr) join spec and the caller left-joins the
        distinct values (AQE broadcasts when they fit), so the predicate
        compiles to a null-check on the marker — valid under NOT/OR too.
        """
        if e is None:
            return None
        if isinstance(e, DimInSubquery):
            sub = e.subquery
            if len(sub.fields) != 1 and not sub.group_by:
                raise ValueError("IN-subquery must select exactly one dimension")
            sub_df = self.plan(sub)
            dim_name = (
                sub.group_by[0].name
                if sub.group_by
                else sub.fields[0].name
            )
            vals_df = sub_df.select(dim_name).filter(F.col(dim_name).isNotNull()).distinct()
            head = vals_df.limit(self.in_splice_max + 1).collect()
            if len(head) <= self.in_splice_max or joins is None:
                values = tuple(r[dim_name] for r in head)
                return DimIn(e.inner, values or (None,))
            marker = f"__in_sq_{len(joins)}"
            joins.append((marker, vals_df.withColumnRenamed(dim_name, marker), e.inner))
            return DimMarker(marker)
        if isinstance(e, DimLogical):
            return DimLogical(
                e.op,
                self._resolve_in_subqueries(e.left, joins),
                self._resolve_in_subqueries(e.right, joins),
            )
        if isinstance(e, DimNot):
            return DimNot(self._resolve_in_subqueries(e.inner, joins))
        return e

    def _apply_where(self, df: DataFrame, where: DimExpr | None, resolve=None) -> DataFrame:
        """Resolve IN-subqueries in ``where`` and filter ``df``: small value
        sets splice inline; large ones become membership left-joins on the
        subquery's distinct values (no driver collect)."""
        where = self._resolve_in_subqueries(where, joins := [])
        if where is None:
            return df
        for marker, vals_df, inner_dim in joins:
            key = compile_dim(inner_dim, resolve) if resolve else compile_dim(inner_dim)
            df = df.join(vals_df, key == vals_df[marker], "left")
        df = df.filter(dim_truth(compile_dim(where, resolve) if resolve else compile_dim(where)))
        if joins:
            df = df.drop(*[m for m, _, _ in joins])
        return df

    def _order_limit(self, df: DataFrame, q: Query) -> DataFrame:
        drop_after = []
        if q.order_by:
            cols = []
            for name, desc in q.order_by:
                # ORDER BY references an output name, a non-selected field
                # materialized as a hidden `__ob_<name>` column by the
                # grouped-query planner (reference sql_test.go orders by fields
                # outside the SELECT list), or — failing both — an unknown
                # name, which reads as ABSENT and sorts as a constant
                # (expr/field.go:44-47's nil rule; a no-op sort key)
                if name == "_time":
                    c = F.col(TIME_COL)
                elif name in df.columns:
                    c = F.col(name)
                elif f"__ob_{name}" in df.columns:
                    c = F.col(f"__ob_{name}")
                else:
                    c = F.lit(None).cast("double")
                cols.append(c.desc() if desc else c.asc())
            df = df.orderBy(*cols)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df.drop(*[c for c in df.columns if c.startswith("__ob_")])


def _substitute_refs(e: MExpr, by_name: dict[str, MExpr]) -> MExpr:
    """Inline parent field definitions into a view's expressions (reference
    table.go:194–250: views derive from the parent's field exprs). An
    aggregate leaf's args name raw stream columns and stay as they are."""
    if isinstance(e, MFieldRef):
        return by_name.get(e.name, e)
    if isinstance(e, MAgg) or (isinstance(e, MPercentile) and e.precision is not None):
        return e
    return dataclasses.replace(
        e,
        **{
            f.name: _substitute_refs(v, by_name)
            for f in dataclasses.fields(e)
            if isinstance(v := getattr(e, f.name), MExpr)
        },
    )


def _parse_simple_yaml(text: str) -> dict:
    """Minimal YAML subset parser for schema files (no external deps):
    two-level mapping with scalar values, `>`/`|` block strings, and simple
    inline lists."""
    out: dict[str, dict] = {}
    cur: dict | None = None
    block_key: str | None = None
    block_lines: list[str] = []
    block_indent = 0
    for raw in text.splitlines():
        line = raw.rstrip("\n")
        if block_key is not None:
            if not line.strip() or (len(line) - len(line.lstrip())) >= block_indent:
                block_lines.append(line.strip())
                continue
            cur[block_key] = " ".join(l for l in block_lines if l)
            block_key = None
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        indent = len(line) - len(line.lstrip())
        key, _, val = line.strip().partition(":")
        val = val.strip()
        if indent == 0:
            cur = {}
            out[key] = cur
        else:
            if val in (">", "|"):
                block_key = key
                block_lines = []
                block_indent = indent + 1
            elif val.startswith("["):
                cur[key] = [v.strip() for v in val.strip("[]").split(",") if v.strip()]
            elif val.lower() in ("true", "false"):
                cur[key] = val.lower() == "true"
            else:
                cur[key] = val
    if block_key is not None and cur is not None:
        cur[block_key] = " ".join(l for l in block_lines if l)
    return out
