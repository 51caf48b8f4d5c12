"""IR → DataFrame compiler.

Two lowering paths share one expression walker:

1. **raw aggregation** (`aggregate_raw`) — a table definition (or the outer
   query of a FROM-subquery) aggregating raw points into *mergeable state
   columns*: SUM/COUNT/MIN/MAX keep their value, AVG keeps (sum,count),
   WAVG keeps (Σvw, Σw), PERCENTILE keeps a sparse `map<bigint,bigint>`
   of occupied bounded-histogram bins.
   This is the reference's ingest path (insert.go:175–268 +
   bytetree update) expressed as one Spark hash aggregate.

2. **state merge** (`merge_states`) — a query over a stored table re-groups
   state columns to coarser buckets / fewer dims by *merging* states
   (sum+sum, min∧min, histogram ⊕) — the reference's SubMerge
   (expr/aggregate.go:97–109, encoding/seq.go:243–320). Spark's partial
   aggregation does exactly this for the scalar states; histograms merge
   by key-wise sum of their bin maps.

`finalize` then turns merged states into flat field values (AVG = sum/count,
percentile = quantile read, arithmetic, comparisons, divide-by-zero
convention) — the reference's Flatten + expr Get (core/flatten.go,
expr/avg.go:101–114).

Scale notes: every path is a plain groupBy over (dims, bucket) — map-side
combined, AQE-coalesced. No Python UDFs anywhere; histogram states are
bin→count maps handled by built-in higher-order functions. Each
accumulator kind's columns, raw aggregate, merge, empty type and read are
stated once (``_kind``, ``_MERGES``); the histogram and KMV rules are the
operator library's (operators/percentile.py, operators/sketch.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zenodb_spark.functions.dims import DIM_FUNCTIONS
from zenodb_spark.functions.measures import MAX_FLOAT64
from zenodb_spark.ir import (
    DimCompare,
    DimConst,
    DimExpr,
    DimFunc,
    DimIn,
    DimInSubquery,
    DimIsNull,
    DimLike,
    DimLogical,
    DimMarker,
    DimNot,
    DimRef,
    MAgg,
    MBin,
    MBounded,
    MConst,
    MCrosshift,
    MExpr,
    MFieldRef,
    MIf,
    MLog,
    MPercentile,
    MPresence,
    MShift,
    Query,
    SelectField,
)
from zenodb_spark.operators.percentile import HIST_TYPE, hist_agg, hist_merge, hist_quantile
from zenodb_spark.operators.sketch import kmv_estimate

BUCKET_COL = "_bucket"
POINTS_FIELD = "_points"


# --------------------------------------------------------------------------
# dimension expression compilation
# --------------------------------------------------------------------------


def compile_dim(e: DimExpr, resolve=None) -> Column:
    """Compile a dimension expression to a Column. `resolve` maps a dim name
    to a Column (defaults to F.col); missing dims resolve to NULL via the
    caller's resolver (schemaless streams: unknown dim = nil)."""
    r = resolve or (lambda name: F.col(name))
    if isinstance(e, DimRef):
        return r(e.name)
    if isinstance(e, DimConst):
        return F.lit(e.value)
    if isinstance(e, DimFunc):
        fn = DIM_FUNCTIONS.get(e.name)
        if fn is None:
            raise ValueError(f"unknown dimension function {e.name} (register it)")
        if e.name == "CONCAT":
            # CONCAT(sep, parts…): sep is a literal string, but every PART
            # is an expression — a constant part must become lit(), not a
            # column named by its value (goexpr Concat evaluates parts)
            sep = e.args[0].value if isinstance(e.args[0], DimConst) else None
            if sep is None:
                raise ValueError("CONCAT separator must be a string literal")
            return fn(sep, *[compile_dim(a, r) for a in e.args[1:]])
        if e.name == "ANY":
            # ANY(exprs…): same rule — constants are fallback VALUES
            return fn(*[compile_dim(a, r) for a in e.args])
        args = [_dim_fn_arg(a, r) for a in e.args]
        return fn(*args)
    if isinstance(e, DimCompare):
        left, right = compile_dim(e.left, r), compile_dim(e.right, r)
        return {
            "=": left == right,
            "<>": left != right,
            "<": left < right,
            "<=": left <= right,
            ">": left > right,
            ">=": left >= right,
        }[e.op]
    if isinstance(e, DimLogical):
        left, right = compile_dim(e.left, r), compile_dim(e.right, r)
        return (left & right) if e.op == "AND" else (left | right)
    if isinstance(e, DimNot):
        return ~compile_dim(e.inner, r)
    if isinstance(e, DimIsNull):
        c = compile_dim(e.inner, r)
        return c.isNotNull() if e.negated else c.isNull()
    if isinstance(e, DimLike):
        c = compile_dim(e.inner, r)
        # SQL LIKE semantics: % multi-char wildcard, pattern anchored at both
        # ends ('a%z' does NOT match 'za') — reference sql/sql.go:989–1120
        # lowers LIKE through goexpr.Binary; DuckDB oracle agrees.
        like = c.like(e.pattern)
        return ~like if e.negated else like
    if isinstance(e, DimIn):
        return compile_dim(e.inner, r).isin(*e.values)
    if isinstance(e, DimMarker):
        # membership flag produced by the planner's IN-subquery semi-join
        return F.col(e.col).isNotNull()
    if isinstance(e, DimInSubquery):
        raise ValueError("IN-subquery must be rewritten to a semi-join by the planner")
    raise TypeError(f"unhandled dim expr {e!r}")


def _dim_fn_arg(a, r):
    """Dim-function args: constants pass through as Python values (SPLIT's
    separator/index, SUBSTR's start/len, DECODE's pairs), expressions
    compile to Columns."""
    if isinstance(a, DimConst):
        return a.value
    return compile_dim(a, r)


def dim_truth(col: Column) -> Column:
    """Boolean with null → false (reference treats nil dims as non-matching)."""
    return F.coalesce(col, F.lit(False))


# --------------------------------------------------------------------------
# state model
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class StateSpec:
    """One mergeable accumulator: where it lives and how it merges."""

    key: str  # canonical key of the aggregate sub-expression
    col: str  # physical column name
    merge: str  # a _MERGES kind
    meta: tuple | None = None  # hist (lo, hi, precision); kmv (k,)


# the implicit `_points` counter
POINTS_AGG = MAgg("SUM", MFieldRef("_point"), None)


def agg_key(e: MExpr) -> str:
    return repr(e)


def _state_name(idx: int, suffix: str) -> str:
    return f"_s{idx}__{suffix}"


# Hard cap on the per-group member count of an exact COUNTDISTINCT state.
# The dset state grows linearly with group cardinality by design (exactness
# contract); past this bound a stored-view path would be on an OOM track,
# so fail loudly and point at the approximate operators instead.
DSET_MAX_MEMBERS = 1_000_000


def _dset_guard(arr: Column) -> Column:
    """Return ``arr`` unchanged while enforcing DSET_MAX_MEMBERS at runtime.

    `assert_true` evaluates to NULL when the predicate holds and raises
    otherwise, so gating on its NULL-ness passes the array through without
    a type-coercion dance and cannot be constant-folded away."""
    ok = F.assert_true(
        F.size(arr) <= F.lit(DSET_MAX_MEMBERS),
        F.lit(
            "COUNTDISTINCT exact state exceeded "
            f"{DSET_MAX_MEMBERS} members in one group; declare the field "
            "as COUNTDISTINCT(x, k) to switch to the bounded KMV-sketch "
            "state (exact below k distinct members, ~1/sqrt(k) error "
            "above), or use the KMV/HLL operator library for set "
            "intersections"
        ),
    )
    return F.when(ok.isNull(), arr)


def _union(src: Column) -> Column:
    return F.array_sort(F.array_distinct(F.flatten(F.collect_list(src))))


# merge kind → (type of a state column no stored part has yet, merge
# aggregate over the column and its StateSpec.meta)
_MERGES = {
    "sum": ("double", lambda src, meta: F.sum(src)),
    "min": ("double", lambda src, meta: F.min(src)),
    "max": ("double", lambda src, meta: F.max(src)),
    "dset": ("array<string>", lambda src, meta: _dset_guard(_union(src))),
    # k smallest of the union of the part sketches == the sketch of the
    # union (lossless sketch merge)
    "kmv": ("array<string>", lambda src, meta: F.slice(_union(src), 1, meta[0])),
    "hist": (HIST_TYPE, lambda src, meta: hist_merge(src)),
}


def _sum(v: Column) -> Column:
    return F.coalesce(F.sum(v), F.lit(0.0))


def _count(v: Column) -> Column:
    return F.count(v).cast("double")


def _distinct_strings(v: Column) -> Column:
    # string-cast for a type-uniform set (dialect values are doubles; JVM
    # double→string is deterministic). `+ 0.0` first: IEEE -0.0 + 0.0 =
    # 0.0, so the two zeros collapse to one member the way SQL DISTINCT
    # (and the oracle) treats them — without it "-0.0"/"0.0" would be two
    # distinct strings.
    return (v + F.lit(0.0)).cast("string")


def _dset(v: Column) -> Column:
    return _dset_guard(F.array_sort(F.collect_set(_distinct_strings(v))))


@dataclass(frozen=True)
class _Kind:
    """One accumulator kind, stated once: its state columns, each (name
    suffix, merge kind, raw value, raw aggregate over the gated raw
    value), the StateSpec.meta they carry, and its read over the merged
    columns."""

    cols: list[tuple]
    read: Callable[[list[Column]], Column]
    meta: tuple | None = None


def _kind(leaf: MExpr) -> _Kind:
    """The accumulator definition of an (un-gated) aggregate leaf."""
    if isinstance(leaf, MPresence):
        # `_` registers as its points counter (StateRegistry.require);
        # it reads 1 when any point is present
        return _Kind(
            [],
            lambda c: F.when(F.coalesce(c[0], F.lit(0.0)) > 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
    if isinstance(leaf, MPercentile):
        # built by a hist_agg join on the group key, not a scalar aggregate
        return _Kind(
            [("hist", "hist", leaf.inner, None)],
            lambda c: hist_quantile(c[0], leaf.p, leaf.lo, leaf.precision),
            (leaf.lo, leaf.hi, leaf.precision),
        )
    if not isinstance(leaf, MAgg):
        raise ValueError(f"not an aggregate leaf: {leaf!r}")
    scalar = lambda c: F.coalesce(c[0], F.lit(0.0))
    # try_divide: AVG of an empty/unset group reads as null under ANSI
    # mode too (the reference reads unset as NaN-ish 0)
    ratio = lambda c: F.try_divide(c[0], c[1])
    if leaf.kind == "SUM":
        return _Kind([("sum", "sum", leaf.arg, _sum)], scalar)
    if leaf.kind == "COUNT":
        return _Kind([("count", "sum", leaf.arg, _count)], scalar)
    if leaf.kind in ("MIN", "MAX"):
        m = leaf.kind.lower()
        return _Kind([(m, m, leaf.arg, getattr(F, m))], lambda c: c[0])
    if leaf.kind == "AVG":
        return _Kind([("sum", "sum", leaf.arg, _sum), ("count", "sum", leaf.arg, _count)], ratio)
    if leaf.kind == "WAVG":
        return _Kind(
            [
                ("wsum", "sum", MBin("*", leaf.arg, leaf.weight), _sum),
                ("wwt", "sum", leaf.weight, _sum),
            ],
            ratio,
        )
    if leaf.kind == "COUNTDISTINCT" and leaf.weight is None:
        # mergeable EXACT distinct state: the sorted array of distinct
        # value strings. Mergeable by union; exact at any scale, which is
        # what the oracle gate demands (an earlier HLL-sketch state drifted
        # from the exact count once groups left coupon mode at sf0.1).
        # State size grows with group cardinality — the documented trade,
        # enforced by DSET_MAX_MEMBERS (loud runtime error past the cap);
        # for unbounded-cardinality telemetry use the KMV/HLL operator
        # library (q140/q172), which owns the approximate contract. Suffix
        # carries the state-format version: v2 = sorted string array with
        # -0.0 normalized; a stored v1 state (HLL binary under `__dset`)
        # fails loudly on column-name mismatch instead of silently
        # mis-merging.
        return _Kind(
            [("dsetv2", "dset", leaf.arg, _dset)],
            lambda c: F.when(c[0].isNotNull(), F.size(c[0]).cast("double")).otherwise(F.lit(0.0)),
        )
    if leaf.kind == "COUNTDISTINCT":
        # COUNTDISTINCT(x, k) — 2-arg form, k in the weight slot — selects
        # the BOUNDED approximate state instead: the k
        # lexicographically-smallest md5 hex digests of the distinct value
        # strings (KMV, Beyer et al. SIGMOD'07, the same deterministic
        # construction as operators/sketch.py). O(k) state per group at any
        # cardinality; exact below k distinct members; (k-1)/h_(k) estimate
        # above, ~1/sqrt(k) error. Version-tagged suffix `kmv1n{k}`: a
        # future layout change bumps the tag and trips the engine's
        # stale-state gate instead of silently mis-merging; states with
        # different k likewise never share a column.
        if not isinstance(leaf.weight, MConst):
            raise ValueError("COUNTDISTINCT(x, k): k must be a literal")
        k = int(leaf.weight.value)
        if k < 2 or k != leaf.weight.value:
            raise ValueError("COUNTDISTINCT(x, k): k must be an integer >= 2")
        # md5 BEFORE collect_set: the set dedups by digest (same members,
        # hashes being injective up to md5 collisions), and the sort+slice
        # keeps only the k smallest digests
        kmv = lambda v: F.slice(F.array_sort(F.collect_set(F.md5(_distinct_strings(v)))), 1, k)
        return _Kind([(f"kmv1n{k}", "kmv", leaf.arg, kmv)], lambda c: kmv_estimate(c[0], k), (k,))
    raise ValueError(f"cannot make state for {leaf!r}")


def _split_gates(e: MExpr) -> tuple[list[DimExpr], MExpr]:
    """The IF conditions around an aggregate leaf, outermost first, and
    the leaf."""
    conds = []
    while isinstance(e, MIf):
        conds.append(e.cond)
        e = e.inner
    return conds, e


def _gate(conds: list[DimExpr], resolve=None) -> Column | None:
    """The conjunction of IF conditions; None when there are none."""
    gate = None
    for cond in conds:
        c = compile_dim(cond, resolve)
        gate = c if gate is None else gate & c
    return gate


class StateRegistry:
    """Collects the distinct aggregate leaves of a set of field expressions
    and assigns state columns (dedup'd: `ii` and `COUNT(ii)` appearing in two
    fields share state). Only this class names state columns."""

    def __init__(self):
        self.specs: dict[str, list[StateSpec]] = {}
        self._agg_exprs: dict[str, MExpr] = {}

    def require(self, e: MExpr) -> list[StateSpec]:
        k = agg_key(e)
        if k not in self.specs:
            conds, leaf = _split_gates(e)
            if isinstance(leaf, MPresence):
                # `_` is its points counter under the same gates: un-gated
                # it shares `_s__points`, gated it gets an indexed state
                counter = POINTS_AGG
                for cond in reversed(conds):
                    counter = MIf(cond, counter)
                cols = self.require(counter)
            elif e == POINTS_AGG:
                # the implicit points counter registers AFTER the explicit
                # fields, so an index-carrying name would shift on every
                # field APPEND and make live ALTER re-bind it; one fixed
                # position-independent column serves every un-gated reader
                cols = [StateSpec(k, "_s__points", "sum")]
            else:
                kind, idx = _kind(leaf), len(self.specs)
                cols = [
                    StateSpec(k, _state_name(idx, suffix), merge, kind.meta)
                    for suffix, merge, _value, _agg in kind.cols
                ]
            self.specs[k] = cols
            self._agg_exprs[k] = e
        return self.specs[k]

    def require_stored(
        self, e: MExpr, stored: StateRegistry, state: DataFrame, table: str
    ) -> DataFrame:
        """Register query leaf ``e`` over the states ``stored`` for
        ``table``. A table-def IF is part of the stored key; query-time IF
        gates are stripped until the rest matches a stored state, and
        become merge gates on copies of its columns that ``state`` gains."""
        k = agg_key(e)
        if k in self.specs:
            return state
        conds = []
        inner = e
        while agg_key(inner) not in stored.specs and isinstance(inner, MIf):
            conds.append(inner.cond)
            inner = inner.inner
        ik = agg_key(POINTS_AGG if isinstance(inner, MPresence) else inner)
        if ik not in stored.specs:
            raise ValueError(
                f"query aggregate {inner!r} does not match any stored field of "
                f"{table} (stored aggregates cannot be re-aggregated "
                f"with a different function)"
            )
        gate = _gate(conds)
        src = stored.specs[ik]
        n = len(self.specs)
        self.specs[k] = [
            StateSpec(k, s.col if gate is None else f"_g{n}_{i}__{s.merge}", s.merge, s.meta)
            for i, s in enumerate(src)
        ]
        self._agg_exprs[k] = e
        if gate is not None:
            for s, qs in zip(src, self.specs[k]):
                state = state.withColumn(qs.col, F.when(dim_truth(gate), F.col(s.col)))
        return state

    def states(self):
        """(aggregate, specs) per distinct state in registration order;
        keys that share columns (`_` and `_points`) yield them once."""
        seen: set[str] = set()
        for k, specs in self.specs.items():
            if specs[0].col not in seen:
                seen.update(s.col for s in specs)
                yield self._agg_exprs[k], specs

    def all_specs(self) -> list[StateSpec]:
        return [s for specs in self.specs.values() for s in specs]


def collect_agg_leaves(e: MExpr, field_lookup, out: list[MExpr]) -> MExpr:
    """Rewrite a field expression so every aggregate leaf is requested from
    the registry; bare field refs resolve through `field_lookup` (reference
    default-to-SUM + field-reuse rules, sql/sql.go:727–737). Returns the
    rewritten expression (MFieldRefs replaced by their definitions)."""
    if isinstance(e, (MConst,)):
        return e
    if isinstance(e, MPresence):
        out.append(e)
        return e
    if isinstance(e, MFieldRef):
        resolved = field_lookup(e.name)
        return collect_agg_leaves(resolved, field_lookup, out)
    if isinstance(e, MAgg):
        # normalize the arg (resolve field refs inside the aggregate)
        arg = _resolve_refs_shallow(e.arg, field_lookup)
        weight = _resolve_refs_shallow(e.weight, field_lookup) if e.weight else None
        norm = MAgg(e.kind, arg, weight)
        out.append(norm)
        return norm
    if isinstance(e, MPercentile):
        if e.precision is None:
            # 2-arg re-read: resolve target field, must be a percentile
            target = field_lookup(e.inner.name) if isinstance(e.inner, MFieldRef) else e.inner
            leaf = _split_gates(target)[1]
            if not (isinstance(leaf, MPercentile) and leaf.precision is not None):
                raise ValueError("2-arg PERCENTILE must wrap an existing percentile field")
            out.append(target)
            return MPercentile(target, e.p)
        norm = MPercentile(
            _resolve_refs_shallow(e.inner, field_lookup), e.p, e.lo, e.hi, e.precision
        )
        out.append(norm)
        return norm
    if isinstance(e, MIf):
        inner_out: list[MExpr] = []
        inner = collect_agg_leaves(e.inner, field_lookup, inner_out)
        gated = MIf(e.cond, inner)
        if inner_out and len(inner_out) == 1 and agg_key(inner_out[0]) == agg_key(inner):
            # simple IF(cond, AGG) — gate the state itself
            out.append(gated)
            return gated
        if inner_out:
            # Compound inner, e.g. IF(cond, SUM(a)/SUM(b)): push the gate
            # down onto every aggregate leaf so each state is built gated
            # and finalize combines the gated leaves (reference expr.IF
            # wraps arbitrary expressions — sql/sql.go:760,
            # expr/combined_test.go IF(ge, DIV(mult, count))).
            return _push_gate(inner, e.cond, out)
        out.extend(inner_out)
        return gated
    if isinstance(e, MBounded):
        return MBounded(collect_agg_leaves(e.inner, field_lookup, out), e.lo, e.hi)
    if isinstance(e, MBin):
        return MBin(
            e.op,
            collect_agg_leaves(e.left, field_lookup, out),
            collect_agg_leaves(e.right, field_lookup, out),
        )
    if isinstance(e, MLog):
        return MLog(e.kind, collect_agg_leaves(e.inner, field_lookup, out))
    if isinstance(e, MShift):
        return MShift(collect_agg_leaves(e.inner, field_lookup, out), e.dur)
    if isinstance(e, MCrosshift):
        return MCrosshift(collect_agg_leaves(e.inner, field_lookup, out), e.cutoff, e.interval)
    raise TypeError(f"unhandled measure expr {e!r}")


def _push_gate(e: MExpr, cond, out: list[MExpr]) -> MExpr:
    """Rewrite every aggregate leaf L inside ``e`` as MIf(cond, L),
    registering the gated leaves (compound-IF gate pushdown)."""
    if isinstance(e, (MAgg, MPresence, MIf)) or (
        isinstance(e, MPercentile) and e.precision is not None
    ):
        g = MIf(cond, e)
        out.append(g)
        return g
    if isinstance(e, MPercentile):
        # 2-arg re-read: the stored sketch itself is ungated state; gating a
        # re-read inside a compound IF is not expressible — register as-is.
        out.append(e.inner)
        return e
    if isinstance(e, MConst):
        return e
    if isinstance(e, MBounded):
        return MBounded(_push_gate(e.inner, cond, out), e.lo, e.hi)
    if isinstance(e, MBin):
        return MBin(e.op, _push_gate(e.left, cond, out), _push_gate(e.right, cond, out))
    if isinstance(e, MLog):
        return MLog(e.kind, _push_gate(e.inner, cond, out))
    if isinstance(e, MShift):
        return MShift(_push_gate(e.inner, cond, out), e.dur)
    if isinstance(e, MCrosshift):
        return MCrosshift(_push_gate(e.inner, cond, out), e.cutoff, e.interval)
    raise TypeError(f"unhandled expr under IF gate: {e!r}")


def _resolve_refs_shallow(e: MExpr, field_lookup) -> MExpr:
    """Inside an aggregate arg, field refs stay raw column refs (they are
    val names), but BOUNDED/arith wrappers recurse."""
    if e is None or isinstance(e, (MFieldRef, MConst, MPresence)):
        return e
    if isinstance(e, MBounded):
        return MBounded(_resolve_refs_shallow(e.inner, field_lookup), e.lo, e.hi)
    if isinstance(e, MBin):
        return MBin(
            e.op,
            _resolve_refs_shallow(e.left, field_lookup),
            _resolve_refs_shallow(e.right, field_lookup),
        )
    return e


# --------------------------------------------------------------------------
# raw-mode value compilation (inside an aggregate, over raw point columns)
# --------------------------------------------------------------------------


def _raw_value(e: MExpr, has_col) -> Column:
    if isinstance(e, MFieldRef):
        return F.col(e.name).cast("double") if has_col(e.name) else F.lit(None).cast("double")
    if isinstance(e, MConst):
        return F.lit(e.value) if e.value is not None else F.lit(None).cast("double")
    if isinstance(e, MBounded):
        v = _raw_value(e.inner, has_col)
        return F.when((v >= e.lo) & (v <= e.hi), v)
    if isinstance(e, MBin):
        left, right = _raw_value(e.left, has_col), _raw_value(e.right, has_col)
        return _arith(e.op, left, right)
    raise ValueError(f"unsupported expression inside aggregate: {e!r}")


def _arith(op: str, left: Column, right: Column) -> Column:
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    if op == "/":
        return (
            F.when(right != 0, left / right)
            .when(left == 0, F.lit(0.0))
            .otherwise(F.lit(MAX_FLOAT64))
        )
    # comparisons / logical over measures → 0/1 doubles (reference expr/conds.go)
    truthy = {
        "<": left < right,
        "<=": left <= right,
        ">": left > right,
        ">=": left >= right,
        "=": left == right,
        "<>": left != right,
        "AND": (left > 0) & (right > 0),
        "OR": (left > 0) | (right > 0),
    }[op]
    return F.when(truthy, F.lit(1.0)).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# public lowering entry points
# --------------------------------------------------------------------------


def raw_field_lookup(fields: list[SelectField]):
    """Bare-name resolution at raw level: a field's own non-trivial
    definition wins, else default-to-SUM of the raw column."""

    def field_lookup(name: str) -> MExpr:
        for f in fields:
            if f.name == name and not isinstance(f.expr, MFieldRef):
                return f.expr
        return MAgg("SUM", MFieldRef(name), None)

    return field_lookup


def build_registry(fields: list[SelectField], registry: StateRegistry | None = None) -> StateRegistry:
    """Deterministically derive a table's state registry from its field
    definitions (state column names depend only on require order, so a
    registry rebuilt from the schema matches one built at ingest — used to
    re-open persisted stores without replaying data)."""
    registry = registry if registry is not None else StateRegistry()
    field_lookup = raw_field_lookup(fields)
    leaves: list[MExpr] = []
    for f in fields:
        collect_agg_leaves(f.expr, field_lookup, leaves)
    leaves.append(POINTS_AGG)
    for leaf in leaves:
        registry.require(leaf)
    return registry


def aggregate_raw(
    df: DataFrame,
    fields: list[SelectField],
    group_dims: list[tuple[str, Column]],
    resolution: float,
    ts_col: str = "ts",
    registry: StateRegistry | None = None,
    anchor: float = 0.0,
) -> tuple[DataFrame, StateRegistry]:
    """Aggregate raw points to one state row per (dims…, bucket).

    Fields' aggregate leaves become state columns; percentile leaves are
    computed by a parallel two-level histogram aggregation joined back on
    the group key (co-partitioned join). ``anchor`` offsets the bucket
    grid as in ``merge_states``.
    """
    registry = build_registry(fields, registry)
    cols = set(df.columns)
    has_col = lambda n: n in cols

    ts = F.unix_timestamp(F.col(ts_col))
    off = ts - F.lit(int(anchor)) if anchor else ts
    bucket = (ts - off % F.lit(int(resolution))).cast("long")
    keyed = df.withColumn(BUCKET_COL, bucket)
    if "_point" not in cols:
        keyed = keyed.withColumn("_point", F.lit(1.0))
        has_col = lambda n: n in cols or n == "_point"

    group_cols = [c.alias(n) for n, c in group_dims] + [F.col(BUCKET_COL)]
    dim_resolve = lambda name: F.col(name) if name in keyed.columns else F.lit(None)

    scalar_aggs: list[Column] = []
    hists: list[tuple[StateSpec, Column]] = []
    for e, specs in registry.states():
        conds, leaf = _split_gates(e)
        gate = _gate(conds, dim_resolve)
        for spec, (_suffix, _merge, value, agg) in zip(specs, _kind(leaf).cols):
            v = _raw_value(value, has_col)
            if gate is not None:
                v = F.when(dim_truth(gate), v)
            if agg is None:
                hists.append((spec, v))
            else:
                scalar_aggs.append(agg(v).alias(spec.col))

    out = keyed.groupBy(*group_cols).agg(*scalar_aggs)
    for spec, v in hists:
        lo, hi, precision = spec.meta
        assembled = hist_agg(keyed, [*group_dims, BUCKET_COL], v, lo, hi, precision, spec.col)
        out = out.join(assembled, on=[n for n, _ in group_dims] + [BUCKET_COL], how="left")

    return out, registry


def merge_states(
    state_df: DataFrame,
    registry: StateRegistry,
    out_dims: list[tuple[str, Column]],
    resolution_in: float,
    resolution_out: float,
    anchor: float = 0.0,
) -> DataFrame:
    """Re-aggregate stored state rows to coarser buckets / different dims by
    merging accumulator states (reference SubMerge). ``anchor`` offsets the
    output grid (0 = epoch-anchored; a window-truncated resolution anchors
    at ASOF so the single window bucket is [asof, until), reference
    planner/local.go:152–157 with until-anchored sequences)."""
    ratio = resolution_out / resolution_in
    if resolution_out < resolution_in or abs(ratio - round(ratio)) > 1e-9:
        raise ValueError(
            f"query resolution {resolution_out}s must be a multiple of table resolution {resolution_in}s"
        )
    b = F.col(BUCKET_COL) - F.lit(int(anchor))
    bucket = (b - b % F.lit(int(resolution_out)) + F.lit(int(anchor))).cast("long")
    keyed = state_df.withColumn("__qbucket", bucket)
    aggs: list[Column] = []
    for _agg, specs in registry.states():
        for spec in specs:
            null_type, merge = _MERGES[spec.merge]
            # a live-ALTERed table before its first post-ALTER ingest: the
            # new field's state column exists in NO part yet. Merge a typed
            # null instead — every merge kind is null-absorbing, so the
            # field reads as absent/zero exactly like pre-ALTER buckets do
            # once new parts arrive.
            src = F.col(spec.col) if spec.col in keyed.columns else F.lit(None).cast(null_type)
            aggs.append(merge(src, spec.meta).alias(spec.col))
    group_cols = [c.alias(n) for n, c in out_dims] + [F.col("__qbucket").alias(BUCKET_COL)]
    if not aggs:
        # every selected expression was constant/absent (e.g. `SELECT
        # nosuch FROM t`): Spark's agg() rejects an empty list, but the
        # group keys must still materialize — reference semantics return
        # one row per group with the absent field NULL
        aggs = [F.count(F.lit(1)).alias("__grp_rows")]
    return keyed.groupBy(*group_cols).agg(*aggs)


def finalize_expr(
    e: MExpr, registry: StateRegistry, field_lookup, shift_cols=None
) -> Column:
    """Compile a (rewritten) field expression over merged state columns.

    ``shift_cols`` maps SHIFT nodes to the hidden columns the engine's
    shift self-join materialized — with it, SHIFT may appear ANYWHERE in
    an expression (HAVING, arithmetic, ORDER BY aliases), matching the
    reference where a shifted expr is an ordinary field
    (expr/shift.go; sql_test.go's `SHIFT(SUM(s), '1h') AS shifted`)."""
    if isinstance(e, MConst):
        # value None = the reference's "absent field" (expr/field.go:44-47)
        return F.lit(e.value) if e.value is not None else F.lit(None).cast("double")
    if isinstance(e, MFieldRef):
        return finalize_expr(field_lookup(e.name), registry, field_lookup, shift_cols)
    if isinstance(e, (MAgg, MIf, MPresence)) or (
        isinstance(e, MPercentile) and e.precision is not None
    ):
        kind = _kind(_split_gates(e)[1])
        specs = registry.specs.get(agg_key(e))
        if specs is None:
            raise ValueError(f"no state for {e!r}")
        return kind.read([F.col(s.col) for s in specs])
    if isinstance(e, MPercentile):  # 2-arg re-read over a stored percentile
        specs = registry.specs.get(agg_key(e.inner))
        if specs is None:
            raise ValueError(f"2-arg PERCENTILE: no stored percentile for {e.inner!r}")
        lo, _hi, precision = specs[0].meta
        return hist_quantile(F.col(specs[0].col), e.p, lo, precision)
    if isinstance(e, MBounded):
        v = finalize_expr(e.inner, registry, field_lookup, shift_cols)
        return F.when((v >= e.lo) & (v <= e.hi), v)
    if isinstance(e, MBin):
        return _arith(
            e.op,
            finalize_expr(e.left, registry, field_lookup, shift_cols),
            finalize_expr(e.right, registry, field_lookup, shift_cols),
        )
    if isinstance(e, MLog):
        v = finalize_expr(e.inner, registry, field_lookup, shift_cols)
        # LOG2/LOG10 as ln(x)/ln(k): the native log2/log10 builtins differ
        # in the last ulp between the JVM and libm (DuckDB), while ln agrees
        # bit-for-bit on both (see q20_log_functions) — and the last-ulp
        # behavior of the reference's Go math.Log2 is not observable
        # cross-engine anyway
        return {
            "LN": F.log(v),
            "LOG2": F.log(v) / F.log(F.lit(2.0)),
            "LOG10": F.log(v) / F.log(F.lit(10.0)),
        }[e.kind]
    if isinstance(e, MShift):
        if shift_cols is not None and e in shift_cols:
            # absent shifted bucket reads as 0 (the join's left-miss rule)
            return F.coalesce(F.col(shift_cols[e]), F.lit(0.0))
        raise ValueError("SHIFT is planned as a join: no materialized shift column for this node")
    if isinstance(e, MCrosshift):
        raise ValueError("CROSSHIFT is a select-level macro, not an inline expression")
    raise TypeError(f"unhandled finalize expr {e!r}")
