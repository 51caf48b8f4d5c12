"""IR → DataFrame compiler.

Two lowering paths share one expression walker:

1. **raw aggregation** (`aggregate_raw`) — a table definition (or the outer
   query of a FROM-subquery) aggregating raw points into *mergeable state
   columns*: SUM/COUNT/MIN/MAX keep their value, AVG keeps (sum,count),
   WAVG keeps (Σvw, Σw), PERCENTILE keeps a bounded-histogram array.
   This is the reference's ingest path (insert.go:175–268 +
   bytetree update) expressed as one Spark hash aggregate.

2. **state merge** (`merge_states`) — a query over a stored table re-groups
   state columns to coarser buckets / fewer dims by *merging* states
   (sum+sum, min∧min, histogram ⊕) — the reference's SubMerge
   (expr/aggregate.go:97–109, encoding/seq.go:243–320). Spark's partial
   aggregation does exactly this for the scalar states; histograms merge
   with an element-wise array fold.

`finalize` then turns merged states into flat field values (AVG = sum/count,
percentile = quantile read, arithmetic, comparisons, divide-by-zero
convention) — the reference's Flatten + expr Get (core/flatten.go,
expr/avg.go:101–114).

Scale notes: every path is a plain groupBy over (dims, bucket) — map-side
combined, AQE-coalesced. No Python UDFs anywhere; histogram states are
arrays of longs handled by built-in higher-order functions.
"""

from __future__ import annotations

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
    merge: str  # sum | min | max | hist
    hist_meta: tuple | None = None  # (lo, hi, precision)


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


class StateRegistry:
    """Collects the distinct aggregate leaves of a set of field expressions
    and assigns state columns (dedup'd: `ii` and `COUNT(ii)` appearing in two
    fields share state)."""

    def __init__(self):
        self.specs: dict[str, list[StateSpec]] = {}
        self._agg_exprs: dict[str, MExpr] = {}

    def require(self, e: MExpr) -> list[StateSpec]:
        k = agg_key(e)
        if k not in self.specs:
            idx = len(self.specs)
            kind = _leaf_kind(e)
            if k == agg_key(MAgg("SUM", MFieldRef("_point"), None)):
                # the implicit points counter (`_points` compiles to
                # SUM(_point)) registers AFTER the explicit fields, so an
                # index-carrying name would shift on every field APPEND and
                # make live ALTER re-bind it; one fixed position-independent
                # column serves every un-gated reader (gated variants carry
                # their own keys and stay indexed — their gates re-derive
                # from this shared source only at query time).
                cols = [StateSpec(k, "_s__points", "sum")]
            elif kind in ("SUM", "COUNT"):
                cols = [StateSpec(k, _state_name(idx, kind.lower()), "sum")]
            elif kind == "MIN":
                cols = [StateSpec(k, _state_name(idx, "min"), "min")]
            elif kind == "MAX":
                cols = [StateSpec(k, _state_name(idx, "max"), "max")]
            elif kind == "AVG":
                cols = [
                    StateSpec(k, _state_name(idx, "sum"), "sum"),
                    StateSpec(k, _state_name(idx, "count"), "sum"),
                ]
            elif kind == "WAVG":
                cols = [
                    StateSpec(k, _state_name(idx, "wsum"), "sum"),
                    StateSpec(k, _state_name(idx, "wwt"), "sum"),
                ]
            elif kind == "PERCENTILE":
                leaf = _find_leaf(e)
                meta = (leaf.lo, leaf.hi, leaf.precision)
                cols = [StateSpec(k, _state_name(idx, "hist"), "hist", meta)]
            elif kind == "COUNTDISTINCT":
                # mergeable EXACT distinct state: the sorted array of
                # distinct value strings. Mergeable by union; exact at any
                # scale, which is what the oracle gate demands (an earlier
                # HLL-sketch state drifted from the exact count once groups
                # left coupon mode at sf0.1). State size grows with group
                # cardinality — the documented trade, enforced by
                # DSET_MAX_MEMBERS (loud runtime error past the cap); for
                # unbounded-cardinality telemetry use the KMV/HLL operator
                # library (q140/q172), which owns the approximate contract.
                # Suffix carries the state-format version: v2 = sorted
                # string array with -0.0 normalized; a stored v1 state
                # (HLL binary under `__dset`) fails loudly on column-name
                # mismatch instead of silently mis-merging.
                #
                # COUNTDISTINCT(x, k) — 2-arg form, k in the weight slot —
                # selects the BOUNDED approximate state instead: the k
                # lexicographically-smallest md5 hex digests of the
                # distinct value strings (KMV, Beyer et al. SIGMOD'07, the
                # same deterministic construction as operators/sketch.py).
                # O(k) state per group at any cardinality; exact below k
                # distinct members; (k-1)/h_(k) estimate above, ~1/sqrt(k)
                # error. Merge = k smallest of the union, which is EXACTLY
                # the sketch of the union (the k-min of A∪B lives in the
                # k-mins of A and B), so cross-resolution re-merge loses
                # nothing. Version-tagged suffix `kmv1n{k}`: a future
                # layout change bumps the tag and trips the engine's
                # stale-state gate instead of silently mis-merging; states
                # with different k likewise never share a column.
                leaf = _find_leaf(e)
                if leaf.weight is not None:
                    if not isinstance(leaf.weight, MConst):
                        raise ValueError(
                            "COUNTDISTINCT(x, k): k must be a literal"
                        )
                    kk = int(leaf.weight.value)
                    if kk < 2 or kk != leaf.weight.value:
                        raise ValueError(
                            "COUNTDISTINCT(x, k): k must be an integer >= 2"
                        )
                    cols = [
                        StateSpec(
                            k, _state_name(idx, f"kmv1n{kk}"), "kmv", (kk,)
                        )
                    ]
                else:
                    cols = [StateSpec(k, _state_name(idx, "dsetv2"), "dset")]
            elif kind == "POINTS":
                # FIXED name, no registration index: the implicit points
                # counter registers AFTER the explicit fields, so an
                # index-carrying name would shift on every field APPEND and
                # make live ALTER re-bind it. Explicit fields keep indexed
                # names (append-only stability); the one implicit state is
                # position-independent by construction.
                cols = [StateSpec(k, "_s__points", "sum")]
            else:
                raise ValueError(f"cannot make state for {e!r}")
            self.specs[k] = cols
            self._agg_exprs[k] = e
        return self.specs[k]

    def all_specs(self) -> list[StateSpec]:
        return [s for specs in self.specs.values() for s in specs]

    def expr_for(self, key: str) -> MExpr:
        return self._agg_exprs[key]


def _find_leaf(e: MExpr):
    """Unwrap IF gating to the aggregate/percentile leaf."""
    while isinstance(e, MIf):
        e = e.inner
    return e


def _leaf_kind(e: MExpr) -> str:
    leaf = _find_leaf(e)
    if isinstance(leaf, MAgg):
        return leaf.kind
    if isinstance(leaf, MPercentile):
        return "PERCENTILE"
    if isinstance(leaf, MPresence):
        return "POINTS"
    raise ValueError(f"not an aggregate leaf: {e!r}")


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
            leaf = _find_leaf(target)
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


def _hist_bin_expr(v: Column, lo: float, hi: float, precision: int) -> Column:
    scale = float(10**precision)
    nbins = int(round((hi - lo) * scale)) + 1
    idx = F.floor((v - F.lit(lo)) * scale + F.lit(0.5)).cast("long")
    return F.when((v >= lo) & (v <= hi), F.least(idx, F.lit(nbins - 1)))


def _raw_state_agg(e: MExpr, spec: StateSpec, has_col, dim_resolve) -> list[Column]:
    """Aggregate Columns producing this leaf's state from raw points."""
    gate = None
    leaf = e
    while isinstance(leaf, MIf):
        gate = (
            compile_dim(leaf.cond, dim_resolve)
            if gate is None
            else gate & compile_dim(leaf.cond, dim_resolve)
        )
        leaf = leaf.inner

    def gated(v: Column) -> Column:
        return F.when(dim_truth(gate), v) if gate is not None else v

    if isinstance(leaf, MPresence):
        return [F.count(gated(F.lit(1))).cast("double").alias(spec.col)]
    if isinstance(leaf, MPercentile):
        raise AssertionError("percentile states are built by hist join, not here")
    assert isinstance(leaf, MAgg)
    v = gated(_raw_value(leaf.arg, has_col))
    if leaf.kind == "SUM":
        return [F.coalesce(F.sum(v), F.lit(0.0)).alias(spec.col)]
    if leaf.kind == "COUNT":
        return [F.count(v).cast("double").alias(spec.col)]
    if leaf.kind == "MIN":
        return [F.min(v).alias(spec.col)]
    if leaf.kind == "MAX":
        return [F.max(v).alias(spec.col)]
    if leaf.kind == "COUNTDISTINCT":
        # string-cast for a type-uniform set (dialect values are doubles;
        # JVM double→string is deterministic); sorted for a canonical
        # stored state. `+ 0.0` first: IEEE -0.0 + 0.0 = 0.0, so the two
        # zeros collapse to one member the way SQL DISTINCT (and the
        # oracle) treats them — without it "-0.0"/"0.0" would be two
        # distinct strings.
        if spec.merge == "kmv":
            kk = spec.hist_meta[0]
            # md5 BEFORE collect_set: the set dedups by digest (same
            # members, hashes being injective up to md5 collisions), and
            # the sort+slice keeps only the k smallest digests.
            arr = F.slice(
                F.array_sort(
                    F.collect_set(F.md5((v + F.lit(0.0)).cast("string")))
                ),
                1,
                kk,
            )
            return [arr.alias(spec.col)]
        arr = F.array_sort(F.collect_set((v + F.lit(0.0)).cast("string")))
        return [_dset_guard(arr).alias(spec.col)]
    raise AssertionError(spec)


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
    leaves.append(MAgg("SUM", MFieldRef("_point"), None))  # _points
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
) -> tuple[DataFrame, StateRegistry]:
    """Aggregate raw points to one state row per (dims…, bucket).

    Fields' aggregate leaves become state columns; percentile leaves are
    computed by a parallel two-level histogram aggregation joined back on
    the group key (co-partitioned join).
    """
    registry = build_registry(fields, registry)
    cols = set(df.columns)
    has_col = lambda n: n in cols
    field_lookup = raw_field_lookup(fields)

    bucket = (
        F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.col(ts_col)) % F.lit(int(resolution))
    ).cast("long")
    keyed = df.withColumn(BUCKET_COL, bucket)
    if "_point" not in cols:
        keyed = keyed.withColumn("_point", F.lit(1.0))
        has_col = lambda n: n in cols or n == "_point"

    group_cols = [c.alias(n) for n, c in group_dims] + [F.col(BUCKET_COL)]
    dim_resolve = lambda name: F.col(name) if name in keyed.columns else F.lit(None)

    scalar_aggs: list[Column] = []
    hist_specs: list[tuple[MExpr, StateSpec]] = []
    for key, specs in registry.specs.items():
        e = registry.expr_for(key)
        if specs[0].merge == "hist":
            hist_specs.append((e, specs[0]))
            continue
        if _leaf_kind(e) == "AVG":
            leaf = _find_leaf(e)
            sum_spec, cnt_spec = specs
            sum_e = MAgg("SUM", leaf.arg, None)
            cnt_e = MAgg("COUNT", leaf.arg, None)
            sum_e, cnt_e = _regate(e, sum_e), _regate(e, cnt_e)
            scalar_aggs += _raw_state_agg(sum_e, sum_spec, has_col, dim_resolve)
            scalar_aggs += _raw_state_agg(cnt_e, cnt_spec, has_col, dim_resolve)
        elif _leaf_kind(e) == "WAVG":
            leaf = _find_leaf(e)
            wsum_spec, wwt_spec = specs
            vw = MBin("*", leaf.arg, leaf.weight)
            scalar_aggs += _raw_state_agg(_regate(e, MAgg("SUM", vw, None)), wsum_spec, has_col, dim_resolve)
            scalar_aggs += _raw_state_agg(_regate(e, MAgg("SUM", leaf.weight, None)), wwt_spec, has_col, dim_resolve)
        else:
            scalar_aggs += _raw_state_agg(e, specs[0], has_col, dim_resolve)

    out = keyed.groupBy(*group_cols).agg(*scalar_aggs)

    for e, spec in hist_specs:
        leaf = _find_leaf(e)
        lo, hi, precision = spec.hist_meta
        gate = None
        g = e
        while isinstance(g, MIf):
            c = compile_dim(g.cond, dim_resolve)
            gate = c if gate is None else gate & c
            g = g.inner
        v = _raw_value(leaf.inner, has_col)
        if gate is not None:
            v = F.when(dim_truth(gate), v)
        binned = keyed.withColumn("__bin", _hist_bin_expr(v, lo, hi, precision)).filter(
            F.col("__bin").isNotNull()
        )
        per_bin = binned.groupBy(
            *[c.alias(n) for n, c in group_dims], F.col(BUCKET_COL), F.col("__bin")
        ).agg(F.count(F.lit(1)).alias("__c"))
        # SPARSE state: map<bin,count> of occupied bins only. A dense
        # array<long> of nbins (up to 10k elements, ~80 KB per cell at
        # precision 1 over a 0..1000 range) made every cell and every merge
        # pay for the full bounded range; occupied-bins-only matches the
        # reference's HDR sparseness (expr/percentile.go counts array is
        # compacted on export).
        assembled = per_bin.groupBy(*[F.col(n) for n, _ in group_dims], F.col(BUCKET_COL)).agg(
            F.map_from_entries(F.collect_list(F.struct("__bin", "__c"))).alias(spec.col)
        )
        out = out.join(assembled, on=[n for n, _ in group_dims] + [BUCKET_COL], how="left")

    return out, registry


def _regate(original: MExpr, new_leaf: MExpr) -> MExpr:
    """Re-wrap a substituted leaf in the IF gates of the original."""
    gates = []
    e = original
    while isinstance(e, MIf):
        gates.append(e.cond)
        e = e.inner
    for cond in reversed(gates):
        new_leaf = MIf(cond, new_leaf)
    return new_leaf


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
    emitted: set[str] = set()
    for spec in registry.all_specs():
        # distinct query keys can share one stored state column (e.g.
        # `_points` and the `_` presence magic both read the points
        # counter); merge it once — finalize reads it by column name
        if spec.col in emitted:
            continue
        emitted.add(spec.col)
        if spec.col in keyed.columns:
            src = F.col(spec.col)
        else:
            # live-ALTERed table before its first post-ALTER ingest: the new
            # field's state column exists in NO part yet. Merge a typed null
            # instead — every merge kind is null-absorbing, so the field
            # reads as absent/zero exactly like pre-ALTER buckets do once
            # new parts arrive.
            src = F.lit(None).cast(
                {
                    "sum": "double",
                    "min": "double",
                    "max": "double",
                    "dset": "array<string>",
                    "kmv": "array<string>",
                    "hist": "map<bigint,bigint>",
                }[spec.merge]
            )
        if spec.merge == "sum":
            aggs.append(F.sum(src).alias(spec.col))
        elif spec.merge == "min":
            aggs.append(F.min(src).alias(spec.col))
        elif spec.merge == "max":
            aggs.append(F.max(src).alias(spec.col))
        elif spec.merge == "dset":
            merged = F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(src)))
            )
            aggs.append(_dset_guard(merged).alias(spec.col))
        elif spec.merge == "kmv":
            # k smallest of the union of the part sketches == the sketch
            # of the union (lossless sketch merge; see StateRegistry).
            merged = F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(src)))),
                1,
                spec.hist_meta[0],
            )
            aggs.append(merged.alias(spec.col))
        elif spec.merge == "hist":
            empty = F.expr("CAST(map() AS map<bigint,bigint>)")
            aggs.append(
                F.aggregate(
                    F.collect_list(src),
                    empty,
                    lambda acc, x: F.map_zip_with(
                        acc,
                        x,
                        lambda _k, v1, v2: F.coalesce(v1, F.lit(0).cast("long"))
                        + F.coalesce(v2, F.lit(0).cast("long")),
                    ),
                ).alias(spec.col)
            )
        else:
            raise AssertionError(spec)
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
    if isinstance(e, MPresence):
        k = agg_key(e)
        if k in registry.specs:
            c = F.col(registry.specs[k][0].col)
            return F.when(F.coalesce(c, F.lit(0.0)) > 0, F.lit(1.0)).otherwise(F.lit(0.0))
        return F.lit(1.0)
    if isinstance(e, (MAgg, MIf)) or (isinstance(e, MPercentile) and e.precision is not None):
        kind = _leaf_kind(e)
        specs = registry.specs.get(agg_key(e))
        if specs is None:
            raise ValueError(f"no state for {e!r}")
        if kind == "POINTS":
            # `_` presence magic: 1 when any (gated) point present
            c = F.coalesce(F.col(specs[0].col), F.lit(0.0))
            return F.when(c > 0, F.lit(1.0)).otherwise(F.lit(0.0))
        if kind == "SUM":
            return F.coalesce(F.col(specs[0].col), F.lit(0.0))
        if kind == "COUNT":
            return F.coalesce(F.col(specs[0].col), F.lit(0.0))
        if kind in ("MIN", "MAX"):
            return F.col(specs[0].col)
        if kind == "AVG":
            # try_divide: AVG of an empty/unset group reads as null under
            # ANSI mode too (the reference reads unset as NaN-ish 0)
            return F.try_divide(F.col(specs[0].col), F.col(specs[1].col))
        if kind == "WAVG":
            return F.try_divide(F.col(specs[0].col), F.col(specs[1].col))
        if kind == "PERCENTILE":
            leaf = _find_leaf(e)
            lo, hi, precision = specs[0].hist_meta
            return _hist_quantile_col(F.col(specs[0].col), leaf.p, lo, precision)
        if kind == "COUNTDISTINCT":
            c = F.col(specs[0].col)
            if specs[0].merge == "kmv":
                # below k distinct members the sketch IS the set → exact;
                # at k, the classic (k-1)/h_(k) estimator with h_(k) read
                # from the first 8 hex chars of the k-th smallest digest
                # (32 bits / 2^32 — the same convention as the KMV operator
                # library, exactly reproducible in any engine with md5).
                kk = specs[0].hist_meta[0]
                # floor at 2^-32 so a k-th digest with 8 leading zero hex
                # chars (P ≈ 2^-32 per read) estimates 2^32·(k-1) instead
                # of nulling the group — keeps the estimator total
                frac = F.greatest(
                    F.conv(
                        F.substring(F.element_at(c, kk), 1, 8), 16, 10
                    ).cast("long")
                    / F.lit(4294967296.0),
                    F.lit(2.0**-32),
                )
                return (
                    F.when(c.isNull(), F.lit(0.0))
                    .when(F.size(c) < kk, F.size(c).cast("double"))
                    .otherwise(F.lit(float(kk - 1)) / frac)
                )
            return F.when(
                c.isNotNull(), F.size(c).cast("double")
            ).otherwise(F.lit(0.0))
        raise AssertionError(kind)
    if isinstance(e, MPercentile):  # 2-arg re-read over a stored percentile
        specs = registry.specs.get(agg_key(e.inner))
        if specs is None:
            raise ValueError(f"2-arg PERCENTILE: no stored percentile for {e.inner!r}")
        lo, hi, precision = specs[0].hist_meta
        return _hist_quantile_col(F.col(specs[0].col), e.p, lo, precision)
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


def _hist_quantile_col(state: Column, p: float, lo: float, precision: int) -> Column:
    """Value-at-quantile over the SPARSE map state: sort occupied bins,
    cumulative-scan to the ceil(p% · total) target."""
    scale = float(10**precision)
    entries = F.sort_array(F.map_entries(state))
    total = F.aggregate(entries, F.lit(0).cast("long"), lambda a, x: a + x["value"])
    # target in the accumulator, not lambda-captured: captured expressions
    # re-evaluate per element (interpreted), turning the read O(bins²) —
    # see operators/percentile.py:hist_quantile for the measured numbers.
    target = F.ceil(total * F.lit(p) / F.lit(100.0)).cast("long")
    folded = F.aggregate(
        entries,
        F.struct(
            target.alias("target"),
            F.lit(0).cast("long").alias("cum"),
            F.lit(-1).cast("long").alias("ans"),
        ),
        lambda acc, x: F.struct(
            acc["target"].alias("target"),
            (acc["cum"] + x["value"]).alias("cum"),
            F.when(
                (acc["ans"] < 0) & (acc["cum"] + x["value"] >= acc["target"]),
                x["key"].cast("long"),
            )
            .otherwise(acc["ans"])
            .alias("ans"),
        ),
    )
    return F.when(folded["ans"] >= 0, folded["ans"] / F.lit(scale) + F.lit(lo))
