"""Driver-facing query inventory: every implemented operator from
SURVEY.md §2 (plus the LLM-data-pipeline extensions) as a
(spark_impl, oracle_sql) pair, one module per domain:

- ``common``: the ``query`` registry, the oracle macros and the shared
  rules, each Spark definition beside its DuckDB-SQL twin;
- ``zeno``: core ZenoDB semantics and the dialect-engine entries (``z*``);
- ``events``: event-stream analytics;
- ``star``: TPC-H star-schema shapes;
- ``text``: token statistics, language id and lexical retrieval;
- ``quality``: quality filters, sampling and data-mix curation;
- ``duplicates``: exact and near-duplicate detection;
- ``vectors``: nearest neighbours, clustering and media;
- ``statistics``: statistical tests and estimators;
- ``streaming``: Structured Streaming and file-format round trips.

Contract (see __spark_entry__.py): each Spark impl takes (spark, sf_dir) and
returns a DataFrame whose column names AND values match the DuckDB oracle.

Determinism design (every module follows these rules so the driver's
order-insensitive value-hash comparison is exact, not approximate):

- fractional SUM/AVG go through integer "cents" (floor(x·100+0.5) summed as
  BIGINT, divided back at the end) — integer addition is associative, so
  results are identical under any partitioning, in both engines;
- ratios are ratios-of-exact-integers (identical double division);
- time buckets are BIGINT epoch seconds (identical floor arithmetic);
- percentiles are either exact interpolated (percentile ≡ quantile_cont,
  verified bit-equal) or integer histogram-sketch reads;
- string/hash ops use md5 + regex constructs verified to agree between
  Spark (Java regex) and DuckDB (RE2) for the patterns used;
- any ln()/log() output is quantized to integer micro-nats per DISTINCT
  key (token, bigram, idf term, sketch bin) BEFORE entering a sum, so
  aggregate scores are exact integer sums with one trailing IEEE division
  (q62/q64/q71/q72); sqrt/division chains on exact-integer inputs are
  fixed IEEE sequences and need no quantization (q70);
- rankings/top-k always order on exact integers (cents, micro-units) with
  an id tie-break, never on recomputed floats;
- NO engine-side round(x, 9) on integer-ratio outputs: both engines emit
  the identical raw double and the driver's canonicalizer rounds once, in
  Python — engine round() implementations disagree exactly at the decimal
  half-points integer ratios frequently produce. Transcendental outputs
  (ln: q20, z12) are the one exception: they differ by 1 ulp across
  engines, never sit on decimal halves, and therefore round on BOTH sides;
- deterministic sampling uses md5-uniform (conv of the hex prefix,
  ``common.md5_uniform``), never rand() (q37/q58/q65).

DuckDB porting notes: no WITH ORDINALITY — use `unnest(range(0, len(v)))
AS u(i)` plus 1-based `v[i+1]`; list slices `v[a:b]` are 1-based inclusive
(matching F.slice(v, a, b-a+1)).
"""

from __future__ import annotations

from zenodb_spark.catalog import load_table
from zenodb_spark.queries import (  # noqa: F401  (importing registers, in this order)
    zeno,
    events,
    star,
    text,
    quality,
    duplicates,
    vectors,
    statistics,
    streaming,
)
from zenodb_spark.queries.common import ORACLE, QUERIES
from zenodb_spark.queries.zeno import _ENGINE_CACHE, _ENGINE_SCHEMA, _engine_db, q01_sum_period

__all__ = [
    "ORACLE",
    "QUERIES",
    "_ENGINE_CACHE",
    "_ENGINE_SCHEMA",
    "_engine_db",
    "load_table",
    "q01_sum_period",
]
