"""The registry every domain module adds to, and the rules more than one
query uses. Each rule has one Spark definition here or in ``operators/`` and
one DuckDB-SQL twin here: an upper-case template formatted with the SQL
operand as ``{x}``, or a ``*_sql`` function.

- ``functions.measures.cents`` / ``C``
- ``timeops.bucket_epoch`` / ``BUCKET``
- ``dedup.normalize_text`` / ``NORM``
- ``tokenize`` / ``TOKENIZE``, and ``tokenize_nonempty`` /
  ``TOKENIZE_NONEMPTY``. The two differ on empty text (one empty token
  against none), so a query never switches between them.
- ``md5_uniform`` / ``MD5_UNIFORM``
- ``classifier_features`` and ``classifier_logit`` / ``CLASSIFIER_FEATURES``
  and ``CLASSIFIER_LOGIT``
- ``dedup.shingles`` / ``shingle_sql``
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from zenodb_spark.operators.dedup import normalize_text

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# DuckDB oracle macros (kept in lockstep with the Spark-side helpers)
C = "CAST(floor({x}*100+0.5) AS BIGINT)"  # cents() equivalent
BUCKET = "CAST(floor(epoch(ts)/{p})*{p} AS BIGINT)"  # bucket_epoch() equivalent
NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"  # normalize_text()
TOKENIZE = f"string_split({NORM}, ' ')"  # tokenize()
TOKENIZE_NONEMPTY = f"list_filter({TOKENIZE}, x -> len(x) > 0)"  # tokenize_nonempty()
MD5_UNIFORM = "CAST(('0x' || substr(md5({x}), 1, {n})) AS BIGINT)"  # md5_uniform()


def query(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def tokenize(text: Column | str, sep: str = " ") -> Column:
    """Tokens of ``normalize_text(text)`` split on the regex ``sep``; empty
    text gives ``[""]``."""
    return F.split(normalize_text(text), sep)


def tokenize_nonempty(text: Column | str) -> Column:
    """``tokenize`` without empty tokens; empty text gives ``[]``."""
    return F.filter(tokenize(text), lambda x: F.length(x) > 0)


def md5_uniform(x: Column | str, n_hex: int, type_: str = "long") -> Column:
    """The first ``n_hex`` hex digits of ``md5(x)`` as an integer: a
    deterministic uniform draw in [0, 16**n_hex) for sampling and bucketing,
    never ``rand()``."""
    return F.conv(F.substring(F.md5(x), 1, n_hex), 16, 10).cast(type_)


CLASSIFIER_COLUMNS = ("n_uniq", "n_tok", "n_chars", "n_sym", "n_dig")


def classifier_features(toks: Column, names: tuple[str, ...] = CLASSIFIER_COLUMNS) -> list[Column]:
    """Inputs of the fixed-weight linear quality classifier (q160), as the
    columns ``names`` in that order: distinct and total tokens of ``toks``
    (``tokenize_nonempty("text")``), and characters, symbol characters and
    digits of ``text``. Every ratio the logit takes is a ratio of exact
    integers."""
    cols = {
        "n_uniq": F.size(F.array_distinct(toks)),
        "n_tok": F.size(toks),
        "n_chars": F.length("text"),
        "n_sym": F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9 ]", "")),
        "n_dig": F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")),
    }
    return [cols[name].alias(name) for name in names]


def classifier_logit(n_uniq: str = "n_uniq", n_tok: str = "n_tok") -> Column:
    """The classifier's logit over the ``classifier_features`` columns: one
    fixed left-associated IEEE expression, so both engines agree bit for bit
    without quantization."""
    return (
        F.lit(-1.5)
        + F.lit(3.0) * (F.col(n_uniq).cast("double") / F.col(n_tok))
        - F.lit(0.2) * (F.col("n_chars").cast("double") / F.col(n_tok))
        - F.lit(4.0) * (F.col("n_sym").cast("double") / F.col("n_chars"))
        - F.lit(2.0) * (F.col("n_dig").cast("double") / F.col("n_chars"))
    )


# classifier_features() of `text`, with the token list itself as `toks`
CLASSIFIER_FEATURES = f"""{TOKENIZE_NONEMPTY.format(x='text')} AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig"""
# classifier_logit() over CLASSIFIER_FEATURES
CLASSIFIER_LOGIT = """-1.5 + 3.0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               - 0.2 * (CAST(n_chars AS DOUBLE) / len(toks))
               - 4.0 * (CAST(n_sym AS DOUBLE) / n_chars)
               - 2.0 * (CAST(n_dig AS DOUBLE) / n_chars)"""

_NT = NORM.format(x="text")


def shingle_sql(n: int = 3) -> str:
    """Twin of ``dedup.shingles``: the distinct word ``n``-gram shingles of
    each document's tokens, as (doc, shingle) rows."""
    return f"""
      SELECT doc, shingle FROM (
        SELECT doc_id AS doc, unnest(list_distinct(
          [array_to_string(t[i+1:i+{n}], ' ') for i in range(greatest(len(t)-{n - 1}, 1))]
        )) AS shingle
        FROM (SELECT doc_id, {TOKENIZE.format(x='text')} AS t FROM documents)
      ) WHERE len(shingle) > 0
"""
