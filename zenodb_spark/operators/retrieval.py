"""Distributed lexical retrieval: BM25 scoring over a document corpus.

Extension beyond the reference (no retrieval surface exists there): the
text-side counterpart of the ANN operators — the standard first-stage
retriever of a RAG / data-curation pipeline, expressed as pure DataFrame
aggregations and joins (no UDFs, no driver-side index).

Cross-engine determinism follows the repo convention: every ln() output is
quantized to integer micro-units per DISTINCT token (idf), every per-term
score is quantized before the per-document summation, so aggregate values
are exact integer sums and rank order is defined on integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zenodb_spark.operators.dedup import normalize_text
from zenodb_spark.operators.util import share, spread


# regime planner bounds for bm25_topk's dense fast path
DENSE_POSTING_THRESHOLD = 5_000_000  # est. posting-join rows to trip densify
DENSE_MAX_VOCAB = 4_096  # query-vocab width a dense block matrix may take
DENSE_MAX_QENTRIES = 2_000_000  # (qid, tok) pairs broadcastable to tasks


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "qid",
    qtext_col: str = "text",
    k1: float = 1.5,
    b: float = 0.75,
    topk: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """Top-k corpus documents per query by Okapi BM25.

    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Robertson–Sparck Jones,
    the Lucene form — always positive); score(q,d) = Σ_t idf·tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)).

    Two physical regimes, same integer scores (``mode``: auto | posting |
    dense):

    - **posting** (sparse vocab — real Zipf corpora): the query side joins
      the tf frame on token — a shuffle of Σ_t qcount(t)·df(t) rows
      (Catalyst pushes the query-token semi-join into the scan under AQE);
      ranking is a per-query top-k window on integer scores (map-side
      WindowGroupLimit prunes to k rows per partition before the final
      exchange). No driver-side index; the inverted index IS the tf frame.
    - **dense** (tiny shared vocab — every doc matches every query term, so
      the posting join degenerates to n_q·n_docs·|q| rows): per-doc integer
      term scores stay (doc, tok, s_micro) rows; the query set densifies to
      an n_q × |V| 0/1 matrix broadcast to tasks; each doc-hashed partition
      builds its block score matrix and computes S @ Qᵀ in int64 numpy
      (exact — the same s_micro integers summed), emitting only its local
      top-k per query under the global (score desc, doc asc) order, so the
      final window ranks n_partitions·k rows per query instead of n_docs.
      ``auto`` picks dense only when the estimated posting volume exceeds
      DENSE_POSTING_THRESHOLD and the query matrix fits the broadcast caps
      — at 100 TB a Zipf corpus stays on the posting path; the dense path
      exists for degenerate/templated vocabularies where the posting join
      is the scale bug (measured 80× per 10× data on the 31-word synthetic
      corpus before this).
    """
    toks = spread(corpus).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    if mode == "auto":
        # the auto planner's volume estimate is a SEPARATE action whose
        # df_t subtree would recompute the whole corpus tokenization that
        # the scoring action then computes again (within ONE action
        # Catalyst's ReusedExchange dedupes the tf shuffle; across actions
        # nothing does — measured ~1.7× on q64 at sf0.1). A lazy
        # checkpoint materializes tf once, on the estimate action, and the
        # scoring action reads the checkpointed blocks.
        tf = share(tf, mode="lazy")
    dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "tok",
        "avgdl",
        F.floor(
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    qtok = (
        queries.select(
            F.col(qid_col).alias("qid"),
            F.explode(F.split(normalize_text(qtext_col), " ")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )

    def _s_micro() -> F.Column:
        return (
            F.floor(
                (F.col("idf_micro").cast("double") / F.lit(1_000_000.0))
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s_micro")
        )

    if mode == "auto":
        est = qtok.join(df_t, "tok").agg(
            F.sum("df").alias("join_rows"),
            F.count_distinct("tok").alias("n_vocab"),
            F.count(F.lit(1)).alias("n_qentries"),
        ).collect()[0]
        dense = (
            (est["join_rows"] or 0) > DENSE_POSTING_THRESHOLD
            and est["n_vocab"] <= DENSE_MAX_VOCAB
            and est["n_qentries"] <= DENSE_MAX_QENTRIES
        )
    else:
        dense = mode == "dense"

    if dense:
        # Stream tf (round 6): with idf leftmost Catalyst streamed the
        # vocab-sized side — AQE coalesces its ~tens-of-KB shuffle to ONE
        # partition, so the per-posting s_micro arithmetic ran as a single
        # serial task. tf leftmost keeps the math at the token-frame's
        # parallelism at every scale. No broadcast hints: idf and dl must
        # stay free to shuffle when mode="dense" is forced on a corpus
        # whose vocabulary is not small.
        srow = (
            tf.join(dl, "doc")
            .join(idf, "tok")
            .select("doc", "tok", _s_micro())
        )
        scored = _bm25_dense_topk(
            srow, qtok, queries.schema[qid_col].dataType, topk
        )
    else:
        # Stream tf, not qtok/idf (round 6, measured): with qtok leftmost,
        # the streamed base was the vocab-sized idf/qtok chain whose
        # ~tens-of-KB shuffle AQE coalesces to ONE partition — the whole
        # posting fan-out (postings × matching qids), the s_micro floor
        # arithmetic and the partial (qid, doc) aggregate then ran as a
        # single serial task (~2 s at sf0.1 in q64 AND q187, event-log
        # measured, while 31 cores idled). With tf leftmost the same
        # codegen span runs at the token-frame's parallelism. Join order
        # is the only change — inner joins on the same keys, identical
        # rows out — and there are no new hints: at 100 TB every side is
        # large and Catalyst plans the same exchanges it would have.
        term = (
            tf.join(dl, "doc")
            .join(qtok, "tok")
            .join(idf, "tok")
            .select("qid", "doc", _s_micro())
        )
        scored = term.groupBy("qid", "doc").agg(
            F.sum("s_micro").alias("score_micro")
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score_micro"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "qid",
            "doc",
            (F.col("score_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "bm25"
            ),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _bm25_dense_topk(srow: DataFrame, qtok: DataFrame, qid_dtype, topk: int) -> DataFrame:
    """Dense-regime scoring: S_block @ Qᵀ in int64 numpy per doc-hashed
    partition, local (score desc, doc asc) top-k per query, exact.

    A (q, d) pair is a candidate iff q ∩ d ≠ ∅ — matched via a parallel
    0/1 presence matmul, so docs sharing only zero-scored terms still rank
    (bit-identical to the posting join) and docs sharing none never appear.
    """
    from pyspark.sql import types as T

    spark = srow.sparkSession
    # query matrix: small by the planner's caps (vocab ≤ DENSE_MAX_VOCAB,
    # entries ≤ DENSE_MAX_QENTRIES) — broadcast once, not per task
    q_entries = qtok.collect()
    if len(q_entries) > DENSE_MAX_QENTRIES:
        raise ValueError(
            f"bm25_topk dense mode: {len(q_entries)} (qid, tok) entries "
            f"exceed DENSE_MAX_QENTRIES={DENSE_MAX_QENTRIES}; the query "
            "matrix would not broadcast — use mode='posting'"
        )
    vocab = sorted({r["tok"] for r in q_entries})
    if not vocab:
        # empty query set: emit an empty frame of the output schema rather
        # than letting createDataFrame choke on schema inference
        from pyspark.sql import types as T

        return srow.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("qid", qid_dtype),
                    T.StructField("doc", T.LongType()),
                    T.StructField("score_micro", T.LongType()),
                ]
            ),
        )
    if len(vocab) > DENSE_MAX_VOCAB:
        raise ValueError(
            f"bm25_topk dense mode: query vocabulary {len(vocab)} exceeds "
            f"DENSE_MAX_VOCAB={DENSE_MAX_VOCAB}; per-partition score "
            "matrices would balloon — use mode='posting'"
        )
    tok_idx = {t: i for i, t in enumerate(vocab)}
    qids = sorted({r["qid"] for r in q_entries})
    qid_idx = {q: i for i, q in enumerate(qids)}
    import numpy as np

    Q = np.zeros((len(qids), len(vocab)), dtype="int64")
    for r in q_entries:
        Q[qid_idx[r["qid"]], tok_idx[r["tok"]]] = 1
    bc = spark.sparkContext.broadcast((qids, tok_idx, Q))

    vocab_df = F.broadcast(
        spark.createDataFrame([(t,) for t in vocab], ["tok"])
    )
    part = srow.join(vocab_df, "tok").repartition("doc")

    out_schema = T.StructType(
        [
            T.StructField("qid", qid_dtype),
            T.StructField("doc", T.LongType()),
            T.StructField("score_micro", T.LongType()),
        ]
    )

    def score_partition(batches):
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        qids_l, tok_idx_l, Qm = bc.value
        docs = pdf["doc"].unique()
        doc_pos = {d: i for i, d in enumerate(docs)}
        S = np.zeros((len(docs), Qm.shape[1]), dtype="int64")
        P = np.zeros_like(S)  # term presence (s_micro may be 0 yet count)
        di = pdf["doc"].map(doc_pos).to_numpy()
        ti = pdf["tok"].map(tok_idx_l).to_numpy()
        S[di, ti] = pdf["s_micro"].to_numpy()
        P[di, ti] = 1
        # chunk the query axis so block_docs × n_q never balloons
        out_q, out_d, out_s = [], [], []
        k = topk
        docs_arr = np.asarray(docs, dtype="int64")
        for lo in range(0, Qm.shape[0], 4096):
            Qc = Qm[lo : lo + 4096]
            scores = S @ Qc.T  # (docs, qchunk) exact int64
            overlap = P @ Qc.T
            for j in range(Qc.shape[0]):
                cand = np.nonzero(overlap[:, j])[0]
                if cand.size == 0:
                    continue
                sc = scores[cand, j]
                # local top-k under the GLOBAL order (score desc, doc asc):
                # any global winner is in its block's top-k
                order = np.lexsort((docs_arr[cand], -sc))[:k]
                sel = cand[order]
                out_q.extend([qids_l[lo + j]] * len(sel))
                out_d.extend(docs_arr[sel].tolist())
                out_s.extend(scores[sel, j].tolist())
        if out_q:
            yield pd.DataFrame(
                {"qid": out_q, "doc": out_d, "score_micro": out_s}
            )

    return part.mapInPandas(score_partition, out_schema)
