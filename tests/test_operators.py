"""Operator-level unit tests on small synthetic DataFrames — the analog of
the reference's core/core_test.go and expr/*_test.go suites."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from zenodb_spark.functions.measures import BOUNDED, IF, MAX_FLOAT64, safe_div, wavg
from zenodb_spark.operators import dedup, similarity, timeops
from zenodb_spark.operators.percentile import hist_agg, hist_merge, hist_quantile
from zenodb_spark.sqlparser.durations import format_duration, parse_duration


def test_durations():
    assert parse_duration("1s") == 1
    assert parse_duration("2h45m") == 2 * 3600 + 45 * 60
    assert parse_duration("1d") == 86400
    assert parse_duration("1w2d") == 9 * 86400
    assert parse_duration("500ms") == 0.5
    assert format_duration(86400) == "1d"
    with pytest.raises(ValueError):
        parse_duration("5x")


def test_if_bounded_safe_div(spark):
    df = spark.createDataFrame(
        [Row(d="a", v=5.0), Row(d="b", v=50.0), Row(d="a", v=500.0)]
    )
    out = df.agg(
        F.sum(IF(F.col("d") == "a", F.col("v"))).alias("if_sum"),
        F.sum(BOUNDED("v", 0, 100)).alias("bounded_sum"),
        safe_div(F.lit(0.0), F.lit(0.0)).alias("zz"),
        safe_div(F.lit(2.0), F.lit(0.0)).alias("xz"),
        safe_div(F.lit(10.0), F.lit(4.0)).alias("ok"),
        wavg("v", F.lit(1.0)).alias("w"),
    ).collect()[0]
    assert out["if_sum"] == 505.0
    assert out["bounded_sum"] == 55.0
    assert out["zz"] == 0.0
    assert out["xz"] == MAX_FLOAT64
    assert out["ok"] == 2.5
    assert abs(out["w"] - 555.0 / 3) < 1e-9


def test_shift_join_sparse_buckets(spark):
    # sparse axis: bucket 300 is missing; row-lag would mis-align, join must not
    df = spark.createDataFrame(
        [
            Row(d="x", bucket=0, n=1.0),
            Row(d="x", bucket=100, n=2.0),
            Row(d="x", bucket=200, n=3.0),
            Row(d="x", bucket=400, n=4.0),
        ]
    )
    out = {
        r["bucket"]: r["n_prev"]
        for r in timeops.shift_join(df, ["d"], "bucket", ["n"], 100, "_prev").collect()
    }
    assert out == {0: 0.0, 100: 1.0, 200: 2.0, 400: 0.0}


def test_stride_filter(spark):
    rows = [Row(ts=f"2024-01-01 {h:02d}:30:00") for h in range(24)]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = timeops.stride_filter(df, "ts", 6 * 3600, 3600).count()
    assert kept == 4  # hours 0, 6, 12, 18


def test_hist_sketch_merge_requery(spark):
    # percentile state must merge across groups like the reference's SubMerge
    df = spark.createDataFrame([Row(g=i % 2, v=float(i)) for i in range(101)])
    per_group = hist_agg(df, ["g"], "v", 0.0, 100.0, 0, "hist")
    merged = per_group.groupBy().agg(hist_merge("hist").alias("hist"))
    p50 = merged.select(hist_quantile("hist", 50, 0.0, 0).alias("p")).collect()[0]["p"]
    assert p50 == 50.0
    p95 = merged.select(hist_quantile("hist", 95, 0.0, 0).alias("p")).collect()[0]["p"]
    assert p95 == 95.0


def test_exact_dedup_and_jaccard(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="The quick  brown fox jumps over the lazy dog today"),
            Row(doc_id=3, text="the quick brown fox jumps over the lazy cat today"),
            Row(doc_id=4, text="completely different words appear in this one here"),
        ]
    )
    d = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect()}
    assert d[1] == 2  # docs 1 and 2 normalize identically
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got
    assert all(4 not in p for p in got)


def test_jaccard_prefix_matches_inverted_index(spark):
    # AllPairs prefix filtering is lossless: identical pair set (and values)
    # to the exhaustive inverted-index formulation at every threshold
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                [
                    "the quick brown fox jumps over the lazy dog today",
                    "the quick  Brown fox jumps over the lazy dog today",
                    "the quick brown fox jumps over the lazy cat today",
                    "a quick brown fox leaps over a lazy dog yesterday",
                    "completely different words appear in this one here",
                    "the the the the the repeated stopword document here now",
                ]
            )
        ]
    )
    for t in (0.2, 0.5, 0.8):
        old = sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=t, max_doc_freq=10**9
            ).collect()
        )
        new = sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs_prefix(
                docs, "text", "doc_id", threshold=t
            ).collect()
        )
        assert old == new, f"threshold {t}: {old} != {new}"


def test_minhash_lsh_finds_planted_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.replace("kappa", "lambda", 1)),
            Row(doc_id=3, text="unrelated content entirely here with other tokens now"),
        ]
    )
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_simhash_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " extra"),
            Row(doc_id=3, text="x y z totally different tokens qrs tuv wxy zab cde"),
        ]
    )
    fp = dedup.simhash(docs, "text", "doc_id")
    pairs = dedup.simhash_pairs(fp, max_hamming=3).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got


def test_lsh_cosine_recall(spark):
    import random

    random.seed(7)
    rows = []
    for i in range(50):
        rows.append(Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(16)]))
    # plant a near-duplicate of vector 0
    rows.append(Row(vec_id=99, embedding=[x + 0.01 for x in rows[0]["embedding"]]))
    df = spark.createDataFrame(rows)
    out = similarity.lsh_cosine_topk(
        df, df.filter(F.col("vec_id") == 0), k=3, bits=6, dim=16
    ).collect()
    assert out and out[0]["neighbor_id"] == 99  # planted near-dup found first


def test_multimodal_plumbing(spark):
    from zenodb_spark.operators.multimodal import attach_media, extract_features

    docs = spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="world")])
    feats = extract_features(attach_media(docs, "text", "doc_id")).collect()
    import hashlib

    got = {r["media_id"]: r["digest"] for r in feats}
    assert got["1"] == hashlib.md5(b"hello").hexdigest()
    assert all(r["n_bytes"] == 5 for r in feats)


def test_multimodal_resize(spark):
    from zenodb_spark.operators.multimodal import attach_media, resize

    docs = spark.createDataFrame([("1", "hello world"), ("2", "spark")], ["doc_id", "text"])
    media = attach_media(docs, "text", "doc_id")
    out = resize(media, 64, 48).collect()
    assert {r["media_id"] for r in out} == {"1", "2"}
    for r in out:
        assert r["meta_width"] == 64 and r["meta_height"] == 48
        assert bytes(r["payload"]).startswith(b"RESIZED:64x48:")
        assert r["meta_bytes"] == len(bytes(r["payload"]))
    # deterministic: same input -> same payload bytes
    again = {r["media_id"]: bytes(r["payload"]) for r in resize(media, 64, 48).collect()}
    assert {r["media_id"]: bytes(r["payload"]) for r in out} == again


def test_multimodal_frame_sample(spark):
    from zenodb_spark.operators.multimodal import attach_media, frame_sample

    docs = spark.createDataFrame(
        [("1", "x" * 100), ("2", "y" * 10)], ["doc_id", "text"]
    )
    media = attach_media(docs, "text", "doc_id")
    out = frame_sample(media, every_k=2, frame_bytes=16).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # doc 1: 100 bytes / 16 = 7 frames, every 2nd -> idx 0,2,4,6
    assert sorted(r["frame_idx"] for r in by_id["1"]) == [0, 2, 4, 6]
    assert all(r["n_frames"] == 7 for r in by_id["1"])
    # doc 2: 10 bytes -> 1 frame
    assert [r["frame_idx"] for r in by_id["2"]] == [0]
    assert bytes(by_id["2"][0]["frame_payload"]) == b"y" * 10


class TestShare:
    """share() checkpoints a shared subtree unless its scan input is
    provably small; every unknown fails toward checkpointing."""

    @staticmethod
    def _checkpointed(df, out) -> bool:
        # a localCheckpoint returns a new frame whose plan is a bare
        # LogicalRDD leaf (an in-memory frame may already be one)
        plan = out._jdf.queryExecution().analyzed().toString()
        return out is not df and plan.startswith("LogicalRDD")

    @staticmethod
    def _scan(spark, tmp_path, n=100):
        p = str(tmp_path / "src.parquet")
        spark.range(n).write.parquet(p)
        return spark.read.parquet(p)

    def test_small_input_passes_through(self, spark, tmp_path):
        from zenodb_spark.operators.util import share

        df = self._scan(spark, tmp_path).withColumn("y", F.col("id") * 2)
        assert share(df) is df

    def test_big_input_checkpoints(self, spark, tmp_path, monkeypatch):
        from zenodb_spark.operators import util

        monkeypatch.setattr(util, "CHECKPOINT_MIN_BYTES", 1)
        df = self._scan(spark, tmp_path).withColumn("y", F.col("id") * 2)
        out = util.share(df)
        assert self._checkpointed(df, out)
        assert sorted(r["y"] for r in out.collect()) == [2 * i for i in range(100)]

    def test_stat_error_checkpoints(self, spark, tmp_path, monkeypatch):
        import os

        from zenodb_spark.operators.util import share

        df = self._scan(spark, tmp_path)

        def unreadable(path):
            raise OSError(path)

        monkeypatch.setattr(os.path, "getsize", unreadable)
        assert self._checkpointed(df, share(df))

    def test_input_files_error_checkpoints(self, spark, tmp_path, monkeypatch):
        from zenodb_spark.operators.util import share

        df = self._scan(spark, tmp_path)

        def failing_probe(self):
            raise RuntimeError("inputFiles unavailable")

        monkeypatch.setattr(type(df), "inputFiles", failing_probe)
        assert self._checkpointed(df, share(df))

    def test_file_less_frame_checkpoints(self, spark):
        from zenodb_spark.operators.util import share

        df = spark.createDataFrame([Row(x=1), Row(x=2)])
        out = share(df)
        assert self._checkpointed(df, out)
        assert sorted(r["x"] for r in out.collect()) == [1, 2]

    def test_source_sizes_on_the_raw_scan(self, spark, tmp_path, monkeypatch):
        """A frame above another checkpoint reports no scan files of its
        own; ``source`` sizes the decision on the raw scan instead."""
        from zenodb_spark.operators import util

        src = self._scan(spark, tmp_path, n=50)
        derived = src.localCheckpoint().withColumn("y", F.col("id") + 1)
        assert derived.inputFiles() == []
        assert util.share(derived, source=src) is derived
        monkeypatch.setattr(util, "CHECKPOINT_MIN_BYTES", 1)
        assert self._checkpointed(derived, util.share(derived, source=src))


class TestSpread:
    """spread() repartitions a frame with fewer scan files than the cluster
    has cores; a failed file probe counts as under-partitioned."""

    @staticmethod
    def _scan(spark, tmp_path, n_files):
        p = str(tmp_path / "src.parquet")
        spark.range(0, 100 * n_files, numPartitions=n_files).write.parquet(p)
        return spark.read.parquet(p)

    @staticmethod
    def _repartitioned_to(out) -> int | None:
        plan = out._jdf.queryExecution().logical()
        if plan.nodeName() == "Repartition" and plan.shuffle():
            return plan.numPartitions()
        return None

    def test_input_files_error_repartitions(self, spark, tmp_path, monkeypatch):
        from zenodb_spark.operators.util import spread

        n = spark.sparkContext.defaultParallelism
        df = self._scan(spark, tmp_path, n)

        def failing_probe(self):
            raise RuntimeError("inputFiles unavailable")

        monkeypatch.setattr(type(df), "inputFiles", failing_probe)
        out = spread(df)
        assert self._repartitioned_to(out) == n
        assert out.count() == 100 * n

    def test_enough_scan_files_pass_through(self, spark, tmp_path):
        from zenodb_spark.operators.util import spread

        n = spark.sparkContext.defaultParallelism
        df = self._scan(spark, tmp_path, n)
        assert len(df.inputFiles()) >= n
        assert spread(df) is df
