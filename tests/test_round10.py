"""Round-7 (second optimization round) pins: the CC fast-lane byte gate,
the 64-bit lsh_fingerprint base, and the q68 null-user-id fixture
assumption. The size-adaptive checkpoint rule is tested with the operators
(tests/test_operators.py, TestShare)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


class TestCcDriverByteGate:
    """The CC fast lane must refuse to collect edge lists whose estimated
    Python-object footprint exceeds the byte gate, even when the edge
    COUNT is under the edge gate (round 7, VERDICT r6 item 6)."""

    @staticmethod
    def _labels(df):
        return sorted((r["node"], r["lab"]) for r in df.collect())

    def test_fat_string_ids_choose_distributed(self, spark, monkeypatch):
        from zenodb_spark.operators import dedup
        from zenodb_spark.operators.dedup import connected_components

        fat = "x" * 2000
        e = spark.createDataFrame(
            [Row(doc_a=f"{fat}{i}", doc_b=f"{fat}{i + 1}") for i in range(20)]
        )
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_BYTES", 8 * 1024)
        st = {}
        dist = connected_components(e, stats=st)
        assert st["rounds"] >= 1, st  # byte gate forced the distributed path
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_BYTES", 64 * 1024 * 1024)
        st2 = {}
        fast = connected_components(e, stats=st2)
        assert st2["rounds"] == 0, st2
        assert self._labels(fast) == self._labels(dist)

    def test_long_ids_unchanged(self, spark):
        from zenodb_spark.operators.dedup import connected_components

        rng = random.Random(3)
        e = spark.createDataFrame(
            [Row(doc_a=rng.randrange(40), doc_b=rng.randrange(40)) for _ in range(30)]
        ).filter("doc_a != doc_b")
        st = {}
        connected_components(e, stats=st)
        assert st["rounds"] == 0, st  # small long-id graphs stay on the fast lane


class TestLshFingerprintLongBase:
    """shiftleft over a LONG base: plane indices >= 31 must contribute
    2^j exactly (the old int base overflowed to -2^31 at j=31 — ADVICE
    r6). Callers today use <= 16 planes; this pins the general contract."""

    def test_bits_above_31_are_exact(self, spark):
        from zenodb_spark.operators.similarity import lsh_fingerprint

        # plane j is [+1] (dot >= 0, bit set) or [-1] (bit clear)
        set_bits = {0, 5, 30, 31, 32, 33}
        planes = [[1.0] if j in set_bits else [-1.0] for j in range(34)]
        df = spark.createDataFrame([Row(v=[1.0])])
        got = df.select(lsh_fingerprint("v", planes).alias("fp")).collect()[0]["fp"]
        assert got == sum(1 << j for j in set_bits)

    def test_more_than_62_planes_rejected(self, spark):
        from zenodb_spark.operators.similarity import lsh_fingerprint

        with pytest.raises(ValueError, match="62"):
            lsh_fingerprint("v", [[1.0]] * 63)


class TestQ68NullUserAssumption:
    """q68's scan-level `user_id IS NOT NULL` alignment filter is a no-op
    IFF the events fixture carries no null user_ids (VERDICT r6 item 7) —
    pin that so a future fixture change fails loudly here instead of
    silently shifting q68's view-stage counts."""

    @pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
    def test_events_user_id_never_null(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert ev.filter(F.col("user_id").isNull()).count() == 0
