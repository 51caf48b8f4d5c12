"""Versioned table stores (sources/versions.py): a fold writes a new base
version and commits it atomically, and what it retires stays on disk until
the next fold — so plans built before a fold still read their files, disk
stays bounded, and every crash window reopens to the committed rows."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading

from pyspark.sql import Row

from zenodb_spark.engine import DB
from zenodb_spark.sources import versions
from zenodb_spark.streaming.ingest import ingest_stream_batch

E = dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc).timestamp()
SCHEMA = {"sums": {"sql": "SELECT v FROM inbound GROUP BY k, period('10s')"}}
SQL = "SELECT v FROM sums GROUP BY k, period('1d')"


def _rows(spark, i: int, n: int = 3):
    """``n`` points worth ``i`` each, spread over two keys and two days."""
    return spark.createDataFrame(
        [
            Row(
                ts=dt.datetime.fromtimestamp(E + 86400 * (j % 2) + i, dt.timezone.utc),
                k="ab"[j % 2],
                v=float(i),
            )
            for j in range(n)
        ]
    )


def _total(df) -> float:
    return sum(r["v"] or 0.0 for r in df.collect())


def _db(spark, wd):
    db = DB(spark, workdir=wd, now=E + 3 * 86400)
    db.apply_schema(SCHEMA)
    return db


def test_reader_survives_compaction(spark, tmp_path):
    """A reader loop (``DB.query`` + ``collect``) runs while ``compact()``
    folds freshly inserted parts: every read returns the total of some
    committed state, and a plan built before a fold still collects its
    pre-fold rows after it (the fold used to delete the files such a plan
    had listed)."""
    db = _db(spark, str(tmp_path / "store"))
    table = db.tables["sums"]
    db.insert("inbound", _rows(spark, 1))
    table.compact()
    totals = [3.0]
    errors, seen = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(_total(db.query(SQL)))
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(repr(e))
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        for i in range(2, 5):
            db.insert("inbound", _rows(spark, i))
            totals.append(totals[-1] + 3 * i)
            before = db.query(SQL)
            table.compact()
            assert _total(before) == totals[-1]
    finally:
        done.set()
        th.join(timeout=300)
    assert not th.is_alive(), "reader loop did not stop"
    assert not errors, errors[0]
    assert seen and set(seen) <= set(totals), (seen, totals)
    assert _total(db.query(SQL)) == totals[-1]


def test_folds_keep_two_bases_and_reopen(spark, tmp_path):
    """Over eight folds of inserts and streamed batches a table holds at
    most its current and previous base, no stream part retired more than
    one fold ago is left, and a reopen reads the same total."""
    wd = str(tmp_path / "store")
    root = f"{wd}/sums"
    db = _db(spark, wd)
    table = db.tables["sums"]
    want = 0.0
    retired_before: set[str] = set()
    for i in range(1, 9):
        db.insert("inbound", _rows(spark, i))
        ingest_stream_batch(db, table, "sums", _rows(spark, 100 + i), batch_id=i)
        want += 3 * i + 3 * (100 + i)
        table.compact()
        names = set(os.listdir(root))
        assert len({n for n in names if n.startswith("base_v")}) <= 2, names
        assert not names & retired_before, names & retired_before
        retired_before = {
            n for n in versions.current(root)["retired"] if n.startswith("stream_part=")
        }
        assert retired_before == {f"stream_part={i}"}
    assert versions.current(root)["version"] == 8
    assert _total(db.query(SQL)) == want

    db2 = _db(spark, wd)
    assert _total(db2.query(SQL)) == want
    assert len(db2.tables["sums"]._parts) == 1
    # the retired part's batch is folded: a replay is skipped
    ingest_stream_batch(db2, db2.tables["sums"], "sums", _rows(spark, 108), batch_id=8)
    assert _total(db2.query(SQL)) == want


def test_plan_before_compact_without_workdir(spark):
    """The in-memory path: a plan built before ``compact()`` still returns
    its pre-fold rows after the fold releases the parts it read."""
    db = DB(spark, now=E + 3 * 86400)
    db.apply_schema(SCHEMA)
    table = db.tables["sums"]
    db.insert("inbound", _rows(spark, 1))
    table.compact()
    db.insert("inbound", _rows(spark, 2))
    before = db.query(SQL)
    want = sorted(tuple(r) for r in before.collect())
    db.insert("inbound", _rows(spark, 3))
    table.compact()
    assert sorted(tuple(r) for r in before.collect()) == want
    assert _total(db.query(SQL)) == 18.0


def test_unversioned_main_store_reopens(spark, tmp_path):
    """A store written before versioning (base in ``main/``, no pointer)
    reopens with the same rows; its next fold retires ``main`` and the
    fold after deletes it."""
    wd = str(tmp_path / "store")
    root = f"{wd}/sums"
    db = _db(spark, wd)
    db.insert("inbound", _rows(spark, 1))
    db.insert("inbound", _rows(spark, 2))
    db.tables["sums"].compact()
    os.rename(versions.base(root), f"{root}/main")
    os.remove(f"{root}/_ptr")

    db2 = _db(spark, wd)
    assert _total(db2.query(SQL)) == 9.0
    for i in (3, 4):
        db2.insert("inbound", _rows(spark, i))
        db2.tables["sums"].compact()
        assert _total(db2.query(SQL)) == 9.0 + sum(3 * j for j in range(3, i + 1))
    assert sorted(os.listdir(root)) == ["_ptr", "base_v1", "base_v2"]


def test_unpointed_version_ignored_and_swept(spark, tmp_path):
    """A crash after writing ``base_v{k+1}`` but before the commit leaves
    an unpointed version: a reopen ignores it (here it holds a copy of the
    rows, which would double the total), and the next fold sweeps it."""
    wd = str(tmp_path / "store")
    root = f"{wd}/sums"
    db = _db(spark, wd)
    db.insert("inbound", _rows(spark, 1))
    db.tables["sums"].compact()
    shutil.copytree(f"{root}/base_v1", f"{root}/base_v2")
    os.makedirs(f"{root}/base_v2/leftover")

    db2 = _db(spark, wd)
    assert _total(db2.query(SQL)) == 3.0
    db2.insert("inbound", _rows(spark, 2))
    db2.tables["sums"].compact()
    assert not os.path.exists(f"{root}/base_v2/leftover")
    assert versions.current(root)["version"] == 2
    assert _total(db2.query(SQL)) == 9.0
    assert _total(_db(spark, wd).query(SQL)) == 9.0
