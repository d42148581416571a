"""Cross-table transaction log (lake/txn.py): readers resolving through
the log never observe the multi-table crash window.

VERDICT r4 'Next round' #3 done-criterion: a crash injected BETWEEN the
streaming-dedup path's two commits (index ✓, docs ✗) leaves log-readers
on the previous consistent pair; redelivery reconverges and advances
the log to the new pair.
"""

import os

import pytest
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable, TxnLog
from synapse_etl_jobs_spark.streaming.dedup_stream import (
    create_dedup_tables, dedup_stream_into_table,
)

DOC_SCHEMA = StructType().add("doc_id", "long").add("text", "string")
LSH = dict(shingle_k=4, num_hashes=32, bands=8)

B1 = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
]
B2 = [
    (3, "the quick brown fox jumps over the lazy dog"),  # dup of corpus 1
    (4, "sphinx of black quartz judge my vow tonight"),
]


def _run(spark, docs, index, src, ckpt, txn):
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    dedup_stream_into_table(
        docs, index, stream, ckpt, threshold=1.0, txn_path=txn, **LSH,
    )


def test_txn_log_basics(tmp_path):
    log = TxnLog(str(tmp_path / "txn"), retain_records=2)
    assert log.latest() is None
    assert log.commit({"/a": 3, "/b": 7}, meta={"batch": 1}) == 0
    assert log.commit({"/a": 4, "/b": 8}) == 1
    rec = log.latest()
    assert rec["txn_id"] == 1 and rec["tables"] == {"/a": 4, "/b": 8}
    # retention: record 0 reclaimed once id 2 lands (retain 2)
    log.commit({"/a": 5, "/b": 9})
    assert not os.path.exists(os.path.join(log.path, "t000000000000.json"))
    assert log.latest()["tables"] == {"/a": 5, "/b": 9}


def test_txn_log_probe_past_stale_pointer(tmp_path):
    """CURRENT is a hint: a record committed without the pointer swap
    (writer crash between the two steps) is still resolved."""
    log = TxnLog(str(tmp_path / "txn"))
    log.commit({"/a": 1})
    # simulate the crash: create the next record but leave CURRENT stale
    log.fs.write_text_if_absent(log._rec_path(1),
                                '{"txn_id": 1, "tables": {"/a": 2}, "meta": {}}')
    assert log.latest()["tables"] == {"/a": 2}
    # the next commit takes id 2, not 1
    assert log.commit({"/a": 3}) == 2


def test_txn_log_recovers_pointer_below_retention_floor(tmp_path):
    """A CURRENT pointer staler than the retention window must not make
    commit() reuse an expired id (id monotonicity) nor latest() fail —
    both recover via a directory listing."""
    import os

    log = TxnLog(str(tmp_path / "txn"), retain_records=2)
    for i in range(6):
        log.commit({"/a": i})
    log.fs.write_text_atomic(os.path.join(log.path, "CURRENT"), "0")
    fresh = TxnLog(str(tmp_path / "txn"), retain_records=2)
    assert fresh.latest()["tables"] == {"/a": 5}
    assert fresh.commit({"/a": 9}) == 6
    assert TxnLog(str(tmp_path / "txn")).latest()["tables"] == {"/a": 9}


def test_crash_between_commits_is_invisible_to_txn_readers(spark, tmp_path):
    docs, index = create_dedup_tables(
        spark, str(tmp_path / "docs"), str(tmp_path / "ix"), DOC_SCHEMA,
        num_buckets=4,
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    txn = str(tmp_path / "txn")

    spark.createDataFrame(B1, DOC_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    _run(spark, docs, index, src, ckpt, txn)
    log = TxnLog(txn)
    rec1 = log.latest()
    assert rec1 is not None
    pinned = log.load_tables(spark)
    assert sorted(r["doc_id"] for r in pinned[docs.path].read().collect()) \
        == [1, 2]

    # batch 2 delivered; CRASH INJECTED between index commit and docs
    # commit: docs_table.merge raises after index_table.merge succeeded
    spark.createDataFrame(B2, DOC_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    real_merge = docs.merge

    def exploding_merge(*a, **kw):
        raise RuntimeError("injected crash between the two commits")

    docs.merge = exploding_merge
    with pytest.raises(Exception):
        _run(spark, docs, index, src, ckpt, txn)
    docs.merge = real_merge

    # physical intermediate state exists (index advanced, docs did not)…
    assert LakeTable.load(spark, index.path).manifest.table_version \
        > rec1["tables"][index.path]
    # …but the txn log still points at the batch-1 pair: a consistent
    # reader sees all of batch 1 and none of batch 2
    rec_after_crash = log.latest()
    assert rec_after_crash["txn_id"] == rec1["txn_id"]
    pinned = log.load_tables(spark)
    assert sorted(r["doc_id"] for r in pinned[docs.path].read().collect()) \
        == [1, 2]
    assert pinned[index.path].read().count() == 2 * LSH["bands"]

    # redelivery (same checkpoint — Structured Streaming re-runs the
    # failed micro-batch) reconverges and publishes the new pair
    docs2 = LakeTable.load(spark, docs.path)
    ix2 = LakeTable.load(spark, index.path)
    _run(spark, docs2, ix2, src, ckpt, txn)
    rec2 = TxnLog(txn).latest()
    assert rec2["txn_id"] > rec1["txn_id"]
    pinned = TxnLog(txn).load_tables(spark)
    assert sorted(r["doc_id"] for r in pinned[docs.path].read().collect()) \
        == [1, 2, 4]
    assert pinned[index.path].read().count() == 3 * LSH["bands"]


def test_heal_record_is_labelled_as_of_redelivery(spark, tmp_path, monkeypatch):
    """A crash after both commits of a batch landed but before its
    transaction record: redelivery takes the already-applied path, which
    re-records the tables' current versions and labels the record
    ``as_of: redelivery`` rather than passing it off as the commit point."""
    docs, index = create_dedup_tables(
        spark, str(tmp_path / "docs"), str(tmp_path / "ix"), DOC_SCHEMA,
        num_buckets=4,
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    txn = str(tmp_path / "txn")
    spark.createDataFrame(B1, DOC_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)

    real_commit = TxnLog.commit
    calls = []

    def commit_crashes_once(self, tables, meta=None):
        calls.append(dict(meta or {}))
        if len(calls) == 1:
            raise RuntimeError("injected crash before the txn record")
        return real_commit(self, tables, meta)

    monkeypatch.setattr(TxnLog, "commit", commit_crashes_once)
    with pytest.raises(Exception):
        _run(spark, docs, index, src, ckpt, txn)
    assert TxnLog(txn).latest() is None
    docs2 = LakeTable.load(spark, docs.path)
    ix2 = LakeTable.load(spark, index.path)
    # both commits of the batch landed before the crash
    assert docs2.is_batch_applied("dedup", 0) and ix2.is_batch_applied("dedup", 0)
    pair = {docs.path: docs2.manifest.table_version,
            index.path: ix2.manifest.table_version}

    _run(spark, docs2, ix2, src, ckpt, txn)
    rec = TxnLog(txn).latest()
    assert rec["tables"] == pair
    assert rec["meta"]["as_of"] == "redelivery"
    assert "as_of" not in calls[0]
