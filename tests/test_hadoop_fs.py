"""Lake table over a URI location: every driver-side storage call goes
through org.apache.hadoop.fs.FileSystem (the code path a cluster uses
for hdfs:// and s3a://), exercised here with file: URIs — the JVM
resolves them through the exact same Hadoop API."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.lake.fs import HadoopFS, LocalFS, filesystem_for


def _schema():
    return (
        StructType().add("repo", "string").add("path", "string")
        .add("commit", "string").add("lang", "string").add("content", "string")
    )


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, op string, seq long",
    )


def test_filesystem_for_picks_by_scheme(spark):
    assert isinstance(filesystem_for("/tmp/x"), LocalFS)
    assert isinstance(filesystem_for("file:/tmp/x", spark), HadoopFS)
    assert isinstance(filesystem_for("hdfs://nn/x", spark), HadoopFS)
    with pytest.raises(ValueError):
        filesystem_for("s3a://bucket/x")  # URI without a SparkSession


def test_hadoopfs_primitives(spark):
    fs = HadoopFS(spark)
    root = "file:" + tempfile.mkdtemp(prefix="hfs_")
    fs.mkdirs(root + "/d")
    fs.write_text_atomic(root + "/d/a.txt", "hello\nworld")
    assert fs.read_text(root + "/d/a.txt") == "hello\nworld"
    fs.write_text_atomic(root + "/d/a.txt", "2")  # overwrite via rename
    assert fs.read_text(root + "/d/a.txt") == "2"
    assert fs.exists(root + "/d/a.txt") and not fs.exists(root + "/d/nope")
    assert fs.size(root + "/d/a.txt") == 1
    fs.write_text_atomic(root + "/d/b.parquet", "x")
    files = fs.list_files(root, ".parquet")
    assert [os.path.basename(p) for p, _ in files] == ["b.parquet"]
    dirs = fs.list_dirs(root)
    assert dirs == sorted(dirs) and dirs == [root + "/d"]
    fs.delete(root + "/d")
    assert not fs.exists(root + "/d")
    # pyarrow path strips the file: scheme, refuses remote schemes
    assert fs.pyarrow_path("file:/x/y") == "/x/y"
    assert fs.pyarrow_path("file:///x/y") == "/x/y"
    assert fs.pyarrow_path("s3a://b/x") is None


def test_hadoopfs_missing_file_raises_filenotfound(spark, monkeypatch):
    """A missing file raises FileNotFoundError on a file: URI as it does
    on LocalFS, so TxnLog.latest() re-resolves past a record that a
    retention sweep reclaimed between resolve and read."""
    from synapse_etl_jobs_spark.lake.txn import TxnLog

    fs = HadoopFS(spark)
    root = "file:" + tempfile.mkdtemp(prefix="hfs_")
    for op in (fs.read_text, fs.size, fs.mtime):
        with pytest.raises(FileNotFoundError):
            op(root + "/nope.txt")
    log = TxnLog(root + "/txn", spark)
    log.commit({"/a": 1})
    log.commit({"/a": 2})
    fs.delete(log._rec_path(0))
    real, calls = TxnLog._resolve_current, []

    def stale_first(self):
        calls.append(1)
        return 0 if len(calls) == 1 else real(self)

    monkeypatch.setattr(TxnLog, "_resolve_current", stale_first)
    assert log.latest()["tables"] == {"/a": 2}
    assert len(calls) == 2


@pytest.fixture(scope="module")
def uri_table(spark):
    path = "file:" + tempfile.mkdtemp(prefix="lake_uri_") + "/t"
    t = LakeTable.create(
        spark, path, _schema(), ["repo", "path", "commit"],
        num_buckets=4, write_mode="mor", point_index_bits=256,
        stats_cols=["commit"],
    )
    return t


def test_uri_table_full_lifecycle(spark, uri_table):
    t = uri_table
    assert isinstance(t.fs, HadoopFS)
    t.merge(_events(spark, [
        ("r1", "a.py", "c1", "py", "x = 1", "UPSERT", 1),
        ("r1", "b.py", "c1", "py", "y = 2", "UPSERT", 2),
        ("r2", "a.py", "c1", "py", "z = 3", "UPSERT", 3),
    ]), stream_id="s", batch_id=0)
    t.merge(_events(spark, [
        ("r1", "a.py", "c1", "py", "x = 9", "UPSERT", 10),  # update
        ("r2", "a.py", "c1", None, None, "DELETE", 11),      # delete
    ]), stream_id="s", batch_id=1)
    got = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert got == {("r1", "a.py"): "x = 9", ("r1", "b.py"): "y = 2"}

    # idempotency marker survives the URI manifest round-trip
    r = t.merge(_events(spark, []), stream_id="s", batch_id=1)
    assert r["reason"] == "batch_already_applied"

    # lineage appended through the FS layer and readable back
    assert t.lineage().count() > 0

    # bloom point lookup keyed by URI file paths
    hit = t.lookup_keys([("r1", "a.py", "c1")])
    assert [r["content"] for r in hit.collect()] == ["x = 9"]

    # compact + time travel + fresh load, all through Hadoop FS
    v_before = t.manifest.table_version
    t.compact()
    assert t.read().count() == 2
    assert t.read_version(v_before).count() == 2
    t2 = LakeTable.load(spark, t.path)
    assert t2.read().count() == 2

    # vacuum deletes expired manifests/data via the FS layer
    stats = t.vacuum(retain_versions=1)
    assert stats["expired_manifests"] > 0
    with pytest.raises(ValueError):
        t.read_version(0)


def test_uri_table_cow_and_schema_evolution(spark):
    path = "file:" + tempfile.mkdtemp(prefix="lake_uri_cow_") + "/t"
    t = LakeTable.create(
        spark, path, _schema(), ["repo", "path", "commit"],
        num_buckets=2, write_mode="cow",
    )
    t.merge(_events(spark, [
        ("r1", "a.py", "c1", "py", "v1", "UPSERT", 1),
    ]), stream_id="s", batch_id=0)
    from pyspark.sql.types import IntegerType

    t.evolve_schema(add_columns=[("stars", IntegerType())])
    ev = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "v2", 7, "UPSERT", 2)],
        "repo string, path string, commit string, lang string, "
        "content string, stars int, op string, seq long",
    )
    t.merge(ev, stream_id="s", batch_id=1)
    row = t.read().collect()[0]
    assert row["content"] == "v2" and row["stars"] == 7

    # the same rows are visible through a plain-path handle of the
    # stripped location (file: URI == local path — cross-check)
    t3 = LakeTable.load(spark, path[len("file:"):])
    assert t3.read().collect()[0]["content"] == "v2"


def test_remote_stats_fallback_matches_footers(spark):
    """hdfs:/s3a: locations have no driver-side pyarrow path, so stats
    fall back to one grouped Spark scan — pin that path against the
    footer parses for the same files (file: URIs let both run)."""
    from synapse_etl_jobs_spark.lake.table import (
        SEQ_COL, _footer_stats, _footer_stats_spark_job,
    )

    path = "file:" + tempfile.mkdtemp(prefix="lake_uri_stats_") + "/t"
    t = LakeTable.create(
        spark, path, _schema(), ["repo", "path", "commit"],
        num_buckets=2, write_mode="mor",
    )
    t.merge(_events(spark, [
        ("r1", "a.py", "c1", "py", "x", "UPSERT", 5),
        ("r1", "b.py", "c1", "py", "y", "UPSERT", 6),
        ("r2", "a.py", "c1", "py", "z", "UPSERT", 7),
    ]), stream_id="s", batch_id=0)
    fs = t.fs
    files = [e["path"] for lst in t.manifest.buckets.values() for e in lst]
    assert files and all(f.startswith("file:") for f in files)
    via_job = _footer_stats_spark_job(files, SEQ_COL, spark, fs)
    for fp in files:
        via_footer = _footer_stats([fs.pyarrow_path(fp)], SEQ_COL)
        assert via_job[fp]["rows"] == via_footer["rows"]
        assert via_job[fp]["seq_min"] == via_footer["seq_min"]
        assert via_job[fp]["seq_max"] == via_footer["seq_max"]
        assert via_job[fp]["bytes"] == via_footer["bytes"]
