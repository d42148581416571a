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


class _NoPyarrowFS:
    """A filesystem without driver-side pyarrow paths (as hdfs:/s3a:):
    ``_footer_stats`` then takes its grouped-scan branch."""

    def pyarrow_path(self, path):
        return None


NESTED_SCHEMA = (
    StructType().add("repo", "string").add("path", "string")
    .add("meta", StructType().add("lang", "string").add("_seq", "long"))
    .add("lang", "string").add("stars", "long")
)


def _nested_events(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, meta struct<lang:string, _seq:long>, "
              "lang string, stars long, op string, seq long",
    )


def test_remote_stats_fallback_matches_footers(spark):
    """hdfs:/s3a: locations have no driver-side pyarrow path, so stats
    come from one grouped Spark scan — pin that branch against the
    footer branch for the same files (file: URIs let both run), stats
    columns included, on a schema whose struct field shadows a
    top-level column's leaf name."""
    from synapse_etl_jobs_spark.lake.table import _footer_stats, _list_parquet_files

    path = "file:" + tempfile.mkdtemp(prefix="lake_uri_stats_") + "/t"
    t = LakeTable.create(
        spark, path, NESTED_SCHEMA, ["repo", "path"], num_buckets=2,
        write_mode="mor",
    )
    t.merge(_nested_events(spark, [
        ("r1", "a.py", ("zz", 900), "go", 3, "UPSERT", 5),
        ("r1", "b.py", ("zz", 900), "py", 1, "UPSERT", 6),
        ("r2", "a.py", ("aa", 900), "rb", 8, "UPSERT", 7),
    ]), stream_id="s", batch_id=0)
    listing = _list_parquet_files(os.path.join(path, "data"), t.fs)
    files = [fp for fps in listing.values() for fp in fps]
    assert files and all(f.startswith("file:") for f in files)
    cols = ["lang", "stars", "repo"]
    schema = t._stored_schema(t.manifest.current_schema_id)
    via_footer = _footer_stats(listing, cols, schema, spark, t.fs)
    via_scan = _footer_stats(listing, cols, schema, spark, _NoPyarrowFS())
    assert via_scan == via_footer
    assert sorted(via_footer) == sorted(files)
    assert sum(s["rows"] for s in via_footer.values()) == 3
    assert min(s["seq_min"] for s in via_footer.values()) == 5
    assert max(s["seq_max"] for s in via_footer.values()) == 7
    langs = sorted(v for s in via_footer.values() for v in s["stats"]["lang"])
    assert langs[0] == "go" and langs[-1] == "rb"
    for fp, s in via_footer.items():
        assert s["bytes"] == t.fs.size(fp)


def test_remote_merge_runs_one_stats_scan(spark, monkeypatch):
    """A merge on remote storage reads its written files' rows, seq range
    and stats_cols ranges in ONE grouped scan (not one for lineage and
    another for the column stats): it runs exactly the stats-scan jobs
    of a single ``_footer_stats`` call over the same files, and no
    schema-inference job ahead of it (the written files' schema is
    known)."""
    import inspect

    from synapse_etl_jobs_spark.lake import table as table_mod

    path = "file:" + tempfile.mkdtemp(prefix="lake_uri_scan_") + "/t"
    t = LakeTable.create(
        spark, path, NESTED_SCHEMA, ["repo", "path"], num_buckets=2,
        write_mode="mor", stats_cols=["lang", "stars"],
    )
    monkeypatch.setattr(HadoopFS, "pyarrow_path", lambda self, p: None)
    sc = spark.sparkContext
    lines, first = inspect.getsourcelines(table_mod._footer_stats)
    reader = range(first, first + len(lines))

    def stats_scan_jobs(group, fn):
        """Jobs ``fn`` runs from a collect inside ``_footer_stats``."""
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = {}
        for j in st.getJobIdsForGroup(group):
            for sid in st.getJobInfo(j).stageIds:
                name = st.getStageInfo(sid).name
                assert not name.startswith("parquet at "), name  # inference
                if name.startswith("collect at ") and table_mod.__file__ in name:
                    jobs[j] = int(name.rsplit(":", 1)[1])
        assert set(jobs.values()) <= set(reader), jobs
        return len(jobs)

    tag = os.path.basename(os.path.dirname(path))
    in_merge = stats_scan_jobs(f"merge-{tag}", lambda: t.merge(_nested_events(spark, [
        ("r1", "a.py", ("zz", 900), "go", 3, "UPSERT", 5),
        ("r2", "b.py", ("zz", 900), "py", 1, "UPSERT", 6),
    ]), stream_id="s", batch_id=0))
    listing = table_mod._list_parquet_files(os.path.join(path, "data"), t.fs)
    one_scan = stats_scan_jobs(f"scan-{tag}", lambda: table_mod._footer_stats(
        listing, ["lang", "stars"], t._stored_schema(0), spark, t.fs))
    assert in_merge == one_scan > 0
    langs = sorted(v for lst in t.manifest.buckets.values() for e in lst
                   for v in e["stats"]["lang"])
    assert langs[0] == "go" and langs[-1] == "py"
