"""Zero-copy shallow clone (lake/table.py clone): fork a table in one
manifest commit, diverge copy-on-write, never disturb the source."""

import os

import pytest
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable

SCHEMA = StructType().add("k", "long").add("v", "string")
EV = "k long, v string, op string, seq long"


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV)


def _state(t):
    return {(r["k"], r["v"]) for r in t.read().collect()}


def _data_files(t):
    return {fp for fp, _ in t.fs.list_files(os.path.join(t.path, "data"),
                                            ".parquet")}


def test_clone_is_zero_copy_and_diverges_cow(spark, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA, ["k"],
                           num_buckets=4, write_mode="mor")
    src.merge(_ev(spark, [(j, f"v{j}", "UPSERT", j) for j in range(16)]),
              batch_id=0)
    src_files = _data_files(src)

    fork = src.clone(str(tmp_path / "fork"))
    # zero-copy: the clone owns NO data files yet, state is identical
    assert _data_files(fork) == set()
    assert _state(fork) == _state(src)
    assert fork.manifest.props["cloned_from"] == src.path

    # divergence is local: merge + compact on the fork write under the
    # fork's root; the source's files and state are untouched
    # batch 0's marker carried over from the source — a reused id would
    # dedupe (the exactly-once continuity the clone promises); fork
    # work continues the numbering
    fork.merge(_ev(spark, [(1, "FORKED", "UPSERT", 100),
                           (99, "new", "UPSERT", 101)]), batch_id=1)
    fork.compact()  # full rewrite: after this the fork shares nothing
    assert _state(LakeTable.load(spark, fork.path)) == (
        {(j, f"v{j}") for j in range(16)} - {(1, "v1")}
    ) | {(1, "FORKED"), (99, "new")}
    assert _state(LakeTable.load(spark, src.path)) == {
        (j, f"v{j}") for j in range(16)
    }
    assert _data_files(src) == src_files

    # vacuum on the fork only sweeps its own data/ root — shared source
    # files are never candidates
    fork = LakeTable.load(spark, fork.path)
    fork.vacuum(retain_versions=1, grace_seconds=0)
    assert _data_files(src) == src_files
    assert _state(LakeTable.load(spark, src.path)) == {
        (j, f"v{j}") for j in range(16)
    }


def test_clone_carries_markers_and_time_travel_fork(spark, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA, ["k"],
                           num_buckets=2, write_mode="mor")
    src.merge(_ev(spark, [(1, "a", "UPSERT", 1)]), batch_id=0)
    v1 = src.manifest.table_version
    src.merge(_ev(spark, [(1, "b", "UPSERT", 2)]), batch_id=1)

    # historical fork: clone version v1 (before batch 1)
    old = src.clone(str(tmp_path / "old"), version=v1)
    assert _state(old) == {(1, "a")}
    # markers from the cloned snapshot carry over: batch 0 dedupes,
    # batch 1 (not in v1) applies
    assert not old.merge(_ev(spark, [(1, "stale", "UPSERT", 0)]),
                         batch_id=0)["applied"]
    assert old.merge(_ev(spark, [(1, "b", "UPSERT", 2)]),
                     batch_id=1)["applied"]
    assert _state(LakeTable.load(spark, old.path)) == {(1, "b")}

    # destination collision is refused
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "old"))
