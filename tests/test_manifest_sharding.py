"""Sharded manifests (Iceberg manifest-list analog) + marker retention.

The round-2 scale hazard: a single root JSON holding EVERY file entry of
EVERY bucket plus the full applied-batch history is O(table) driver work
and memory per commit. The fix shards per-bucket file lists into
immutable side files referenced from the root, reusing untouched
buckets' side files by reference (commit cost O(touched buckets)), and
compacts markers below a retention watermark. These tests pin:

- the root version file's byte size stays FLAT as file count grows;
- untouched buckets' side files are reused verbatim (same ref string);
- marker retention bounds ``applied_batches`` while replaying an
  expired batch stays a no-op on final state (LWW idempotency);
- legacy INLINE manifests (buckets embedded) stay readable and
  re-shard on their next commit;
- vacuum reclaims side files no retained root references;
- time travel resolves each version's own side files.
"""

import json
import os

from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable

SCHEMA = StructType().add("k", "long").add("v", "string")
EV = "k long, v string, op string, seq long"


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV)


def _state(t):
    return {r["k"]: r["v"] for r in t.read().collect()}


def _root_bytes(path: str, version: int) -> int:
    return os.path.getsize(
        os.path.join(path, "_manifests", f"v{version:012d}.json")
    )


def _ingest(spark, t, n_batches, keys_per_batch=4, start=0):
    for i in range(start, start + n_batches):
        t.merge(
            _ev(spark, [
                (j, f"v{i}", "UPSERT", i * 1000 + j)
                for j in range(keys_per_batch)
            ]),
            stream_id="s", batch_id=i,
        )


def test_root_manifest_size_flat_as_files_grow(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=4,
        write_mode="mor", write_salt=1, marker_retention_versions=5,
    )
    _ingest(spark, t, 3)
    early = _root_bytes(tmp_table_path, t.manifest.table_version)
    early_files = sum(len(lst) for lst in t.manifest.buckets.values())
    _ingest(spark, t, 30, start=3)
    late = _root_bytes(tmp_table_path, t.manifest.table_version)
    late_files = sum(len(lst) for lst in t.manifest.buckets.values())
    assert late_files > early_files * 5  # the table really grew
    # root stays O(num_buckets + retained markers), not O(files): allow
    # slack for ref-name length variance but nothing proportional
    assert late < early * 2, (early, late)
    assert _state(t) == {j: "v32" for j in range(4)}


def test_untouched_bucket_side_files_reused_by_reference(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=8,
        write_mode="mor", write_salt=1,
    )
    _ingest(spark, t, 1, keys_per_batch=16)  # populate all buckets
    refs_before = dict(t.manifest.bucket_refs)
    # single-key merge touches exactly one bucket
    t.merge(_ev(spark, [(0, "x", "UPSERT", 10_000)]), stream_id="s", batch_id=99)
    refs_after = dict(t.manifest.bucket_refs)
    changed = [b for b in refs_before if refs_before[b] != refs_after.get(b)]
    assert len(changed) == 1, changed
    # the reused refs are the SAME side files (no reserialization)
    for b in refs_before:
        if b not in changed:
            assert refs_after[b] == refs_before[b]


def test_marker_retention_bounds_history_and_stays_idempotent(
    spark, tmp_table_path
):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=2,
        write_mode="mor", write_salt=1, marker_retention_versions=3,
    )
    _ingest(spark, t, 10)
    markers = t.manifest.applied_batches.get("s", {})
    assert len(markers) <= 3, markers
    assert not t.is_batch_applied("s", 0)  # expired from the fast path
    final = _state(t)
    # replaying the EXPIRED batch 0 re-applies (no marker) but LWW on
    # seq makes it a no-op on final state — the soundness argument for
    # compaction
    t.merge(
        _ev(spark, [(j, "v0", "UPSERT", j) for j in range(4)]),
        stream_id="s", batch_id=0,
    )
    assert _state(t) == final


def test_legacy_inline_manifest_reads_and_reshards(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=2,
        write_mode="mor", write_salt=1,
    )
    _ingest(spark, t, 2)
    v = t.manifest.table_version
    # rewrite the current version file as a legacy INLINE manifest
    mpath = os.path.join(tmp_table_path, "_manifests", f"v{v:012d}.json")
    with open(mpath, "w") as f:
        f.write(t.manifest.to_json())  # inline serialization, no refs
    with open(mpath) as f:
        assert "buckets" in json.load(f)
    t2 = LakeTable.load(spark, tmp_table_path)
    assert _state(t2) == _state(t)
    # next commit re-shards: the new root has refs, no inline buckets
    t2.merge(_ev(spark, [(0, "z", "UPSERT", 99_999)]), stream_id="s", batch_id=50)
    mpath2 = os.path.join(
        tmp_table_path, "_manifests", f"v{t2.manifest.table_version:012d}.json"
    )
    with open(mpath2) as f:
        root = json.load(f)
    assert "buckets" not in root and root["bucket_refs"]
    assert _state(t2)[0] == "z"


def test_vacuum_reclaims_unreferenced_side_files(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=2,
        write_mode="cow", write_salt=1,
    )
    _ingest(spark, t, 6, keys_per_batch=2)
    bdir = os.path.join(tmp_table_path, "_manifests", "buckets")
    before = set(os.listdir(bdir))
    res = t.vacuum(retain_versions=1, grace_seconds=0)
    after = set(os.listdir(bdir))
    assert res["deleted_side_manifests"] > 0
    assert after < before
    # every retained root's refs still resolve
    assert set(t.manifest.bucket_refs.values()) <= after
    assert _state(t) == {0: "v5", 1: "v5"}


def test_time_travel_resolves_versioned_side_files(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, ["k"], num_buckets=2,
        write_mode="mor", write_salt=1,
    )
    _ingest(spark, t, 4, keys_per_batch=2)
    v2 = t.manifest.table_version - 2
    old = LakeTable.load(spark, tmp_table_path, version=v2)
    assert _state(old) == {0: "v1", 1: "v1"}
    assert _state(t) == {0: "v3", 1: "v3"}
