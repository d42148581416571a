"""Selective compaction: only the small-file backlog is rewritten;
untouched buckets keep their exact file entries, and reads are
unchanged before/after."""

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable

SCHEMA = StructType().add("k", "long").add("v", "string")


def _merge_range(spark, t, seq0, keys):
    rows = [("UPSERT", seq0 + i, k, f"v{seq0 + i}") for i, k in enumerate(keys)]
    t.merge(
        spark.createDataFrame(rows, "op string, seq long, k long, v string"),
        batch_id=f"b{seq0}",
    )


def test_selective_compact_rewrites_only_backlog(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        num_buckets=4, write_mode="mor", write_salt=1,
    )
    # every merge appends delta files to the buckets its keys hash to;
    # after several merges the touched buckets carry a file backlog
    for i in range(4):
        _merge_range(spark, t, 100 * i, range(40))
    before = {b: [e["path"] for e in lst] for b, lst in t.manifest.buckets.items()}
    backlog = [int(b) for b, fps in before.items() if len(fps) >= 4]
    quiet = [int(b) for b, fps in before.items() if 0 < len(fps) < 4]
    state_before = {(r["k"], r["v"]) for r in t.read().collect()}

    s = t.compact(min_files=4, drop_tombstones=False)
    assert s["applied"] and sorted(s["compacted_buckets"]) == sorted(backlog)
    after = {b: [e["path"] for e in lst] for b, lst in t.manifest.buckets.items()}
    for b in quiet:  # untouched buckets keep their exact entries
        assert after[str(b)] == before[str(b)]
    for b in backlog:  # rewritten buckets have new, fewer files
        assert after[str(b)] != before[str(b)]
        assert len(after[str(b)]) < len(before[str(b)])
        assert all(e["kind"] == "base" for e in t.manifest.buckets[str(b)])
    assert {(r["k"], r["v"]) for r in t.read().collect()} == state_before


def test_explicit_bucket_list_and_noop(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], num_buckets=4, write_mode="mor"
    )
    _merge_range(spark, t, 0, range(20))
    v = t.manifest.table_version
    assert t.compact(min_files=99)["applied"] is False  # nothing qualifies
    assert t.manifest.table_version == v  # no empty commit
    target = int(next(b for b, lst in t.manifest.buckets.items() if lst))
    s = t.compact(buckets=[target])
    assert s["compacted_buckets"] == [target]
    assert t.read().count() == 20


def test_sorted_compaction_range_clusters_files(spark, tmp_path):
    """compact(sort_cols=...) must leave every rewritten file internally
    sorted on the cluster column (row-group min/max stats become
    selective) without changing table contents."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        num_buckets=2, write_mode="mor", write_salt=1,
    )
    # insertion order deliberately scrambles v
    rows = [("UPSERT", i, i, f"v{(i * 37) % 100:03d}") for i in range(200)]
    t.merge(
        spark.createDataFrame(rows, "op string, seq long, k long, v string"),
        batch_id=0,
    )
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    s = t.compact(sort_cols=["v"])
    assert s["applied"]
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before
    files = [e["path"] for lst in t.manifest.buckets.values() for e in lst]
    assert files
    for fp in files:
        vals = pq.read_table(fp, columns=["v"]).column("v").to_pylist()
        assert vals == sorted(vals), f"file not clustered: {fp}"


def test_sorted_binpack_range_splits_files(spark, tmp_path, aqe_coalesce_off):
    """sort_cols + target_file_mb: files get contiguous ranges of the
    leading sort column (not key-hash-random subsets), so per-file
    [min,max] stats actually skip files for ranged predicates."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        num_buckets=2, write_mode="mor",
    )
    rows = [("UPSERT", i, i, f"v{(i * 37) % 1000:04d}") for i in range(1000)]
    t.merge(
        spark.createDataFrame(rows, "op string, seq long, k long, v string"),
        batch_id=0,
    )
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    t.compact(sort_cols=["v"], target_file_mb=0.0008)
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before
    entries = [e for lst in t.manifest.buckets.values() for e in lst]
    # ~8 wanted files/bucket; hash-slot collisions may merge a couple of
    # adjacent ranges, never most of them
    assert len(entries) >= 10
    # v is v0000..v0999 uniformly; average per-file span must be a small
    # fraction of the domain (key-hash splitting leaves it near 1.0)
    spans = []
    for e in entries:
        lo, hi = e["stats"]["v"]
        spans.append((int(hi[1:]) - int(lo[1:])) / 1000.0)
    assert sum(spans) / len(spans) < 0.5, spans


def test_sorted_binpack_low_cardinality_and_resolution_cap(spark, tmp_path):
    """Two guards on the range-split binpack: (a) a low-cardinality lead
    column (boundaries dedup far below 2^bits) must still spread rows
    over many files (exact-domain scaling — nominal-bit scaling would
    collapse every row into range 0), and (b) per-range key-hash
    sub-splitting keeps file sizes near target when the wanted file
    count exceeds the code resolution."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        num_buckets=1, write_mode="mor",
    )
    # 3 distinct v values over 3000 rows -> boundaries dedup to <= 2
    rows = [("UPSERT", i, i, f"v{i % 3}") for i in range(3000)]
    t.merge(
        spark.createDataFrame(rows, "op string, seq long, k long, v string"),
        batch_id=0,
    )
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    t.compact(sort_cols=["v"], target_file_mb=0.002)
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before
    entries = [e for lst in t.manifest.buckets.values() for e in lst]
    # more files than the 3 achievable ranges: the sub-split worked
    # (without it the range split alone caps the bucket at 3 files)
    assert len(entries) > 3, len(entries)
    # and every file still covers at most one value of v (range purity
    # within the resolution the column allows)
    for e in entries:
        lo, hi = e["stats"]["v"]
        assert lo == hi, (lo, hi)
