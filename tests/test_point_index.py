"""Per-file key bloom index (lake/bloom.py + LakeTable.lookup_keys):
driver/executor hash agreement, no false negatives, real file pruning
on merge-on-read delta stacks, blooms built inside the bucketed write
(equal to a per-file reference, chunked and odd sizes, compact and
rebucket), and correctness with the index off."""

import base64

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.lake.bloom import (
    _position_cols,
    bloom_might_contain,
    key_positions,
    prune_entries,
)

SCHEMA = (
    StructType()
    .add("repo", "string").add("path", "string")
    .add("lang", "string").add("n_bytes", "long")
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, seq long, repo string, path string, lang string, n_bytes long"
    )


def _mk_table(spark, tmp_path, bits=4096):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor", point_index_bits=bits,
    )


def test_driver_positions_match_spark_hash(spark):
    # the driver-side probe positions must equal the executor-side
    # expression used to build the bloom, bit for bit
    bits = 4096
    df = spark.createDataFrame(
        [("r1", "a/b.py"), ("r2", "x.rs")], "repo string, path string"
    )
    got = df.select(
        *[
            F.pmod(F.xxhash64(F.lit(f"bloom-{i}"), "repo", "path"), F.lit(bits)).alias(f"p{i}")
            for i in range(3)
        ]
    ).collect()
    for row, kv in zip(got, [("r1", "a/b.py"), ("r2", "x.rs")]):
        assert [row[f"p{i}"] for i in range(3)] == key_positions(
            kv, ["string", "string"], bits
        )


def test_no_false_negatives_and_real_pruning(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    # 6 merge batches, each writing delta files with DISJOINT keys
    for b in range(6):
        t.merge(
            _batch(spark, [
                ("UPSERT", b * 10 + i, f"r{b}", f"f{i}", "py", 100 + i)
                for i in range(8)
            ]),
            batch_id=b,
        )
    # every key findable, value exact
    out = {(r["repo"], r["path"]): r["n_bytes"]
           for r in t.lookup_keys([("r3", "f2"), ("r5", "f7")]).collect()}
    assert out == {("r3", "f2"): 102, ("r5", "f7"): 107}
    # absent key -> empty (bloom may false-positive a file, never a row)
    assert t.lookup_keys([("nope", "nothing")]).count() == 0

    # pruning is real: the files that can contain ("r3","f2") are far
    # fewer than the full delta stack of its bucket
    m = t.manifest
    key_types = ["string", "string"]
    all_entries = [e for lst in m.buckets.values() for e in lst]
    assert all("bloom" in e for e in all_entries)
    kept = prune_entries(all_entries, [("r3", "f2")], key_types)
    assert len(kept) < len(all_entries) / 2


def test_lookup_after_compact_and_mixed_history(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.merge(_batch(spark, [("UPSERT", 1, "r", "a", "py", 1)]), batch_id=0)
    t.compact()  # base files get blooms too
    t.merge(_batch(spark, [("UPSERT", 2, "r", "a", "rs", 2),
                           ("UPSERT", 3, "r", "b", "go", 3)]), batch_id=1)
    out = {(r["repo"], r["path"]): (r["lang"], r["n_bytes"])
           for r in t.lookup_keys([("r", "a"), ("r", "b")]).collect()}
    assert out == {("r", "a"): ("rs", 2), ("r", "b"): ("go", 3)}
    # deleted keys stay gone through the pruned path
    t.merge(_batch(spark, [("DELETE", 4, "r", "a", None, None)]), batch_id=2)
    assert {(r["repo"], r["path"]) for r in t.lookup_keys([("r", "a"), ("r", "b")]).collect()} == {("r", "b")}


def test_index_off_keeps_everything_and_stays_correct(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_batch(spark, [("UPSERT", 1, "r", "a", "py", 1)]), batch_id=0)
    m = t.manifest
    entries = [e for lst in m.buckets.values() for e in lst]
    assert all("bloom" not in e for e in entries)
    # un-indexed entries are never pruned
    assert prune_entries(entries, [("zz", "zz")], ["string", "string"]) == entries
    assert t.lookup_keys([("r", "a")]).count() == 1


def test_bloom_membership_unit(spark, tmp_path):
    # a 2-row merge: the written file's bloom holds both keys and
    # rejects nearly every absent one
    t = _mk_table(spark, tmp_path, bits=1024)
    t.merge(_batch(spark, [("UPSERT", 1, "k1", "v1", "py", 1),
                           ("UPSERT", 2, "k2", "v2", "py", 2)]), batch_id=0)
    entries = [e for lst in t.manifest.buckets.values() for e in lst]
    assert entries and all("bloom" in e for e in entries)
    key_types = ["string", "string"]

    def holders(kv):
        pos = key_positions(kv, key_types, 1024)
        return [e for e in entries if bloom_might_contain(e["bloom"], pos)]

    assert holders(("k1", "v1"))
    assert holders(("k2", "v2"))
    misses = sum(
        not holders((f"miss{i}", "x")) for i in range(50)
    )
    assert misses >= 48  # ~1e-6 FPR at 2 keys / 1024 bits


def _bloom_bits(bloom) -> int:
    return int.from_bytes(base64.b64decode(bloom["b64"]), "little")


def _reference_bits(spark, t, path) -> int:
    """One file's bloom recomputed from its own rows with the write-side
    position expressions."""
    bits = int(t.manifest.props["point_index_bits"])
    v = 0
    for r in spark.read.parquet(path).select(
        F.explode(F.array(*_position_cols(t.manifest.key_cols, bits)))
    ).collect():
        v |= 1 << r[0]
    return v


def _assert_blooms_match_files(spark, t):
    """Each bucket's entries carry one bloom, equal to the OR of its
    files' reference blooms (the per-file bloom at one file per bucket)."""
    bits = int(t.manifest.props["point_index_bits"])
    for lst in t.manifest.buckets.values():
        if not lst:
            continue
        assert all(e["bloom"]["bits"] == bits and e["bloom"]["k"] == 3 for e in lst)
        assert len({e["bloom"]["b64"] for e in lst}) == 1
        want = 0
        for e in lst:
            want |= _reference_bits(spark, t, e["path"])
        assert _bloom_bits(lst[0]["bloom"]) == want


def _keyed_batch(spark, n, seq0=0):
    return spark.range(n).select(
        F.lit("UPSERT").alias("op"), (F.col("id") + seq0).alias("seq"),
        F.concat(F.lit("r"), (F.col("id") % 13).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        F.lit("py").alias("lang"), F.col("id").alias("n_bytes"),
    )


def test_in_write_bloom_equals_per_file_reference(spark, tmp_path):
    t = _mk_table(spark, tmp_path, bits=8192)
    t.merge(_keyed_batch(spark, 300), batch_id=0)
    files = [lst for lst in t.manifest.buckets.values() if lst]
    assert files and all(len(lst) == 1 for lst in files)  # one file per bucket
    for lst in files:
        e = lst[0]
        assert _bloom_bits(e["bloom"]) == _reference_bits(spark, t, e["path"])


def test_several_files_per_bucket_find_every_key(spark, tmp_path, aqe_coalesce_off):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4,
        write_mode="mor", write_salt=4, point_index_bits=4096,
    )
    t.merge(_keyed_batch(spark, 400), batch_id=0)
    assert max(len(lst) for lst in t.manifest.buckets.values()) > 1
    _assert_blooms_match_files(spark, t)
    key_types = ["string", "string"]
    entries = [e for lst in t.manifest.buckets.values() for e in lst]
    for e in entries:  # no file-level false negative
        for r in spark.read.parquet(e["path"]).select("repo", "path").collect():
            assert bloom_might_contain(
                e["bloom"], key_positions((r[0], r[1]), key_types, 4096))
    probes = [(f"r{i % 13}", f"f{i}") for i in range(0, 400, 10)]
    got = {(r["repo"], r["path"]) for r in t.lookup_keys(probes).collect()}
    assert got == set(probes)


@pytest.mark.parametrize("num_buckets,bits", [(4, 1000), (64, 1024), (16, 3000)])
def test_bloom_chunks_and_odd_sizes(spark, tmp_path, num_buckets, bits):
    # 1000 bits: not a multiple of 8 or 64; 64 x 1024: two 32,768-bit
    # chunks; 16 x 3000: bucket 10 straddles the chunk boundary (bucketed
    # on the whole key so 300 keys reach every bucket)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
        bucket_cols=["repo", "path"], num_buckets=num_buckets,
        write_mode="mor", point_index_bits=bits,
    )
    t.merge(_keyed_batch(spark, 300), batch_id=0)
    if num_buckets == 16:
        assert t.manifest.buckets.get("10")
    _assert_blooms_match_files(spark, t)
    probes = [("r3", "f3"), ("r0", "f299"), ("r1", "nope")]
    got = {(r["repo"], r["path"]) for r in t.lookup_keys(probes).collect()}
    assert got == {("r3", "f3"), ("r0", "f299")}


def test_compact_and_rebucket_entries_carry_blooms(spark, tmp_path):
    t = _mk_table(spark, tmp_path, bits=2048)
    for b in range(3):
        t.merge(_keyed_batch(spark, 120, seq0=1000 * b), batch_id=b)
    t.compact()
    assert all(e["kind"] == "base" for lst in t.manifest.buckets.values() for e in lst)
    _assert_blooms_match_files(spark, t)
    t.rebucket(8)
    assert t.manifest.num_buckets == 8
    _assert_blooms_match_files(spark, t)
    probes = [(f"r{i % 13}", f"f{i}") for i in (0, 7, 119)]
    got = {(r["repo"], r["path"]): r["n_bytes"] for r in t.lookup_keys(probes).collect()}
    assert got == {("r0", "f0"): 0, ("r7", "f7"): 7, ("r2", "f119"): 119}


def test_small_mor_merge_builds_bloom_without_extra_jobs(spark, tmp_path):
    """The bloom rides on the write: a small MoR merge on an indexed
    table runs no job of its own for it and at most 2 jobs in all. The
    batch fits the broadcast threshold, so it is reduced in one pass
    over the write's shuffle (the shuffle's map stage, then the reduce
    and write) — no winner list, no broadcast."""
    t = _mk_table(spark, tmp_path)
    t.merge(_keyed_batch(spark, 50), batch_id=0)  # warm the session
    sc = spark.sparkContext
    group = f"bloom-merge-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        t.merge(_keyed_batch(spark, 200, seq0=100), batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s).name for j in jobs for s in st.getJobInfo(j).stageIds]
    assert not [n for n in stages if "bloom.py" in n], stages
    assert 0 < len(jobs) <= 2, stages
    assert all("bloom" in e for lst in t.manifest.buckets.values() for e in lst)
