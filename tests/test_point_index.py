"""Per-file key bloom index (lake/bloom.py + LakeTable.lookup_keys):
driver/executor hash agreement, no false negatives, real file pruning
on merge-on-read delta stacks, and correctness with the index off."""

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.lake.bloom import (
    bloom_might_contain,
    compute_file_blooms,
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
    # build a bloom over a tiny parquet and check membership directly
    p = str(tmp_path / "f.parquet")
    spark.createDataFrame(
        [("k1", "v1"), ("k2", "v2")], "repo string, path string"
    ).coalesce(1).write.parquet(p)
    import glob
    f = glob.glob(p + "/*.parquet")[0]
    blooms = compute_file_blooms(
        spark, [f], StructType().add("repo", "string").add("path", "string"), 1024
    )
    assert list(blooms) == [f]
    b = blooms[f]
    assert bloom_might_contain(b, key_positions(("k1", "v1"), ["string", "string"], 1024))
    assert bloom_might_contain(b, key_positions(("k2", "v2"), ["string", "string"], 1024))
    misses = sum(
        not bloom_might_contain(
            b, key_positions((f"miss{i}", "x"), ["string", "string"], 1024)
        )
        for i in range(50)
    )
    assert misses >= 48  # ~1e-6 FPR at 2 keys / 1024 bits
