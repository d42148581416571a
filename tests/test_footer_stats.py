"""Footer stats of written files: lineage rows/seq range and the
per-file ``stats_cols`` ranges come from ONE read of each footer, with
columns matched on their full path in the parquet schema."""

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable


def test_merge_lineage_unchanged_with_many_files(spark, tmp_path, aqe_coalesce_off):
    """A merge writing many files per commit (64 at 16 buckets x salt
    4) records correct lineage/source stats from their footers."""
    schema = StructType().add("k", "long").add("v", "string")
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], num_buckets=16, write_salt=4
    )
    ev = spark.range(20000).select(
        F.lit("UPSERT").alias("op"), F.col("id").alias("seq"),
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
    )
    s = t.merge(ev, batch_id=0)
    assert s["files_written"] > 32  # many footers read in one commit
    assert s["source_events"] == 20000
    lin = t.lineage()
    assert lin.agg(F.sum("rows")).collect()[0][0] == 20000
    row = lin.select("seq_min", "seq_max").first()
    assert (row["seq_min"], row["seq_max"]) == (0, 19999)
    assert t.read().count() == 20000


def test_nested_namesake_column_does_not_lend_its_stats(spark, tmp_path):
    """A struct field named like a top-level column (``meta.lang`` vs
    ``lang``, ``meta._seq`` vs ``_seq``) comes first among the parquet
    leaves; stats must still be the top-level column's, or scan_range
    prunes files holding in-range rows and lineage reports the wrong
    seq range."""
    meta = StructType().add("lang", "string").add("_seq", "long")
    schema = StructType().add("k", "long").add("meta", meta).add("lang", "string")
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], num_buckets=1,
        write_mode="cow", stats_cols=["lang"],
    )
    ev = spark.createDataFrame(
        [(1, ("zz", 1000), "go", "UPSERT", 1),
         (2, ("zz", 1000), "py", "UPSERT", 2),
         (3, ("zz", 1000), "rb", "UPSERT", 3)],
        "k long, meta struct<lang:string, _seq:long>, lang string, "
        "op string, seq long",
    )
    t.merge(ev, batch_id=0)
    entries = [e for lst in t.manifest.buckets.values() for e in lst]
    assert [e["stats"] for e in entries] == [{"lang": ["go", "rb"]}]
    row = t.lineage().select("seq_min", "seq_max").first()
    assert (row["seq_min"], row["seq_max"]) == (1, 3)

    got = sorted(r["k"] for r in t.scan_range({"lang": ("go", "py")}).collect())
    want = sorted(
        r["k"] for r in t.read().filter("lang between 'go' and 'py'").collect()
    )
    assert got == want == [1, 2]
