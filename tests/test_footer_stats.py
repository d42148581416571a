"""Distributed footer-stat parity: the parallelize path must produce
byte-identical stats to the driver loop (merge lineage depends on it)."""

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.lake.table import _footer_stats_many


def test_distributed_footer_stats_match_driver(spark, tmp_path):
    p = str(tmp_path / "p")
    spark.range(5000).select(
        F.col("id").alias("_seq"), (F.col("id") * 3).alias("x")
    ).repartition(40).write.parquet(p)
    import glob
    files = sorted(glob.glob(p + "/*.parquet"))
    assert len(files) == 40
    driver = _footer_stats_many(files, "_seq", spark=None)
    dist = _footer_stats_many(files, "_seq", spark=spark)  # 40 > threshold
    assert dist == driver
    total = sum(s["rows"] for s in dist.values())
    assert total == 5000
    lo = min(s["seq_min"] for s in dist.values())
    hi = max(s["seq_max"] for s in dist.values())
    assert (lo, hi) == (0, 4999)


def test_merge_lineage_unchanged_with_many_files(spark, tmp_path, aqe_coalesce_off):
    """A merge whose staged file count crosses the distribute threshold
    still records correct lineage/source stats."""
    schema = StructType().add("k", "long").add("v", "string")
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["k"], num_buckets=16, write_salt=4
    )
    ev = spark.range(20000).select(
        F.lit("UPSERT").alias("op"), F.col("id").alias("seq"),
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
    )
    s = t.merge(ev, batch_id=0)
    assert s["files_written"] > 32  # the distributed path actually ran
    assert s["source_events"] == 20000
    lin = t.lineage()
    assert lin.agg(F.sum("rows")).collect()[0][0] == 20000
    row = lin.select("seq_min", "seq_max").first()
    assert (row["seq_min"], row["seq_max"]) == (0, 19999)
    assert t.read().count() == 20000
