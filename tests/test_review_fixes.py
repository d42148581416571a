"""Regression tests for the round-1 review findings (ADVICE.md):

1. replay window ids above 2^53 use exact integer division — float
   division misassigned events to adjacent windows (silent data loss);
2. salted bucket writes decorrelate salt from the bucket hash — for
   single-key tables the old salt was a pure function of the bucket and
   the straggler defusal was a silent no-op;
3. stateful_lww_filter never crashes on null-seq events (drops them
   deterministically in every state);
4. rp_signatures/rp_lsh_topk keep null/empty-vector rows (signature 0)
   instead of silently dropping them at posexplode.
"""

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.operators.similarity import rp_lsh_topk, rp_signatures
from synapse_etl_jobs_spark.streaming import ReplayDriver
from synapse_etl_jobs_spark.streaming.replay import window_id

SCHEMA = StructType().add("k", "long").add("v", "string")


def test_window_id_exact_above_2_53(spark):
    """seq = 2^53+1 with batch_events=1: float division rounds the seq to
    2^53 and computes window 2^53 — the wrong window. Integer div must
    give 2^53+1."""
    big = 2**53
    df = spark.createDataFrame([(big + 1,), (big + 3,)], "seq long")
    got = sorted(r[0] for r in df.select(window_id("seq", 1)).collect())
    assert got == [big + 1, big + 3]
    # and the float formulation really is wrong for this input (the bug)
    bad = sorted(r[0] for r in df.select(F.floor(F.col("seq") / 1)).collect())
    assert bad != got


def test_replay_no_loss_above_2_53(spark, tmp_path):
    """End-to-end: events with seqs just above 2^53 must all be merged;
    with the float pre-pass their windows were marked empty and the
    events silently dropped."""
    big = 2**53
    rows = [("UPSERT", big + o, o, f"v{o}") for o in (1, 3)]
    ev = spark.createDataFrame(rows, "op string, seq long, k long, v string")
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], num_buckets=2)
    ReplayDriver(t, batch_events=1).replay(ev, seq_start=big, seq_end=big + 4)
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "v1"), (3, "v3")}


def test_salted_write_spreads_within_bucket(spark, tmp_path, aqe_coalesce_off):
    """Single-key table, salt dividing num_buckets: the old bucket-derived
    salt put every row of a bucket on one salt value (1 file/bucket).
    The decorrelated salt must spread a bucket's distinct keys over
    multiple writer tasks → >1 file for at least one bucket."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"],
        num_buckets=4, write_salt=4,
    )
    ev = spark.range(2000).select(
        F.lit("UPSERT").alias("op"), F.col("id").alias("seq"),
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
    )
    t.merge(ev, batch_id=0)
    files_per_bucket = [len(v) for v in t.manifest.buckets.values() if v]
    assert max(files_per_bucket) > 1, files_per_bucket
    # correctness unchanged: every key present exactly once
    assert t.read().count() == 2000


def test_stateful_lww_filter_null_seq(spark, tmp_path):
    """A first-seen key whose rows all carry null seq must not kill the
    micro-batch (old code: int(NaN) → ValueError); null-seq rows are
    dropped, non-null rows pass."""
    from synapse_etl_jobs_spark.streaming.stateful import stateful_lww_filter

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, None, "dead"), (1, None, "dead2"), (2, 10, "live")],
        "k int, seq long, v string",
    ).write.json(src)
    stream = spark.readStream.schema("k int, seq long, v string").json(src)
    out = stateful_lww_filter(stream, ["k"], "seq")
    q = (
        out.writeStream.format("memory").queryName("null_seq_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = [(r["k"], r["seq"], r["v"]) for r in spark.sql(
        "SELECT * FROM null_seq_t").collect()]
    assert got == [(2, 10, "live")]


def test_rp_signatures_keep_null_and_empty_vectors(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.25]), (2, []), (3, None)],
        "vec_id long, embedding array<float>",
    )
    sigs = rp_signatures(df, id_col="vec_id", vec_col="embedding", bits=4, tables=2)
    rows = {(r["vec_id"], r["table"]): r["sig"] for r in sigs.collect()}
    # every id present in every table
    assert set(rows) == {(i, t) for i in (1, 2, 3) for t in (0, 1)}
    # null/empty vectors → signature 0
    for t in (0, 1):
        assert rows[(2, t)] == 0 and rows[(3, t)] == 0


def test_rp_lsh_topk_empty_vector_query_matches_empty_corpus_row(spark):
    """An empty-vector query used to vanish from the output entirely;
    now it collides with the corpus's empty-vector rows (signature 0)."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [])], "vec_id long, embedding array<float>"
    )
    out = rp_lsh_topk(corpus, queries, k=2, bits=4, tables=2)
    got = [(r["query_id"], r["neighbor_id"]) for r in out.collect()]
    assert got == [(100, 3)]
