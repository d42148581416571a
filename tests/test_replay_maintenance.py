"""Scheduled maintenance inside the ingest drivers (compact_every):
interleaved compaction must be invisible to table state, keep
tombstones (the marker-less-replay invariant needs them), bound the
live file count, and count applied batches across replay() calls the
way a tailing loop delivers them.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.sources.synth import flatten_events, synth_change_events
from synapse_etl_jobs_spark.streaming import ReplayDriver
from synapse_etl_jobs_spark.streaming.replay import stream_into_table

SCHEMA = StructType().add("repo", "string").add("path", "string") \
    .add("commit", "string").add("lang", "string").add("content", "string")
KEYS = ["repo", "path", "commit"]
N = 1200
BATCH = 200


def _fp(df):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "bit_xor(xxhash64(repo, path, commit, lang, sha2(content, 256)))"
        ).alias("x"),
    ).collect()[0]
    return (row["n"], row["x"])


def _files(t):
    return sum(len(v) for v in t.manifest.buckets.values())


def test_compact_every_converges_and_bounds_files(spark, tmp_path):
    ev = flatten_events(
        synth_change_events(spark, N, seed=11, n_keys=N // 4)
    ).persist()
    try:
        plain = LakeTable.create(spark, str(tmp_path / "plain"), SCHEMA, KEYS,
                                 num_buckets=4, write_mode="mor")
        ReplayDriver(plain, batch_events=BATCH).replay(ev, seq_start=0, seq_end=N)

        maint = LakeTable.create(spark, str(tmp_path / "maint"), SCHEMA, KEYS,
                                 num_buckets=4, write_mode="mor")
        stats = ReplayDriver(
            maint, batch_events=BATCH, compact_every=2
        ).replay(ev, seq_start=0, seq_end=N)

        applied = [s for s in stats if s.get("applied", True)]
        assert len(applied) == N // BATCH
        compacts = [s["compact"] for s in applied if "compact" in s]
        # every 2nd applied batch compacted, stats ride along
        assert len(compacts) == len(applied) // 2
        assert all(c["applied"] and c["wall_sec"] >= 0 for c in compacts)
        # identical visible state, bounded file count
        assert _fp(maint.read()) == _fp(plain.read())
        assert _files(maint) < _files(plain)
        # markers intact: full re-replay is a marker no-op
        again = ReplayDriver(maint, batch_events=BATCH, compact_every=2) \
            .replay(ev, seq_start=0, seq_end=N)
        assert all(s.get("reason") == "batch_already_applied" for s in again)
        assert _fp(maint.read()) == _fp(plain.read())
    finally:
        ev.unpersist()


def test_compact_counter_spans_replay_calls(spark, tmp_path):
    """A tailing loop calls replay() once per poll; 'every K applied
    batches' counts across those calls, not per call."""
    ev = flatten_events(
        synth_change_events(spark, N, seed=12, n_keys=N // 4)
    ).persist()
    try:
        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS,
                             num_buckets=4, write_mode="mor")
        d = ReplayDriver(t, batch_events=BATCH, compact_every=3)
        compacts = 0
        for i in range(N // BATCH):  # one window per poll
            stats = d.replay(ev, seq_start=i * BATCH, seq_end=(i + 1) * BATCH)
            compacts += sum(1 for s in stats if "compact" in s)
        assert compacts == (N // BATCH) // 3
    finally:
        ev.unpersist()


def test_compact_every_keeps_tombstones(spark, tmp_path):
    """Maintenance must not GC tombstones: after compaction-interleaved
    replay, a STALE pre-delete update redelivered under a fresh batch id
    (the expired-marker shape) must not resurrect a deleted key."""
    rows = [
        ("r1", "a.py", "c1", "py", "v1", 1, "UPSERT"),
        ("r1", "a.py", "c1", "py", "v2", 2, "UPSERT"),
        ("r1", "a.py", "c1", None, None, 3, "DELETE"),
        ("r2", "b.py", "c2", "py", "w1", 4, "UPSERT"),
    ]
    ev = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string, seq long, op string")
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS,
                         num_buckets=2, write_mode="mor")
    stats = ReplayDriver(t, batch_events=2, compact_every=1) \
        .replay(ev, seq_start=1, seq_end=5)
    assert all("compact" in s for s in stats if s.get("applied", True))
    assert t.read().count() == 1  # r1 deleted, r2 live

    # stale pre-delete update, fresh batch id — marker can't short-circuit
    stale = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "v2", 2, "UPSERT")],
        "repo string, path string, commit string, lang string,"
        " content string, seq long, op string")
    t.merge(stale, batch_id="late-redelivery")
    assert t.read().filter(F.col("repo") == "r1").count() == 0


def test_vacuum_every_bounds_versions_and_disk(spark, tmp_path):
    """vacuum_every reclaims the manifest chain + dead files mid-ingest:
    state and markers unaffected, no orphan parquet left on disk,
    time travel bounded to retain_versions."""
    import os

    import pytest

    ev = flatten_events(
        synth_change_events(spark, N, seed=14, n_keys=N // 4)
    ).persist()
    try:
        plain = LakeTable.create(spark, str(tmp_path / "plain"), SCHEMA, KEYS,
                                 num_buckets=4, write_mode="mor")
        ReplayDriver(plain, batch_events=BATCH).replay(ev, seq_start=0, seq_end=N)

        root = str(tmp_path / "m")
        t = LakeTable.create(spark, root, SCHEMA, KEYS,
                             num_buckets=4, write_mode="mor")
        stats = ReplayDriver(
            t, batch_events=BATCH, compact_every=2, vacuum_every=2,
            vacuum_opts={"retain_versions": 1},
        ).replay(ev, seq_start=0, seq_end=N)
        applied = [s for s in stats if s.get("applied", True)]
        vacs = [s["vacuum"] for s in applied if "vacuum" in s]
        assert len(vacs) == len(applied) // 2
        assert all(v["wall_sec"] >= 0 for v in vacs)
        # compact fired on the same batches BEFORE vacuum, so vacuum
        # reclaimed the files compaction obsoleted immediately
        assert vacs[-1]["deleted_data_files"] > 0

        assert _fp(t.read()) == _fp(plain.read())
        # no orphans: every parquet on disk is referenced by the manifest
        on_disk = sum(
            1 for _, _, fns in os.walk(os.path.join(root, "data"))
            for f in fns if f.endswith(".parquet")
        )
        assert on_disk == _files(t)
        # manifest chain bounded: root version files == retain_versions
        roots = [f for f in os.listdir(os.path.join(root, "_manifests"))
                 if f.startswith("v") and f.endswith(".json")]
        assert len(roots) == 1
        # markers intact: full re-replay short-circuits
        again = ReplayDriver(t, batch_events=BATCH).replay(
            ev, seq_start=0, seq_end=N)
        assert all(s.get("reason") == "batch_already_applied" for s in again)
        # time travel beyond the retained window is gone
        with pytest.raises(Exception):
            LakeTable.load(spark, root, version=1).read().count()
    finally:
        ev.unpersist()


def test_stream_into_table_compact_every(spark, tmp_path):
    """Structured-Streaming path: one file per micro-batch, compaction
    after every 2 applied batches, state equal to a one-shot merge."""
    src = tmp_path / "src"
    src.mkdir()
    ev = flatten_events(
        synth_change_events(spark, N, seed=13, n_keys=N // 4)
    ).persist()
    try:
        for i in range(4):
            ev.filter(
                (F.col("seq") >= i * (N // 4)) & (F.col("seq") < (i + 1) * (N // 4))
            ).coalesce(1).write.parquet(str(src / f"f{i}"))
        stream = (
            spark.readStream.schema(
                spark.read.parquet(str(src / "f0")).schema
            ).option("maxFilesPerTrigger", 1)
            .parquet(str(src / "f*"))
        )
        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS,
                             num_buckets=4, write_mode="mor")
        stream_into_table(
            t, stream, str(tmp_path / "ckpt"), compact_every=2,
        )
        oracle = LakeTable.create(spark, str(tmp_path / "o"), SCHEMA, KEYS,
                                  num_buckets=4, write_mode="mor")
        oracle.merge(ev, batch_id=0)
        assert _fp(t.read()) == _fp(oracle.read())
        assert _files(t) <= _files(oracle) * 2
    finally:
        ev.unpersist()


@pytest.mark.parametrize("batch_events", [0, -5, None])
def test_replay_driver_rejects_window_width(spark, tmp_path, batch_events):
    """Without ``num_batches`` the window width must be >= 1: replay()
    would divide by a zero width, fail on ``None``, and find no windows
    for a negative one — silently ingesting nothing."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS,
                         num_buckets=4, write_mode="mor")
    with pytest.raises(ValueError, match="batch_events"):
        ReplayDriver(t, batch_events=batch_events)
    # a derived width needs no batch_events
    ReplayDriver(t, batch_events=batch_events, num_batches=2)


def test_stream_into_table_rejects_compact_every_zero(spark, tmp_path):
    """``stream_into_table`` validates its maintenance schedule like
    ``ReplayDriver`` does, before the query starts: ``compact_every=0``
    would otherwise never compact, and a negative K compacts every |K|."""
    src = tmp_path / "src"
    flatten_events(synth_change_events(spark, 50, seed=14, n_keys=10)) \
        .coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(spark.read.parquet(str(src)).schema) \
        .parquet(str(src))
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS,
                         num_buckets=4, write_mode="mor")
    for every in (0, -2):
        with pytest.raises(ValueError, match="compact_every"):
            stream_into_table(t, stream, str(tmp_path / "ckpt"), compact_every=every)
    with pytest.raises(ValueError, match="vacuum_every"):
        stream_into_table(t, stream, str(tmp_path / "ckpt"), vacuum_every=0)
    assert t.manifest.table_version == 0
    assert not (tmp_path / "ckpt").exists()
