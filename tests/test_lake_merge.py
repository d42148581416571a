"""End-to-end CDC tests: synthesize a change stream, replay it through
LakeTable.merge, and compare the final table state (row set + per-row
sha256(content)) against a brute-force pandas oracle — SURVEY.md §5 test 2,
the north rule's correctness invariant."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.sources.synth import flatten_events, synth_change_events

SCHEMA = StructType().add("repo", "string").add("path", "string") \
    .add("commit", "string").add("lang", "string").add("content", "string")
KEYS = ["repo", "path", "commit"]


def pandas_oracle(events_pdf: pd.DataFrame) -> pd.DataFrame:
    """Brute-force LWW reduction: per key keep the max-seq event; drop keys
    whose winner is a DELETE."""
    idx = events_pdf.groupby(["repo", "path", "commit"])["seq"].idxmax()
    final = events_pdf.loc[idx]
    final = final[final["op"] != "DELETE"]
    out = final[["repo", "path", "commit", "lang", "content"]].reset_index(drop=True)
    out["content_sha"] = out["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    return out.sort_values(KEYS).reset_index(drop=True)


def table_state(table: LakeTable) -> pd.DataFrame:
    df = table.read().withColumn("content_sha", F.sha2(F.col("content"), 256))
    pdf = df.toPandas()
    return pdf.sort_values(KEYS).reset_index(drop=True)[
        ["repo", "path", "commit", "lang", "content", "content_sha"]
    ]


def assert_states_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    assert len(actual) == len(expected), (len(actual), len(expected))
    pd.testing.assert_frame_equal(actual, expected, check_dtype=False)


@pytest.fixture(scope="module")
def events(spark):
    ev = flatten_events(synth_change_events(spark, 4000, seed=7, n_keys=800))
    ev.persist()
    yield ev
    ev.unpersist()


def test_merge_single_batch(spark, events, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    stats = t.merge(events, batch_id=0)
    assert stats["applied"]
    assert_states_equal(table_state(t), pandas_oracle(events.toPandas()))


def test_merge_multi_batch_replay(spark, events, tmp_table_path):
    """Replay in 4 seq-ordered batches → same final state as one batch."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    for i in range(4):
        batch = events.filter(
            (F.col("seq") >= i * 1000) & (F.col("seq") < (i + 1) * 1000)
        )
        t.merge(batch, batch_id=i)
    assert_states_equal(table_state(t), pandas_oracle(events.toPandas()))


def test_merge_idempotent_re_merge(spark, events, tmp_table_path):
    """Re-merging an already-applied batch (even WITHOUT the marker) is a
    no-op on table state — LWW on stored _seq wins over replayed events."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    t.merge(events, batch_id=0)
    before = table_state(t)
    # marker path: same batch_id → short-circuit
    stats = t.merge(events, batch_id=0)
    assert not stats["applied"]
    # no-marker path: replay a stale suffix with a fresh batch_id
    stale = events.filter(F.col("seq") < 2000)
    stats2 = t.merge(stale, batch_id=99)
    assert stats2["applied"]
    assert_states_equal(table_state(t), before)


def test_merge_out_of_order_batches(spark, events, tmp_table_path):
    """Batches applied out of seq order reconverge to the same state."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    for i in [2, 0, 3, 1]:
        batch = events.filter(
            (F.col("seq") >= i * 1000) & (F.col("seq") < (i + 1) * 1000)
        )
        t.merge(batch, batch_id=i)
    assert_states_equal(table_state(t), pandas_oracle(events.toPandas()))


def test_salted_merge_same_result(spark, events, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    t.merge(events, batch_id=0, salt_buckets=8)
    assert_states_equal(table_state(t), pandas_oracle(events.toPandas()))


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_small_batch_writes_one_file_per_bucket(spark, tmp_table_path, mode):
    """The write salt splits large buckets, not small batches: a 2,000-key
    merge into 4 buckets with write_salt=4 coalesces to one file per
    touched bucket instead of num_buckets × write_salt tiny files."""
    t = LakeTable.create(
        spark, tmp_table_path, StructType().add("k", "long").add("v", "string"),
        ["k"], num_buckets=4, write_mode=mode, write_salt=4,
    )
    ev = spark.range(2000).select(
        F.lit("UPSERT").alias("op"), F.col("id").alias("seq"),
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
    )
    s = t.merge(ev, batch_id=0)
    files_per_bucket = sorted(len(v) for v in t.manifest.buckets.values())
    assert files_per_bucket == [1, 1, 1, 1], files_per_bucket
    assert s["files_written"] == 4
    assert t.read().count() == 2000


def test_small_cow_merge_runs_five_jobs_without_staging(spark, tmp_table_path):
    """A CoW merge folds the raw batch into the touched buckets: a
    keys-only pass (shuffle, collect), then the fold (reduce shuffle,
    write shuffle, write) — at most 5 jobs, and nothing staged."""
    import os

    t = LakeTable.create(
        spark, tmp_table_path, StructType().add("k", "long").add("v", "string"),
        ["k"], num_buckets=4, write_mode="cow", write_salt=4,
    )

    def batch(n, seq0):
        return spark.range(n).select(
            F.lit("UPSERT").alias("op"), (F.col("id") + seq0).alias("seq"),
            F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
        )

    t.merge(batch(100, 0), batch_id=0)  # warm the session
    sc = spark.sparkContext
    group = f"cow-merge-{os.path.basename(os.path.dirname(tmp_table_path))}"
    sc.setJobGroup(group, group)
    try:
        t.merge(batch(200, 1000), batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s).name for j in jobs for s in st.getJobInfo(j).stageIds]
    assert 0 < len(jobs) <= 5, stages
    assert not os.path.exists(os.path.join(tmp_table_path, "_staging"))
    assert t.read().count() == 200


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_equal_seq_delete_wins_however_batched(spark, tmp_table_path, mode):
    """One tie rule for every LWW reduce: a DELETE and an upsert with the
    same seq and payload leave the key deleted, whether they arrive in
    one batch (UPDATE+DELETE, CREATE+DELETE) or in two (U then D, D then
    U), on both write modes."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2,
                         write_mode=mode)
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")

    def ev(op, key):
        return (op, 5, "r", key, "c", "python", "same")

    t.merge(spark.createDataFrame([
        ev("UPDATE", "ud"), ev("DELETE", "ud"),
        ev("CREATE", "cd"), ev("DELETE", "cd"),
        ev("UPDATE", "u_then_d"), ev("DELETE", "d_then_u"),
        ev("UPDATE", "live"),
    ], ddl), batch_id=0)
    t.merge(spark.createDataFrame(
        [ev("DELETE", "u_then_d"), ev("UPDATE", "d_then_u")], ddl), batch_id=1)
    assert [r["path"] for r in t.read().collect()] == ["live"]
    probes = [("r", p, "c") for p in ("ud", "cd", "u_then_d", "d_then_u", "live")]
    assert [r["path"] for r in t.lookup_keys(probes).collect()] == ["live"]


def test_failed_cow_fold_leaves_table_unchanged(spark, tmp_table_path, monkeypatch):
    """A CoW fold that fails after writing commits nothing: the version
    and the snapshot are unchanged, and vacuum reclaims every file the
    failed merge wrote."""
    import glob
    import os

    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")
    t.merge(spark.createDataFrame(
        [("INSERT", 1, "r", f"p{i}", "c", "python", "v1") for i in range(20)], ddl
    ), batch_id=0)
    version, before = t.manifest.table_version, sorted(t.read().collect())

    def files():
        return set(glob.glob(os.path.join(tmp_table_path, "data", "**", "*.parquet"),
                             recursive=True))

    kept = files()
    real_write = LakeTable._salted_bucket_write

    def write_then_fail(self, *args, **kwargs):
        real_write(self, *args, **kwargs)
        raise RuntimeError("injected fold failure")

    monkeypatch.setattr(LakeTable, "_salted_bucket_write", write_then_fail)
    update = spark.createDataFrame(
        [("UPDATE", 2, "r", f"p{i}", "c", "python", "v2") for i in range(20)], ddl
    )
    with pytest.raises(RuntimeError, match="injected fold failure"):
        t.merge(update, batch_id=1)
    monkeypatch.undo()
    assert files() > kept  # the failed merge did write
    assert t.manifest.table_version == version
    reloaded = LakeTable.load(spark, tmp_table_path)
    assert reloaded.manifest.table_version == version
    assert sorted(reloaded.read().collect()) == before
    assert not reloaded.is_batch_applied("default", 1)
    reloaded.vacuum(grace_seconds=0)
    assert files() == kept
    assert sorted(reloaded.read().collect()) == before


def test_delete_semantics(spark, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=4)
    rows = [
        ("INSERT", 1, "r1", "a.py", "c1", "python", "v1"),
        ("UPDATE", 2, "r1", "a.py", "c1", "python", "v2"),
        ("DELETE", 3, "r1", "a.py", "c1", None, None),
        ("INSERT", 4, "r1", "b.py", "c2", "python", "x1"),
        ("DELETE", 5, "r9", "ghost.py", "c9", None, None),  # delete of absent key
    ]
    updates = spark.createDataFrame(
        rows, "op string, seq long, repo string, path string, commit string, "
        "lang string, content string"
    )
    t.merge(updates, batch_id=0)
    state = t.read().collect()
    assert len(state) == 1
    assert state[0]["path"] == "b.py" and state[0]["content"] == "x1"
    # late-arriving stale update for the deleted key must stay dead
    late = spark.createDataFrame(
        [("UPDATE", 2, "r1", "a.py", "c1", "python", "v2-late")],
        "op string, seq long, repo string, path string, commit string, "
        "lang string, content string",
    )
    t.merge(late, batch_id=1)
    assert t.read().count() == 1


def test_lineage_rows(spark, events, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    t.merge(events, batch_id=0, stream_id="s1")
    lin = t.lineage().toPandas()
    assert (lin["stream_id"] == "s1").all()
    # lineage counts stored rows, which include tombstones
    assert lin["rows"].sum() == t.read(include_internal=True).count()
    assert lin["seq_max"].max() >= 3999


def test_bucket_pruned_scan(spark, events, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    t.merge(events, batch_id=0)
    full = table_state(t)
    one_repo = full[full["repo"] == full["repo"].iloc[0]]
    got = t.scan_keys([(one_repo["repo"].iloc[0],)]).filter(
        F.col("repo") == one_repo["repo"].iloc[0]
    )
    assert got.count() == len(one_repo)


def test_mor_multi_batch_replay(spark, events, tmp_table_path):
    """Merge-on-read: merges append deltas only; reads LWW-reduce; state
    equals the oracle; compaction folds deltas without changing state."""
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8, write_mode="mor"
    )
    for i in range(4):
        batch = events.filter(
            (F.col("seq") >= i * 1000) & (F.col("seq") < (i + 1) * 1000)
        )
        s = t.merge(batch, batch_id=i)
        assert s["mode"] == "mor"
    expected = pandas_oracle(events.toPandas())
    assert_states_equal(table_state(t), expected)
    # deltas accumulated: >1 file per bucket before compaction
    n_entries = sum(len(v) for v in t.manifest.buckets.values())
    assert n_entries > 8
    t.compact()
    assert all(
        e["kind"] == "base" for v in t.manifest.buckets.values() for e in v
    )
    assert_states_equal(table_state(t), expected)


def test_mor_delete_and_stale_update(spark, tmp_table_path):
    t = LakeTable.create(
        spark, tmp_table_path, SCHEMA, KEYS, num_buckets=4, write_mode="mor"
    )
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")
    t.merge(spark.createDataFrame(
        [("INSERT", 1, "r1", "a.py", "c1", "python", "v1")], ddl), batch_id=0)
    t.merge(spark.createDataFrame(
        [("DELETE", 3, "r1", "a.py", "c1", None, None)], ddl), batch_id=1)
    t.merge(spark.createDataFrame(
        [("UPDATE", 2, "r1", "a.py", "c1", "python", "zombie")], ddl), batch_id=2)
    assert t.read().count() == 0


def test_time_travel(spark, events, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=8)
    t.merge(events.filter(F.col("seq") < 2000), batch_id=0)
    v1_count = t.read().count()
    t.merge(events.filter(F.col("seq") >= 2000), batch_id=1)
    old = LakeTable.load(spark, tmp_table_path, version=1)
    assert old.read().count() == v1_count


def test_dedup_strategies_identical(spark, events):
    """"agg", "semijoin" (broadcast and plain-join), and salted dedup all
    produce the same winner set — including on exact-duplicate delivery
    (the synth stream re-emits every 17th event verbatim)."""
    from synapse_etl_jobs_spark.operators.dedup import (
        dedup_lww, dedup_lww_salted, dedup_lww_semijoin,
    )

    base = dedup_lww(events, KEYS, "seq")
    for variant in (
        dedup_lww(events, KEYS, "seq", strategy="semijoin"),
        dedup_lww_semijoin(events, KEYS, "seq", broadcast=False),
        dedup_lww_salted(events, KEYS, "seq", salt_buckets=8),
    ):
        assert variant.exceptAll(base).isEmpty()
        assert base.exceptAll(variant).isEmpty()


def test_merge_dedup_strategy_param(spark, events, tmp_table_path):
    """merge(dedup_strategy="agg") and the default semijoin path agree."""
    t1 = LakeTable.create(spark, tmp_table_path + "_sj", SCHEMA, KEYS, num_buckets=4)
    t1.merge(events, batch_id=0)
    t2 = LakeTable.create(spark, tmp_table_path + "_agg", SCHEMA, KEYS, num_buckets=4)
    t2.merge(events, batch_id=0, dedup_strategy="agg")
    assert_states_equal(table_state(t1), table_state(t2))


def test_vacuum_expires_old_versions(spark, events, tmp_table_path):
    """vacuum keeps the newest N versions' files, deletes superseded CoW
    rewrites and expired manifests; current reads are unaffected and
    time travel to expired versions fails."""
    import glob
    import os

    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=4)
    for i in range(3):
        t.merge(events.filter(
            (F.col("seq") >= i * 1300) & (F.col("seq") < (i + 1) * 1300)
        ), batch_id=i)
    before_files = len(glob.glob(os.path.join(tmp_table_path, "data", "**", "*.parquet"),
                                 recursive=True))
    state_before = table_state(t)

    stats = t.vacuum(retain_versions=1, grace_seconds=0)
    assert stats["deleted_data_files"] > 0
    assert stats["expired_manifests"] == 3  # v0..v2 gone, v3 kept
    after_files = len(glob.glob(os.path.join(tmp_table_path, "data", "**", "*.parquet"),
                                recursive=True))
    assert after_files < before_files

    # current snapshot unaffected (state identical), fresh load works
    assert_states_equal(table_state(LakeTable.load(spark, tmp_table_path)), state_before)
    # expired version is really gone (clear time-travel error)
    with pytest.raises(ValueError, match="does not exist"):
        LakeTable.load(spark, tmp_table_path, version=1)


def test_vacuum_retains_mor_deltas(spark, events, tmp_table_path):
    """In MoR mode every delta file is still referenced by the current
    manifest — vacuum must delete nothing until compaction supersedes."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS,
                         num_buckets=4, write_mode="mor")
    t.merge(events.filter(F.col("seq") < 1000), batch_id=0)
    t.merge(events.filter(F.col("seq") >= 1000), batch_id=1)
    assert t.vacuum(retain_versions=1, grace_seconds=0)["deleted_data_files"] == 0
    state = table_state(t)
    t.compact()
    stats = t.vacuum(retain_versions=1, grace_seconds=0)
    assert stats["deleted_data_files"] > 0  # pre-compaction deltas expired
    assert_states_equal(table_state(LakeTable.load(spark, tmp_table_path)), state)


def test_extreme_skew_correctness(spark, tmp_table_path):
    """SURVEY §5 test 5: one hot repo owns ~half the events — replay
    correctness is unchanged through both the semijoin (default) and the
    salted-agg dedup paths."""
    ev = flatten_events(
        synth_change_events(spark, 6000, seed=13, n_keys=1500, skew_exp=8.0)
    ).persist()
    try:
        n_ev = ev.count()  # includes dup_every re-deliveries (> 6000)
        top = (ev.groupBy("repo").count().orderBy(F.col("count").desc()).first())
        assert top["count"] / n_ev > 0.4  # genuinely pathological skew

        oracle = pandas_oracle(ev.toPandas())
        t1 = LakeTable.create(spark, tmp_table_path + "_sj", SCHEMA, KEYS, num_buckets=4)
        t1.merge(ev, batch_id=0)  # semijoin default
        assert_states_equal(table_state(t1), oracle)

        t2 = LakeTable.create(spark, tmp_table_path + "_salt", SCHEMA, KEYS, num_buckets=4)
        t2.merge(ev, batch_id=0, salt_buckets=8)  # salted two-phase agg
        assert_states_equal(table_state(t2), oracle)
    finally:
        ev.unpersist()


def test_nested_payload_columns(spark, tmp_table_path):
    """Payload columns may be structs/arrays (reference N4: typed nested
    snapshots) — they round-trip through merge, LWW, and tombstones."""
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType as ST,
    )

    schema = ST([
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("meta", ST([
            StructField("stars", LongType()),
            StructField("topics", ArrayType(StringType())),
        ])),
    ])
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "meta struct<stars:bigint, topics:array<string>>")
    t = LakeTable.create(spark, tmp_table_path, schema, KEYS, num_buckets=2)
    t.merge(spark.createDataFrame([
        ("INSERT", 1, "r", "a.py", "c1", (5, ["etl"])),
        ("INSERT", 2, "r", "b.py", "c1", (9, ["spark", "cdc"])),
    ], ddl), batch_id=0)
    t.merge(spark.createDataFrame([
        ("UPDATE", 3, "r", "a.py", "c1", (6, ["etl", "lake"])),
        ("DELETE", 4, "r", "b.py", "c1", None),
    ], ddl), batch_id=1)
    rows = {r["path"]: r for r in t.read().collect()}
    assert set(rows) == {"a.py"}
    assert rows["a.py"]["meta"]["stars"] == 6
    assert rows["a.py"]["meta"]["topics"] == ["etl", "lake"]


def test_scan_keys_int_bucket_column(spark, tmp_table_path):
    """Probe values must be hashed with the TABLE's column type — an
    IntegerType bucket column probed via pandas-inferred int64 would
    compute a different xxhash64 bucket and silently miss rows."""
    from pyspark.sql.types import StructType as ST

    schema = ST().add("id", "integer").add("v", "string")
    t = LakeTable.create(spark, tmp_table_path, schema, ["id"], num_buckets=8)
    t.merge(spark.createDataFrame(
        [("INSERT", i, i, f"v{i}") for i in range(50)],
        "op string, seq long, id int, v string"), batch_id=0)
    got = {r["id"]: r["v"] for r in t.scan_keys([(7,), (23,)]).collect()
           if r["id"] in (7, 23)}
    assert got == {7: "v7", 23: "v23"}


def test_scan_keys_column_pruned_point_read(spark, tmp_table_path):
    """scan_keys(columns=...) returns keys + the named columns with the
    SAME LWW winners as the full read (exact whenever stored versions
    don't tie on (_seq, _fold) — distinct seqs here; see _current_view
    for the equal-seq-tie caveat), and the pruning reaches the parquet
    scan (the plan's ReadSchema excludes unrequested payload) — a wide
    text/blob column never leaves disk on a slim point read. Unknown
    column names raise, and the empty-bucket branch returns the same
    column order as the non-empty one."""
    from pyspark.sql.types import StructType as ST

    schema = ST().add("id", "long").add("small", "string").add("big", "string")
    t = LakeTable.create(spark, tmp_table_path, schema, ["id"],
                         num_buckets=4, write_mode="mor")
    t.merge(spark.createDataFrame(
        [("INSERT", i, i, f"s{i}", "x" * 50) for i in range(40)],
        "op string, seq long, id long, small string, big string"),
        batch_id=0)
    # second batch updates some keys and deletes one: the pruned read
    # must resolve the MoR multi-version winners identically
    t.merge(spark.createDataFrame(
        [("UPDATE", 100, 7, "S7", "y"), ("DELETE", 101, 9, None, None)],
        "op string, seq long, id long, small string, big string"),
        batch_id=1)
    keys = [(7,), (9,), (11,)]
    full = {r["id"]: r["small"] for r in t.scan_keys(keys).collect()
            if r["id"] in (7, 9, 11)}
    slim_df = t.scan_keys(keys, columns=["small"])
    assert set(slim_df.columns) == {"id", "small"}
    slim = {r["id"]: r["small"] for r in slim_df.collect()
            if r["id"] in (7, 9, 11)}
    assert slim == full == {7: "S7", 11: "s11"}  # 9 deleted
    plan = slim_df._jdf.queryExecution().executedPlan().toString()
    assert "big:string" not in plan, "unrequested column leaked into the scan"
    assert "small:string" in plan  # the requested one did reach the scan
    # unknown columns are rejected regardless of bucket content
    with pytest.raises(ValueError, match="not in the table schema"):
        t.scan_keys(keys, columns=["nope"])
    # empty-bucket branch: same (keys, requested) column order as the
    # non-empty branch — probe a key whose bucket holds no files
    empty = LakeTable.create(
        spark, tmp_table_path + "_empty", schema, ["id"], num_buckets=4
    )
    e = empty.scan_keys([(1,)], columns=["big", "small"])
    assert e.columns == ["id", "big", "small"]
    assert t.scan_keys(keys, columns=["big", "small"]).columns == \
        ["id", "big", "small"]


def test_lineage_empty_before_first_merge(spark, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    assert t.lineage().count() == 0


def test_evolve_add_column_accepts_ddl_type_strings(spark, tmp_table_path):
    """add_columns type strings are DDL ("int", "array<string>"), not
    StructType.add's JSON-only names ("integer") — a user writing the
    natural DDL name must not crash (found by a verify drive)."""
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    t.evolve_schema(add_columns=[("stars", "int"), ("tags", "array<string>")])
    fields = {f.name: f.dataType.simpleString()
              for f in t.manifest.current_schema().fields}
    assert fields["stars"] == "int" and fields["tags"] == "array<string>"
    assert {"stars", "tags"} <= set(t.read().columns)


def test_evolve_rename_collision_rejected(spark, tmp_table_path):
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    with pytest.raises(ValueError, match="collides"):
        t.evolve_schema(renames={"lang": "content"})
    with pytest.raises(ValueError, match="same target"):
        t.evolve_schema(renames={"lang": "x", "content": "x"})
    with pytest.raises(ValueError, match="not in schema"):
        t.evolve_schema(renames={"nope": "x"})


def test_evolve_drop_column(spark, tmp_table_path):
    """drop_columns removes a column without rewrite: reads project it
    away across epochs, merges continue with the new shape, time travel
    still sees it, and the NAME is permanently retired (re-adding or
    renaming onto it would resurrect old files' values by name)."""
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    t.merge(spark.createDataFrame(
        [("UPSERT", 1, "r", "a.py", "c", "python", "v1")], ddl), batch_id=0)
    v_before = t.manifest.table_version

    t.evolve_schema(drop_columns=["lang"])
    assert "lang" not in t.read().columns
    # old-epoch row still readable, minus the dropped column
    assert t.read().select("repo", "content").collect()[0]["content"] == "v1"
    # time travel to the pre-drop version still sees it
    assert t.read_version(v_before).select("lang").collect()[0][0] == "python"

    # merges continue; a batch still carrying the column is ignored
    t.merge(spark.createDataFrame(
        [("UPSERT", 2, "r", "b.py", "c", "go", "v2")], ddl), batch_id=1)
    assert t.read().count() == 2 and "lang" not in t.read().columns

    # the name is retired
    with pytest.raises(ValueError, match="dropped"):
        t.evolve_schema(add_columns=[("lang", "string")])
    with pytest.raises(ValueError, match="dropped"):
        t.evolve_schema(renames={"content": "lang"})
    # auto-evolve must skip the retired name, not crash or resurrect
    t.merge(spark.createDataFrame(
        [("UPSERT", 3, "r", "c.py", "c", "rs", "v3")], ddl),
        batch_id=2, auto_evolve=True)
    assert "lang" not in t.read().columns

    # guard-rails
    with pytest.raises(ValueError, match="key/bucket"):
        t.evolve_schema(drop_columns=["repo"])
    with pytest.raises(ValueError, match="not in schema"):
        t.evolve_schema(drop_columns=["nope"])
    with pytest.raises(ValueError, match="one call"):
        t.evolve_schema(drop_columns=["content"], renames={"content": "c2"})

    # drop composes with rename of ANOTHER column in the same call
    t.evolve_schema(drop_columns=["content"], renames={"commit": "sha"})
    assert set(t.read().columns) == {"repo", "path", "sha"}
    # fresh handle sees the same schema + retired set
    t2 = LakeTable.load(spark, tmp_table_path)
    assert set(t2.read().columns) == {"repo", "path", "sha"}
    assert set(t2.manifest.props["dropped_cols"]) == {"lang", "content"}


def test_sparse_seq_replay_skips_empty_windows(spark, tmp_table_path):
    """A sparse seq space (e.g. epoch-ms sequences) must not commit a
    table version per empty window."""
    from synapse_etl_jobs_spark.streaming import ReplayDriver

    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")
    ev = spark.createDataFrame([
        ("INSERT", 5, "r", "a.py", "c", "python", "v1"),
        ("INSERT", 10_000_007, "r", "b.py", "c", "python", "v2"),
    ], ddl)
    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    stats = ReplayDriver(t, batch_events=1000).replay(ev)
    applied = [s for s in stats if s.get("applied")]
    empty = [s for s in stats if s.get("reason") == "empty_window"]
    assert len(applied) == 2
    assert len(empty) == 10_000 - 1
    assert t.manifest.table_version == 2  # one commit per NON-empty window
    assert t.read().count() == 2

    # ranges inside ONE window take the single-window probe: an empty
    # window commits nothing, a non-empty one commits once
    t2 = LakeTable.create(spark, tmp_table_path + "_w", SCHEMA, KEYS, num_buckets=2)
    drv = ReplayDriver(t2, batch_events=1000)
    assert drv.replay(ev, seq_start=1000, seq_end=2000) == [
        {"applied": False, "batch_id": 1, "reason": "empty_window"}]
    assert t2.manifest.table_version == 0
    (s,) = drv.replay(ev, seq_start=10_000_000, seq_end=10_001_000)
    assert s["applied"] and s["batch_id"] == 10_000
    assert t2.manifest.table_version == 1
    assert [r["path"] for r in t2.read().collect()] == ["b.py"]


def test_create_rejects_non_key_bucket_cols(spark, tmp_table_path):
    """All versions of a key must share one bucket, so bucket columns
    must be key columns — create checks it as rebucket does."""
    import os

    with pytest.raises(ValueError, match="bucket columns must be key columns"):
        LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, bucket_cols=["lang"])
    assert not os.path.exists(tmp_table_path)


def test_vacuum_reclaims_orphaned_staging(spark, tmp_table_path):
    """Tables written by earlier versions, whose CoW merges staged under
    _staging/, may hold orphaned staging dirs: vacuum reclaims them."""
    import os

    t = LakeTable.create(spark, tmp_table_path, SCHEMA, KEYS, num_buckets=2)
    t.merge(spark.createDataFrame(
        [("INSERT", 1, "r", "a.py", "c", "python", "v")],
        "op string, seq long, repo string, path string, commit string, "
        "lang string, content string"), batch_id=0)
    orphan = os.path.join(tmp_table_path, "_staging", "s_dead")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk.parquet"), "w").write("x")
    t.vacuum(grace_seconds=0)
    assert not os.path.exists(orphan)
    assert t.read().count() == 1


def test_dedup_semijoin_null_seq_keys_survive(spark):
    """A key whose every seq is null must not vanish from the semijoin
    strategy (null-safe join) — strategies stay aligned on bad input."""
    from synapse_etl_jobs_spark.operators.dedup import dedup_lww, dedup_lww_semijoin

    ddl = "k string, seq long, v string"
    df = spark.createDataFrame(
        [("a", None, "a_null"), ("b", 1, "b1"), ("b", None, "b_null")], ddl)
    agg = {(r["k"], r["v"]) for r in dedup_lww(df, ["k"], "seq").collect()}
    sj = {(r["k"], r["v"]) for r in dedup_lww_semijoin(df, ["k"], "seq").collect()}
    assert agg == sj
    assert ("a", "a_null") in sj       # all-null key kept
    assert ("b", "b1") in sj           # non-null seq beats null


def test_mor_reduce_same_across_size_gate(spark, tmp_path, monkeypatch):
    """A MoR batch within spark.sql.autoBroadcastJoinThreshold is reduced
    in one pass over the write shuffle; a larger or unknown-size one
    through the semijoin. Both store the same rows for an adversarial
    batch (UPDATE/DELETE tied on seq and payload, payload ties, verbatim
    redeliveries, null seqs), from a Python-list batch (unknown size:
    always semijoin) and from a parquet batch (sized: one pass at the
    default threshold)."""
    ddl = ("op string, seq long, repo string, path string, commit string, "
           "lang string, content string")

    def ev(op, seq, key, content="same"):
        return (op, seq, "r", key, "c", "python", content)

    rows = [
        ev("UPDATE", 5, "ud"), ev("DELETE", 5, "ud"),
        ev("UPDATE", 7, "ptie", "a"), ev("UPDATE", 7, "ptie", "b"),
        ev("INSERT", 3, "dup", "v3"), ev("INSERT", 3, "dup", "v3"),
        ev("UPDATE", 2, "dup", "v2"),
        ev("INSERT", None, "nulls", "a"), ev("UPDATE", None, "nulls", "b"),
        ev("UPDATE", None, "somenull", "n"), ev("UPDATE", 1, "somenull", "s"),
    ] + [ev("UPSERT", 10 + i, f"p{i}", f"v{i}") for i in range(40)]
    rows += rows[-10:]  # redelivered verbatim
    listed = spark.createDataFrame(rows, ddl)
    listed.write.parquet(str(tmp_path / "batch"))
    sources = {"list": listed, "parquet": spark.read.parquet(str(tmp_path / "batch"))}

    semi = {}
    real_write = LakeTable._salted_bucket_write

    def spy_write(self, df, *args, **kwargs):
        semi[self.path] = "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
        return real_write(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_salted_bucket_write", spy_write)
    gate = "spark.sql.autoBroadcastJoinThreshold"
    was = spark.conf.get(gate)
    states = {}
    try:
        for threshold in (was, "1"):
            spark.conf.set(gate, threshold)
            for src, batch in sources.items():
                path = str(tmp_path / f"t-{src}-{threshold}")
                t = LakeTable.create(spark, path, SCHEMA, KEYS, num_buckets=4,
                                     write_mode="mor")
                t.merge(batch, batch_id=0)
                assert semi[path] == (src == "list" or threshold == "1"), (src, threshold)
                lineage = t.lineage().select("bucket", "rows", "seq_min", "seq_max",
                                             "source_events")
                states[src, threshold] = (
                    sorted(t.read(include_internal=True).collect()),
                    sorted(t.lookup_keys(
                        [("r", k, "c") for k in ("ud", "ptie", "dup", "nulls",
                                                 "somenull", "p3", "absent")]
                    ).collect()),
                    sorted(lineage.collect()),
                )
    finally:
        spark.conf.set(gate, was)
    first, *rest = states.values()
    assert all(s == first for s in rest)
    live = {r["path"]: r["content"] for r in first[0] if not r["_deleted"]}
    assert live["ptie"] == "b" and live["dup"] == "v3" and live["somenull"] == "s"
    assert live["nulls"] == "b" and "ud" not in live and len(live) == 44


def test_plan_audit_fused_reduce_check(spark, tmp_path):
    """The plan audit's merge-reduce check holds on both sides of the size
    gate, and leaves the session's broadcast threshold as it found it."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "explain_audit.py")
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    spark.range(2000).select(
        (F.col("id") % 97).alias("user_id"), F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.col("id") / 3).alias("value"),
    ).write.parquet(str(tmp_path / "events.parquet"))
    gate = "spark.sql.autoBroadcastJoinThreshold"
    was = spark.conf.get(gate)
    name, txt, problems = audit._fused_merge_reduce_check(spark, str(tmp_path))
    assert name == "merge_fused_reduce"
    assert problems == [], problems
    assert spark.conf.get(gate) == was
