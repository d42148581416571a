"""Table replication: tail a lake table's changelog into a replica.

The tail-a-table pattern (Iceberg incremental consumer / Delta CDF
replication): the source's merge-on-read commits ARE a changelog
(`LakeTable.changes` / the ``synlake_cdc`` stream source record exactly
the delta files each version appended, LWW rows + tombstones), so a
replica is just that changelog re-merged under the same LWW rules.
This module packages the loop the tests, the sustained-ingest harness,
and the verify drives were each hand-writing:

- ``replicate_once``: one availableNow pass of the ``synlake_cdc``
  stream into the replica — Spark's streaming checkpoint holds the
  offset, each call resumes where the last stopped (the scheduled-batch
  shape). Exactly-once: the stream's micro-batch id is the replica's
  batch marker, so a redelivered batch short-circuits.
- ``replicate_stream``: the same loop as a continuous Structured
  Streaming query (``trigger_once=False``) for a long-lived follower.

Consumer-lag contract (same as every changelog consumer here): the
source's ``vacuum`` retention bounds how far a replica may fall behind —
plan a retention that covers the slowest follower, or the stream raises
the explicit expiry error and the replica must re-sync from a snapshot
(`LakeCdcStreamReader` docstring has the sizing rule).

Scale shape: each pass moves O(new deltas) — the replica merge is the
same O(batch) MoR merge the source ran, applied from the changelog
instead of the upstream batch (measured: replica cost per cycle ≈ the
source's own merge wall for the same delta volume —
``BENCH/BASELINE.md`` ninth window). The replica is a normal LakeTable:
it can be compacted, vacuumed, queried, and even chained (a replica of
a replica tails the replica's own changelog).
"""

from __future__ import annotations

import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from synapse_etl_jobs_spark.lake import LakeTable


def changelog_to_events(
    batch_df: DataFrame, op_col: str = "op", seq_col: str = "seq"
) -> DataFrame:
    """Reshape a changelog micro-batch (``_seq`` / ``_deleted`` rows, the
    shape ``changes()`` and ``synlake_cdc`` emit) into a merge-ready
    change-event batch (``op_col`` / ``seq_col`` columns). Raises when a
    chosen envelope name collides with a source payload column — the
    overwrite would silently corrupt that column in the replica (pass
    different names; the replication loop picks collision-free ones
    automatically).

    Patch-mode sources (``merge_patches`` / ``update_where``) emit their
    per-column CRDT state (``_cseq`` / ``_fold``) in the changelog; it
    passes through here UNTOUCHED and ``merge`` threads it explicitly —
    flipping the replica to patch mode and reducing multi-version
    catch-up batches by (``_seq``, ``_fold``), so a partial-replica of a
    patch table converges to the source's exact per-column state (merge
    never auto-evolves internal columns into user schema). A source
    flipped to patch mode MID-stream is picked up when the stream
    restarts with the widened reader schema — the same contract as
    source schema evolution (a long-running continuous query keeps its
    launch-time schema until restarted)."""
    for c in (op_col, seq_col):
        if c in batch_df.columns:
            raise ValueError(
                f"envelope column {c!r} collides with a source payload "
                "column — pass a different op_col/seq_col"
            )
    return (
        batch_df.withColumn(
            op_col,
            F.when(
                F.coalesce(F.col("_deleted"), F.lit(False)), F.lit("DELETE")
            ).otherwise(F.lit("UPSERT")),
        )
        .withColumnRenamed("_seq", seq_col)
        .drop("_deleted")
    )


def _free_name(base: str, taken: "list[str]") -> str:
    name = base
    while name in taken:
        name += "_"
    return name


def _apply_fn(spark: SparkSession, replica_path: str, stream_id: str,
              merge_kwargs: dict, where: "str | None" = None):
    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if where is not None:
            # key-only predicate (validated by replicate_stream):
            # decidable on every row incl. tombstones, immutable per key
            batch_df = batch_df.filter(where)
        if batch_df.isEmpty():
            return
        # envelope names must not collide with payload columns (a source
        # table may legitimately have columns named "op" or "seq")
        op_col = _free_name("_repl_op", batch_df.columns)
        seq_col = _free_name("_repl_seq", batch_df.columns)
        # a follower mirrors the source's schema: when the source
        # evolved (added columns) and the stream restarted with the new
        # reader schema, the replica grows the column instead of
        # silently dropping the new values (caller may override)
        merge_kwargs.setdefault("auto_evolve", True)
        # fresh handle per micro-batch: the replica's manifest advances
        # under this loop, and a long-lived handle would race itself
        tb = LakeTable.load(spark, replica_path)
        tb.merge(
            changelog_to_events(batch_df, op_col, seq_col),
            op_col=op_col,
            seq_col=seq_col,
            batch_id=int(batch_id),
            stream_id=stream_id,
            **merge_kwargs,
        )
    return apply


def replicate_stream(
    spark: SparkSession,
    source_path: str,
    replica_path: str,
    checkpoint_dir: str,
    *,
    stream_id: "str | None" = None,
    starting_version: int = 0,
    max_versions_per_trigger: int | None = None,
    trigger_once: bool = True,
    where: "str | None" = None,
    **merge_kwargs: Any,
):
    """Tail ``source_path``'s changelog into the replica table at
    ``replica_path`` (which must already exist — same keys; bucket
    count/layout are free to differ, the events re-bucket on merge).

    ``trigger_once=True`` (default) runs one availableNow pass and
    returns after it finishes — call repeatedly to poll (the
    scheduled-batch shape; ``replicate_once`` is the convenience
    wrapper). ``trigger_once=False`` returns the running continuous
    query. ``max_versions_per_trigger`` bounds catch-up batches
    (backpressure); ``merge_kwargs`` forward to the replica's ``merge``
    (e.g. ``auto_evolve=False`` to keep the replica's schema fixed; it
    defaults to True here).

    ``where`` filters the changelog before it is applied — a PARTIAL
    replica (fan-out routing: one firehose table into per-language /
    per-tenant followers, each follower paying only for its slice).
    The predicate must be decidable on EVERY changelog row, including
    tombstones, or the replica diverges — tombstones carry NULL
    payload columns, so in practice the predicate must depend only on
    KEY columns (non-null on every row; also immutable, so a key can
    never "leave" the predicate and strand a stale replica row). This
    is enforced: predicates referencing non-key columns are rejected
    (the classic filtered-CDC divergence, refused rather than
    documented away).

    Exactly-once keys on ``(stream_id, Spark micro-batch id)``, and a
    FRESH checkpoint restarts batch numbering at 0 — so the default
    stream id is derived from a token stored inside the checkpoint dir:
    resuming the same checkpoint keeps the same id (redelivery
    short-circuits), while a NEW checkpoint (the prescribed re-sync
    flow after a rollback/expiry error, or a second source replicating
    into the same replica) gets a fresh id instead of silently matching
    the previous incarnation's markers. Pass an explicit ``stream_id``
    only if you also own that collision story.
    """
    from synapse_etl_jobs_spark.lake.fs import filesystem_for
    from synapse_etl_jobs_spark.sources.lake_datasource import register

    register(spark)
    if where is not None:
        src = LakeTable.load(spark, source_path)
        refs = src._sql_refs(where)
        keys = set(src.manifest.key_cols)
        if refs is None or not set(refs).issubset(keys):
            raise ValueError(
                f"replication filter {where!r} must be a parseable SQL "
                f"predicate over KEY columns only ({sorted(keys)}): "
                "tombstones carry null payload columns and non-key values "
                "can change, so any other predicate diverges the replica "
                "(rows silently kept or stranded)"
            )
    if stream_id is None:
        fs = filesystem_for(checkpoint_dir, spark)
        fs.mkdirs(checkpoint_dir, exist_ok=True)
        tok_path = os.path.join(checkpoint_dir, "_synlake_replica_id")
        fs.write_text_if_absent(tok_path, uuid.uuid4().hex[:12])
        stream_id = "replicate-" + fs.read_text(tok_path).strip()
    reader = (
        spark.readStream.format("synlake_cdc")
        .option("path", source_path)
        .option("startingVersion", int(starting_version))
    )
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "maxVersionsPerTrigger", int(max_versions_per_trigger)
        )
    writer = (
        reader.load()
        .writeStream.foreachBatch(
            _apply_fn(spark, replica_path, stream_id, merge_kwargs, where)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if trigger_once:
        query.awaitTermination()
    return query


def replicate_once(
    spark: SparkSession,
    source_path: str,
    replica_path: str,
    checkpoint_dir: str,
    **kwargs: Any,
):
    """One availableNow catch-up pass (resumes from the checkpoint's
    offset). Returns the finished streaming query."""
    return replicate_stream(
        spark, source_path, replica_path, checkpoint_dir,
        trigger_once=True, **kwargs,
    )
