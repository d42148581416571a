"""Replay drivers: the engine's incremental-processing story.

The reference approximates a stream with scheduled Glue jobs + job
bookmarks (``transformation_ctx`` + ``job.commit``, glue_job.py:40-44,57,89):
state = source high-watermark, advanced atomically after a successful
write. Here the same contract is:

- ``ReplayDriver``: seq-windowed batch replay of an event DataFrame —
  each batch is ``merge``d with a deterministic ``batch_id``; the batch
  marker set in the table manifest IS the bookmark. Killing the driver at
  any point and restarting replays from zero but already-applied batches
  short-circuit (marker) and half-applied ones reconverge (LWW) — i.e.
  exactly-once TABLE STATE without distributed transactions.
- ``stream_into_table``: Structured Streaming file source →
  ``foreachBatch`` merge, checkpoint directory + the same markers. The
  checkpoint makes Spark replay the same batch with the same batch_id
  after a crash; the marker makes the replay a no-op.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synapse_etl_jobs_spark.lake.table import LakeTable


def window_id(seq_col: str, batch_events: int):
    """Exact integer window id ``seq div batch_events`` as a Column.

    Long-arithmetic `div`, never `/`: double division silently rounds
    above 2^53 and misassigns events to adjacent windows (see replay()).
    """
    return F.expr(f"CAST(`{seq_col}` AS BIGINT) div {int(batch_events)}")


class _Maintenance:
    """The in-loop maintenance schedule both drivers share: ``compact()``
    after every ``compact_every`` applied batches and ``vacuum()`` after
    every ``vacuum_every``, compaction first when both fall on one batch
    so vacuum reclaims the files it just obsoleted. ``ReplayDriver``'s
    docstring has the defaults and the trade-offs."""

    def __init__(self, table: LakeTable, compact_every: int | None,
                 compact_opts: dict[str, Any] | None, vacuum_every: int | None,
                 vacuum_opts: dict[str, Any] | None):
        if compact_every is not None and compact_every < 1:
            raise ValueError("compact_every must be >= 1")
        if vacuum_every is not None and vacuum_every < 1:
            raise ValueError("vacuum_every must be >= 1")
        self.table = table
        self.every = {"compact": compact_every, "vacuum": vacuum_every}
        self.opts = {
            "compact": {"min_files": 2, "drop_tombstones": False,
                        **(compact_opts or {})},
            "vacuum": {"retain_versions": 2, "grace_seconds": 0,
                       **(vacuum_opts or {})},
        }
        # applied batches since each op last ran
        self.since = {"compact": 0, "vacuum": 0}

    def after_applied(self) -> dict[str, Any]:
        """Count one applied batch and run what is due; returns each run
        op's stats (with its ``wall_sec``) by name."""
        ran = {}
        for op, every in self.every.items():
            self.since[op] += 1
            if every and self.since[op] >= every:
                t0 = time.monotonic()
                ran[op] = getattr(self.table, op)(**self.opts[op])
                ran[op]["wall_sec"] = round(time.monotonic() - t0, 3)
                self.since[op] = 0
        return ran


class ReplayDriver:
    """Seq-windowed batch replay into a LakeTable."""

    def __init__(
        self,
        table: LakeTable,
        *,
        stream_id: str = "replay",
        batch_events: int | None = 1_000_000,
        num_batches: int | None = None,
        op_col: str = "op",
        seq_col: str = "seq",
        compact_every: int | None = None,
        compact_opts: dict[str, Any] | None = None,
        vacuum_every: int | None = None,
        vacuum_opts: dict[str, Any] | None = None,
    ):
        """``batch_events`` fixes the seq-window width (≥ 1); alternatively
        ``num_batches`` derives the width from the stream's seq span (one
        column-pruned min/max aggregate — the same scan replay() needs
        for ``seq_end`` anyway), so callers never pre-``count()`` the
        stream just to size batches.

        ``compact_every=K`` schedules maintenance inside the replay: after
        every K *applied* batches the driver runs ``table.compact()`` so
        the delta stack (and with it read amplification and per-commit
        manifest size) stays bounded at K batches no matter how long the
        replay runs — the maintenance loop a 10^10-event MoR ingest needs
        (measured: interleaved compaction cut full-read latency 15-30x at
        16 batches and paid for itself in total wall; see
        ``tools/sustained_ingest.py``). Defaults are
        ``min_files=2, drop_tombstones=False``: tombstones MUST outlive
        any event that could still be redelivered — the engine's
        "marker-less replay is a state no-op" invariant rests on LWW +
        tombstones once a batch's marker has been retention-expired — so
        mid-ingest maintenance never GCs them. A caller that owns the
        source's redelivery horizon can override via ``compact_opts``
        (forwarded verbatim to ``compact()``, e.g. ``sort_cols`` /
        ``target_file_mb`` / an explicit ``drop_tombstones=True``).

        A merge-on-read table picks each window's batch reduce by its
        planned size (see ``LakeTable.merge``): a window within
        ``spark.sql.autoBroadcastJoinThreshold`` is reduced in one pass
        over the write's shuffle, a larger one through the semijoin.
        Each window is a seq filter of ``events``, and Catalyst estimates
        a filter at its input's size: a replay that splits one input into
        several windows keeps every window on the semijoin, while a
        one-window call per small input (a tailing loop's poll) takes the
        one-pass reduce.

        ``vacuum_every=K`` schedules the OTHER growth term's maintenance:
        the manifest version chain and the dead data files it pins grow
        one commit per batch (plus one per compaction) forever —
        ``vacuum()`` (Iceberg expire-snapshots + remove-orphans analog)
        reclaims versions older than ``retain_versions`` and their
        exclusive files. Opting in trades time travel / ``rollback``
        depth beyond ``retain_versions`` for bounded metadata+disk —
        and bounds the LAG WINDOW of changelog consumers (``changes()``,
        ``synlake_cdc`` streams, incremental views): a consumer further
        behind than ``retain_versions`` loses its window and must
        re-sync from a snapshot, so size retention to cover the slowest
        consumer. The
        batch markers live in the RETAINED manifest, so exactly-once
        replay short-circuiting is unaffected. Safe inside the loop
        because the driver IS the table's single writer. When both fire
        on the same batch, compaction runs first so vacuum immediately
        reclaims the files it obsoleted. ``vacuum_opts`` is forwarded to
        ``vacuum()`` (defaults ``retain_versions=2``: the current version
        plus one rollback point, and ``grace_seconds=0``: the driver's own
        commits are never in flight while it vacuums, so every
        unreferenced file goes at once; pass a grace if another process
        writes to the table)."""
        if num_batches is not None:
            if num_batches < 1:
                raise ValueError("num_batches must be >= 1")
        elif batch_events is None or batch_events < 1:
            # a zero width divides by zero in replay(), and a negative
            # one yields no windows: the replay would ingest nothing
            raise ValueError("batch_events must be >= 1 unless num_batches is set")
        self.table = table
        self.stream_id = stream_id
        self.batch_events = batch_events
        self.num_batches = num_batches
        self.op_col = op_col
        self.seq_col = seq_col
        # persists across replay() calls: a tailing loop invokes replay()
        # once per poll, and "every K applied batches" must count across
        # polls, not per call
        self._maintenance = _Maintenance(
            table, compact_every, compact_opts, vacuum_every, vacuum_opts)

    def replay(
        self, events: DataFrame, *, seq_start: int = 0, seq_end: int | None = None
    ) -> list[dict[str, Any]]:
        """Apply ``events`` in seq-range batches. Batch ids are the batch's
        seq-window index — deterministic across runs, so a restarted
        replay lines up with the markers of the previous attempt."""
        if seq_end is None:
            agg = events.agg(
                F.min(self.seq_col).alias("lo"), F.max(self.seq_col).alias("hi")
            ).collect()[0]
            if agg["hi"] is None:
                return []
            seq_end = int(agg["hi"]) + 1
        if self.num_batches is not None:
            span = max(seq_end - seq_start, 1)
            b = (span + self.num_batches - 1) // self.num_batches
        else:
            b = self.batch_events
        stats = []
        # ONE cheap pre-pass finds the non-empty seq windows (column-pruned
        # scan + hash aggregate). A sparse seq space — e.g. epoch-millis
        # sequences — would otherwise commit a new table version + marker
        # per EMPTY window, bloating the manifest chain with no-op
        # versions. Deterministic across restarts: the same events yield
        # the same non-empty window set, so markers line up.
        # The window id MUST be exact integer division (`div`): Spark `/`
        # is double division, and above 2^53 (snowflake ids, epoch-nanos —
        # exactly the sparse domains this pre-pass serves) float rounding
        # can assign an event to the adjacent window, which the lo/hi loop
        # below (exact integer arithmetic) would then skip as empty —
        # silent data loss with a marker still committed.
        # A range inside ONE window (a tailing loop's poll) only needs to
        # know whether any event falls in it: limit(1) stops at the first
        # row — one job when the first scanned partition holds one —
        # instead of a distinct over every event (two jobs).
        in_range = events.filter(
            (F.col(self.seq_col) >= seq_start) & (F.col(self.seq_col) < seq_end)
        )
        first_w, end_w = seq_start // b, (seq_end + b - 1) // b
        if end_w - first_w == 1:
            nonempty = (
                {first_w} if in_range.select(self.seq_col).limit(1).collect()
                else set()
            )
        else:
            nonempty = {
                int(r[0])
                for r in in_range.select(window_id(self.seq_col, b).alias("w"))
                .distinct()
                .collect()
            }
        for batch_id in range(first_w, end_w):
            lo, hi = batch_id * b, (batch_id + 1) * b
            if batch_id not in nonempty:
                stats.append({"applied": False, "batch_id": batch_id,
                              "reason": "empty_window"})
                continue
            if self.table.is_batch_applied(self.stream_id, batch_id):
                stats.append({"applied": False, "batch_id": batch_id,
                              "reason": "batch_already_applied"})
                continue
            batch = events.filter(
                (F.col(self.seq_col) >= lo) & (F.col(self.seq_col) < hi)
            )
            t0 = time.monotonic()
            s = self.table.merge(
                batch,
                op_col=self.op_col,
                seq_col=self.seq_col,
                stream_id=self.stream_id,
                batch_id=batch_id,
            )
            s["batch_id"] = batch_id
            # per-batch wall rides along with the lineage counts: a
            # sustained-ingest operator watches this stay flat as the
            # table grows (MoR merges never read stored data)
            s["wall_sec"] = round(time.monotonic() - t0, 3)
            s.update(self._maintenance.after_applied())
            stats.append(s)
        return stats

    def high_watermark(self) -> int | None:
        """Max applied seq for this stream (the bookmark value)."""
        marks = self.table.manifest.applied_batches.get(self.stream_id, {})
        seqs = [v.get("seq_max") for v in marks.values() if v.get("seq_max") is not None]
        return max(seqs) if seqs else None


def stream_into_table(
    table: LakeTable,
    events_stream: DataFrame,
    checkpoint_dir: str,
    *,
    stream_id: str = "stream",
    op_col: str = "op",
    seq_col: str = "seq",
    trigger_once: bool = True,
    patches: bool = False,
    set_col: str = "set_cols",
    compact_every: int | None = None,
    compact_opts: dict[str, Any] | None = None,
    vacuum_every: int | None = None,
    vacuum_opts: dict[str, Any] | None = None,
):
    """Structured-Streaming ingestion: ``foreachBatch`` merge with the
    Spark-assigned ``batch_id`` as the marker key. The checkpoint directory
    gives at-least-once redelivery of each micro-batch; the marker + LWW
    merge turn that into exactly-once table state.

    ``trigger_once`` runs one availableNow pass (the scheduled-batch shape
    the reference uses); set False for continuous micro-batches.
    A merge-on-read table picks each micro-batch's reduce by its planned
    size (see ``LakeTable.merge``): a micro-batch within
    ``spark.sql.autoBroadcastJoinThreshold`` is reduced in one pass over
    the write's shuffle, a larger one (or one of unknown size) through
    the semijoin.

    ``compact_every=K`` compacts the table after every K APPLIED
    micro-batches (redelivered batches that marker-short-circuit don't
    count) — same maintenance loop and same tombstone-keeping defaults
    as ``ReplayDriver`` (see its docstring). The count restarts with the
    query: a relaunched stream compacts K applied batches after launch,
    which only ever compacts EARLIER than a persisted counter would —
    maintenance needs no exactly-once state of its own (compaction is
    state-preserving), so nothing is checkpointed for it.
    ``vacuum_every=K`` likewise schedules manifest-chain + orphan-file
    reclamation (ReplayDriver docstring has the trade-off; compaction
    runs before vacuum when both fire on one batch). As there,
    ``vacuum_opts`` defaults to ``retain_versions=2, grace_seconds=0``:
    the query is the table's single writer.

    ``patches=True`` routes micro-batches through ``merge_patches`` —
    partial-column change events (see operators/patch.py). Patch
    application is order-insensitive (per-column CRDT state persisted
    with each row), so correctness does not depend on Structured
    Streaming's micro-batch ordering — replay from any checkpoint, or a
    stale batch redelivered under a fresh id, reconverges.
    """
    maintenance = _Maintenance(
        table, compact_every, compact_opts, vacuum_every, vacuum_opts)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if patches:
            s = table.merge_patches(
                batch_df,
                op_col=op_col,
                seq_col=seq_col,
                set_col=set_col,
                stream_id=stream_id,
                batch_id=batch_id,
            )
        else:
            s = table.merge(
                batch_df,
                op_col=op_col,
                seq_col=seq_col,
                stream_id=stream_id,
                batch_id=batch_id,
            )
        if s.get("applied", True):
            maintenance.after_applied()

    writer = (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if trigger_once:
        query.awaitTermination()
    return query
