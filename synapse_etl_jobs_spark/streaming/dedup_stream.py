"""Continuous corpus ingestion with near-dup removal.

The flagship integration of the CDC engine with the training-data
operators: a document stream is tailed micro-batch by micro-batch;
each batch is near-dup-deduplicated against the ALREADY-COMMITTED
corpus through the persisted MinHash-LSH index (never re-hashing the
corpus — O(batch + candidates) per batch, `operators/dedup_text.py`),
survivors are MERGEd into the corpus lake table, and their index rows
are MERGEd into the index lake table. Both merges ride the engine's
idempotent batch markers, so the at-least-once redelivery of
Structured Streaming becomes exactly-once corpus AND index state.

Crash-window analysis (the reason for the commit ORDER below):

- index commit ✓, docs commit ✗, batch redelivered: the batch's ids
  are already indexed. The batch handler EXCLUDES its own ids from the
  index view before probing (and the probe additionally excludes
  self-pairs), so the replay sees exactly the first attempt's index
  state and recomputes the identical survivor set at ANY threshold;
  the index merge short-circuits on its marker, the docs merge then
  commits — reconverged.
- docs commit before index (the WRONG order) would strand the corpus
  with documents the index never learns about: every future batch
  could ship a duplicate of them undetected. Index first is safe,
  docs first is not; hence index first.

Scale shape: the per-batch cost is the batch's signatures + one
equi-join against the index + verification against candidate corpus
documents only. Four guards keep the probe sub-linear in the corpus:

- the batch's bucket rows are BROADCAST (``broadcast_probe``), so the
  O(corpus × bands) index side never shuffles — the probe is a
  map-side BroadcastHashJoin per micro-batch;
- the index table is keyed (id, band, bucket) and STORAGE-BUCKETED on
  the LSH ``bucket`` hash, so the probe reads only the storage buckets
  the batch's signatures can touch (driver-side pruning via the same
  pure-Python xxhash64 the point-lookup path uses) — O(probed buckets)
  scan, not O(index);
- degenerate (band, bucket) groups — boilerplate families — can be
  capped (``max_bucket_size``) and exact-duplicate batch docs
  pre-collapsed (``collapse_exact``), bounding candidate fan-out;
- when verification must read candidate TEXT (``threshold < 1.0``, or
  an index built without digest columns), the corpus read prunes to
  the storage buckets holding the candidate ids (``prune_corpus_scan``
  — the corpus table is bucketed on the id), so the per-batch text
  read is O(candidate buckets), never a full-corpus LWW scan. At
  threshold 1.0 with ``store_digests`` only MATCHED ids (usually none)
  are point-read, to confirm digest matches against current text.

Keying the index by the FULL (id, band, bucket) triple makes rows
immutable facts: a document re-ingested with different text ADDS its
new rows; its stale rows survive as ghosts whose candidate pairs fail
exact verification against the current corpus text — extra verify work,
never a correctness risk (and a key's rows can no longer migrate
between storage buckets, which per-bucket LWW reduction forbids).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synapse_etl_jobs_spark.lake import LakeTable
from synapse_etl_jobs_spark.operators.dedup_text import (
    minhash_dedup_incremental,
    shingle_set_hash,
)


def create_dedup_tables(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    doc_schema: StructType,
    *,
    id_col: str = "doc_id",
    num_buckets: int = 16,
    write_mode: str = "mor",
    store_digests: bool = True,
) -> tuple[LakeTable, LakeTable]:
    """Create the (corpus, LSH-index) lake-table pair for
    ``dedup_stream_into_table``. The corpus table is keyed by the
    document id. The index table is keyed by the full (id, band,
    bucket) triple — append-only immutable facts, idempotent to merge —
    and storage-bucketed on the LSH ``bucket`` hash so a probe touches
    only the storage buckets its signatures map to (see the module
    docstring for why bucketing on a mutable payload column would be
    unsound, and why ghost rows of re-ingested documents are harmless).

    ``store_digests`` (default) adds two payload columns to the index —
    ``_dg`` (the document's shingle-set sha digest) and ``_batch`` (the
    batch that wrote the row) — plus a ``_dg`` payload column on the
    CORPUS table (each row's own digest, written per row so it can
    never pair with another row's text): the confirm step's point read
    then compares stored digests directly — id + ``_dg`` columns only,
    the text column never leaves parquet and nothing is re-shingled.
    Threshold-1.0 verification runs ENTIRELY off index rows: the probe
    job stops scanning the corpus
    table for candidate text (at a 100 TB corpus, that full-table LWW
    read per micro-batch is the dominant probe cost). ``_batch`` picks
    the latest digest among the LOADED rows (``max_by(_dg, _batch)``);
    because the pruned index load can still miss a re-ingested
    document's newest rows (new text → different buckets), the operator
    additionally point-reads the MATCHED corpus ids — usually none —
    and confirms each digest match against the corpus's current text,
    so the final answer always equals the corpus-text path's."""
    if store_digests:
        doc_schema = StructType.fromJson(doc_schema.jsonValue()).add(
            "_dg", "string"
        )
    docs = LakeTable.create(
        spark, docs_path, doc_schema, [id_col],
        num_buckets=num_buckets, write_mode=write_mode,
    )
    if store_digests:
        # assert "every row carries its own digest": set at CREATE time
        # only — a table that gained _dg later via evolve_schema has
        # null digests on pre-migration rows, and the confirm step's
        # digest-only point read would silently skip those (the stream
        # then reads candidate TEXT instead; see load_corpus). Writing
        # through dedup_stream_into_table maintains the invariant — the
        # same single-writer contract the index already requires.
        docs._set_prop("dedup_digests", "full")
    ix_schema = (
        StructType()
        .add(id_col, doc_schema[id_col].dataType)
        .add("band", "integer")
        .add("bucket", "long")
    )
    if store_digests:
        ix_schema = ix_schema.add("_dg", "string").add("_batch", "long")
    index = LakeTable.create(
        spark, index_path, ix_schema, [id_col, "band", "bucket"],
        bucket_cols=["bucket"],
        num_buckets=num_buckets, write_mode=write_mode,
    )
    return docs, index


def dedup_stream_into_table(
    docs_table: LakeTable,
    index_table: LakeTable,
    docs_stream: DataFrame,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 1.0,
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    stream_id: str = "dedup",
    trigger_once: bool = True,
    collapse_exact: bool = False,
    max_bucket_size: int | None = None,
    broadcast_probe: bool = True,
    prune_index_scan: bool = True,
    prune_corpus_scan: bool = True,
    prune_max_values: int = 200_000,
    metrics_path: str | None = None,
    txn_path: str | None = None,
) -> Any:
    """Tail a document stream into a near-dup-free corpus table.

    Each micro-batch: probe the persisted LSH index → verify → drop
    batch docs duplicating the corpus (or a smaller-id batch survivor)
    → MERGE the survivors' index rows, then the survivors themselves
    (order matters — see the module docstring). ``batch_id`` doubles as
    the LWW seq, so a re-ingested id in a later batch updates its row.

    LSH parameters are baked into the INDEX — every batch must probe
    with the parameters the index was built with, so pass the same ones
    for the table's whole lifetime (store them next to the table path
    if in doubt).

    Scale guards (see ``minhash_dedup_incremental``): ``collapse_exact``
    pre-collapses exact-duplicate batch docs; ``max_bucket_size`` caps
    degenerate (band, bucket) groups; ``broadcast_probe`` keeps the
    index side of the probe shuffle-free. ``prune_index_scan`` (default
    on) reads only the index storage buckets the batch's signatures can
    touch — the batch's ≤ batch×bands distinct bucket hashes are pulled
    to the driver and mapped to storage buckets offline; above
    ``prune_max_values`` distinct hashes every storage bucket is hit
    anyway, so the probe falls back to the full index view.
    ``prune_corpus_scan`` (default on) applies the same trick to the
    CORPUS table in the verify modes that must read candidate text
    (``threshold < 1.0``, or an index without digest columns): the
    candidate corpus ids — already a tiny distinct frame — are pulled to
    the driver and the corpus read prunes to the storage buckets holding
    them (the corpus table is bucketed on the id), instead of a
    full-table LWW read per micro-batch; above ``prune_max_values``
    candidates it falls back to the full view. On the index-digest path
    (``store_digests`` at threshold 1.0) the same pruning serves the
    confirm step's point read of MATCHED ids — an empty match set reads
    nothing at all.

    ``txn_path`` (opt-in): path of a cross-table ``TxnLog`` — after both
    per-batch commits land, the (docs version, index version) pair is
    published as one atomic record; readers loading the pair through
    ``TxnLog.load_tables`` can never observe the index-committed/
    docs-pending crash window (see ``lake/txn.py``).

    ``metrics_path`` (opt-in): append one JSON line per applied batch —
    batch id, rows in/kept, and TWO bounded (≤64-row) power-of-two
    histograms: ``bucket_histogram`` over the (band, bucket) group sizes
    of the banding that ENTERED the probe/self joins (post-collapse,
    pre-cap — the ``max_bucket_size`` tuning signal, taken where the
    O(k²) hazard lives), and ``exact_class_histogram`` over the raw
    batch's exact-duplicate class sizes (one sha2 digest per doc — a
    k-clone boilerplate family appears as one size-k class even when
    ``collapse_exact`` folds it before banding). A family growing at
    100× shows up as mass in the high log2 bins long before it degrades
    the probe join. Driver-side append of O(64) rows per batch.
    """
    lsh = dict(shingle_k=shingle_k, num_hashes=num_hashes,
               bands=bands, seed=seed)

    # ``txn_path`` (opt-in): after BOTH per-batch commits land, record
    # {docs version, index version} in one atomically-created
    # cross-table transaction record (lake/txn.py). Readers that load
    # the pair through ``TxnLog.load_tables`` then see either all of a
    # batch or none of it — the index-committed/docs-pending crash
    # window stays crash-SAFE as before (commit order + redelivery) and
    # becomes INVISIBLE to consistent readers. A crash after the
    # commits but before the record is healed on redelivery (the no-op
    # path re-records the now-current pair, labelled
    # ``meta["as_of"] = "redelivery"``: those versions are the tables'
    # state when the batch was redelivered, which later commits may have
    # moved past the batch's own commit point).
    def _record_txn(spark, batch_id: int, redelivery: bool = False) -> None:
        from synapse_etl_jobs_spark.lake.txn import TxnLog

        log = TxnLog(txn_path, spark)
        versions = {
            docs_table.path: docs_table.manifest.table_version,
            index_table.path: index_table.manifest.table_version,
        }
        rec = log.latest()
        if rec is not None and rec["tables"] == versions:
            return
        meta = {"stream_id": stream_id, "batch_id": int(batch_id)}
        if redelivery:
            meta["as_of"] = "redelivery"
        log.commit(versions, meta=meta)

    # index tables created with store_digests carry (_dg, _batch): the
    # probe verifies threshold-1.0 pairs off index rows alone (no
    # corpus-table scan per micro-batch) and every index merge must
    # keep writing both columns
    index_has_digests = {"_dg", "_batch"}.issubset(
        {f.name for f in index_table.manifest.current_schema().fields}
    )
    # corpus tables created with store_digests carry the row's own
    # shingle-set digest: the confirm step's point read then compares
    # stored digests (id + _dg columns only) instead of re-shingling
    # matched text. Written per ROW below — never joined in, so a
    # duplicate-id batch cannot pair a digest with another row's text.
    docs_have_digest = "_dg" in {
        f.name for f in docs_table.manifest.current_schema().fields
    }

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no-op only when BOTH commits landed: keying on the docs
        # marker alone would leave a rebuilt or lagging index empty
        # forever (docs marker present → batch skipped → index rows
        # never re-derived), silently disabling dedup for those docs
        if docs_table.is_batch_applied(
            stream_id, batch_id
        ) and index_table.is_batch_applied(stream_id, batch_id):
            if txn_path is not None:
                # heal a crash that landed both commits but lost the
                # transaction record
                _record_txn(batch_df.sparkSession, batch_id, redelivery=True)
            return
        corpus = docs_table.read()

        # exclude the batch's OWN ids from the index view: after the
        # index-committed/docs-lost crash, the redelivered batch's ids
        # are already indexed — probing against them would change which
        # batch docs drop at thresholds < 1.0 (a doc whose only partner
        # was a NON-survivor could otherwise cross-match a ghost index
        # row and diverge from the first attempt). With the exclusion
        # the replay sees exactly the first attempt's index state, so
        # the survivor set recomputes identically at ANY threshold.
        def load_index(probed: DataFrame) -> DataFrame:
            ix = None
            if prune_index_scan and index_table.manifest.bucket_cols == ["bucket"]:
                # deterministic given batch content ⇒ replay-invariant;
                # scan_keys returns WHOLE storage buckets (sound under
                # per-bucket LWW), the probe equi-join filters the rest
                vals = [
                    r["bucket"]
                    for r in probed.select("bucket").distinct()
                    .limit(prune_max_values + 1).collect()
                ]
                if vals and len(vals) <= prune_max_values:
                    ix = index_table.scan_keys([(v,) for v in vals])
            if ix is None:
                ix = index_table.read()
            cols = [id_col, "band", "bucket"]
            if index_has_digests and threshold >= 1.0:
                # hand the digest columns to the verifier — candidate
                # text never leaves the index (see create_dedup_tables)
                cols += ["_dg", "_batch"]
            return ix.select(*cols).join(
                batch_df.select(id_col), id_col, "left_anti"
            )

        # text-verify modes only (threshold < 1.0, or a digest-less
        # index): prune the candidate-text read to the storage buckets
        # holding candidate ids — deterministic given batch content and
        # index state, hence replay-invariant; a superset read is sound
        # (the verifier semijoins on the candidate ids either way). The
        # operator never invokes this on the index-digest path.
        def load_corpus(cand_ids: DataFrame) -> DataFrame:
            if prune_corpus_scan and \
                    docs_table.manifest.bucket_cols == [id_col]:
                vals = [
                    r[id_col]
                    for r in cand_ids.limit(prune_max_values + 1).collect()
                ]
                if not vals:
                    # no ids to read — an empty LocalRelation instead of
                    # a full corpus view keeps the digest path's confirm
                    # step at literally zero scan cost when no candidate
                    # matched (the common case)
                    return corpus.limit(0)
                if len(vals) <= prune_max_values:
                    # column-prune the point read to what the consumer
                    # compares: stored digests on the index-digest
                    # confirm (the text column never leaves parquet) —
                    # but ONLY when the table asserts every row carries
                    # one (the create-time prop); a table that gained
                    # _dg via evolve_schema has null digests on old
                    # rows and must fall back to candidate text, or
                    # those rows would silently skip confirmation
                    digests_complete = (
                        docs_table.manifest.props.get("dedup_digests")
                        == "full"
                    )
                    if (index_has_digests and threshold >= 1.0
                            and docs_have_digest and digests_complete):
                        need = ["_dg"]
                    else:
                        need = [text_col]
                        if docs_have_digest:
                            # the confirm prefers a present digest and
                            # computes from text where it is null
                            need.append("_dg")
                    return docs_table.scan_keys(
                        [(v,) for v in vals], columns=need
                    )
            return corpus

        # NOT pre_reduced: a batch may legally carry the same id twice
        # (at-least-once upstream producers); merge's LWW reduction
        # resolves equal-seq ties deterministically by payload order
        # metrics capture the batch's banding AS IT ENTERS the probe /
        # self joins (post-collapse, pre-cap, localCheckpointed inside
        # minhash_dedup_incremental) — a histogram over the post-dedup
        # survivors would measure the skew AFTER dedup removed it
        captured: dict[str, DataFrame] = {}
        kept = minhash_dedup_incremental(
            batch_df, corpus, index_loader=load_index,
            corpus_loader=load_corpus,
            id_col=id_col, text_col=text_col, threshold=threshold,
            collapse_exact=collapse_exact, max_bucket_size=max_bucket_size,
            broadcast_probe=broadcast_probe,
            # always capture the banding: besides the metrics histogram,
            # the survivors' index rows below are derived from it
            observe_banding=lambda nb: captured.__setitem__("nb", nb),
            # and the raw-batch digests (when computed): the metrics
            # block derives the exact-class histogram and rows_in from
            # the already-checkpointed frame instead of re-digesting
            # the batch text — saves a full shingle-sha2 pass per batch
            observe_digests=lambda dg: captured.__setitem__("dg", dg),
            **lsh,
        ).persist()  # two merges below consume it — compute once
        try:
            # survivors ⊆ the banded batch and banding is deterministic
            # per document, so the survivor index rows are exactly the
            # captured (localCheckpointed) banding filtered to survivor
            # ids — no second signature pass over the batch text
            # (minhash_index(kept) would re-shingle every survivor; the
            # checkpointed rows make this a semijoin on materialized
            # data, one of the two per-batch text passes this saves)
            if "nb" not in captured:  # pragma: no cover — refactor guard
                raise RuntimeError(
                    "minhash_dedup_incremental did not invoke "
                    "observe_banding: the index merge below DEPENDS on the "
                    "captured banding (it is the survivors' index rows) — "
                    "a refactor that skips or early-returns around the hook "
                    "must keep it, or this path must fall back to "
                    "minhash_index(kept)"
                )
            new_index = (
                captured["nb"]
                .join(
                    kept.select(F.col(id_col).alias("_id")),
                    "_id", "leftsemi",
                )
                .withColumnRenamed("_id", id_col)
            )
            ix_cols = [id_col, "band", "bucket"]
            if index_has_digests:
                # attach the survivors' digests (one row per raw-batch
                # doc, already checkpointed when collapse_exact or
                # threshold >= 1.0 computed them; only the
                # no-digest configuration pays a fresh pass here) and
                # the writing batch — max_by(_dg, _batch) at probe time
                # then always verifies against the latest text
                from synapse_etl_jobs_spark.operators.dedup_text import (
                    _doc_digests,
                )

                digests = captured.get("dg")
                if digests is None:
                    digests = _doc_digests(
                        kept, id_col=id_col, text_col=text_col,
                        k=shingle_k, checkpoint=False,
                    )
                new_index = new_index.join(
                    digests.select(id_col, "_dg"), id_col
                ).withColumn("_batch", F.lit(batch_id).cast("long"))
                ix_cols += ["_dg", "_batch"]
            index_table.merge(
                new_index.select(
                    *ix_cols,
                    F.lit("UPSERT").alias("op"),
                    F.lit(batch_id).cast("long").alias("seq"),
                ),
                stream_id=stream_id, batch_id=batch_id,
            )
            doc_rows = kept
            if docs_have_digest:
                # attach each survivor's shingle-set digest. Reuse the
                # raw-batch digest pass (already checkpointed) when the
                # batch's ids are unique — saving one full text-HOF
                # pass per batch; with duplicate ids a per-id join
                # could pair a row with ANOTHER row's digest, so fall
                # back to the per-row expression (always consistent
                # with the row's own text). The uniqueness check is one
                # agg over the slim materialized digest frame.
                dg = captured.get("dg")
                ids_unique = False
                if dg is not None:
                    c = dg.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.countDistinct(F.col(id_col)).alias("d"),
                    ).first()
                    ids_unique = c["n"] == c["d"]
                if ids_unique:
                    # plain join — both sides are batch-sized; AQE
                    # broadcasts the slim digest side when it fits
                    doc_rows = kept.join(
                        dg.select(id_col, "_dg"), id_col, "left"
                    )
                else:
                    doc_rows = kept.select(
                        "*", shingle_set_hash(text_col, shingle_k).alias("_dg")
                    )
            docs_table.merge(
                doc_rows.select(
                    *doc_rows.columns,
                    F.lit("UPSERT").alias("op"),
                    F.lit(batch_id).cast("long").alias("seq"),
                ),
                stream_id=stream_id, batch_id=batch_id,
            )
            if txn_path is not None:
                # both commits landed: publish the consistent pair
                _record_txn(batch_df.sparkSession, batch_id)
            if metrics_path is not None:
                # bounded (≤64 rows) skew histogram of the batch's
                # signature groups; best-effort observability, written
                # AFTER both commits so a metrics line implies the batch
                # landed (a missing line never implies it didn't — crash
                # after commit loses only the metrics row)
                from synapse_etl_jobs_spark.operators.dedup_text import (
                    bucket_size_histogram,
                )

                def _hist(rows, group_cols):
                    return [
                        {"log2_size": r["log2_size"],
                         "n_groups": r["n_groups"],
                         "max_size": r["max_size"]}
                        for r in bucket_size_histogram(
                            rows, group_cols=group_cols
                        ).collect()
                    ]

                # (band, bucket) group sizes of the banding that entered
                # the joins (checkpointed — one cheap agg pass); with
                # collapse_exact the clone families are already folded
                # here, so pair it with the exact-class histogram below
                band_hist = _hist(captured["nb"], ["band", "bucket"])
                # exact-duplicate class sizes over the RAW batch (one
                # sha2 digest per doc): a k-clone boilerplate family
                # shows up as one size-k class even when collapse_exact
                # folds it before banding — the docstring's "mass in the
                # high log2 bins" signal for cap/collapse tuning.
                # collapse_exact / threshold>=1.0 already digested the
                # raw batch (checkpointed, captured above) — reuse it;
                # only the no-digest configuration pays a fresh pass
                digests = captured.get("dg")
                if digests is None:
                    digests = batch_df.select(
                        shingle_set_hash(text_col, shingle_k).alias("_dg")
                    )
                    rows_in = batch_df.count()
                else:
                    # one row per raw-batch doc, already materialized
                    rows_in = digests.count()
                class_hist = _hist(digests, ["_dg"])
                line = json.dumps({
                    "batch_id": int(batch_id),
                    "rows_in": rows_in,
                    "rows_kept": kept.count(),
                    "bucket_histogram": band_hist,
                    "exact_class_histogram": class_hist,
                })
                with open(metrics_path, "a") as f:
                    f.write(line + "\n")
        finally:
            kept.unpersist()

    writer = (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if trigger_once:
        query.awaitTermination()
    return query
