"""spark-submit entry for STREAMING CDC ingestion: a Structured
Streaming file source tailing a directory of change-event parquet,
optionally pre-filtered by the stateful cross-batch LWW operator, then
``foreachBatch``-merged into the lake table with checkpoint + idempotent
batch markers (exactly-once table state; see streaming/replay.py).

    spark-submit --py-files synapse_etl_jobs_spark.zip \
        tools/run_stream_job.py \
        --source /data/change_events --table /warehouse/source_code \
        --checkpoint /ckpt/source_code \
        --keys repo,path,commit --buckets 256 --mode mor

Default is one ``availableNow`` pass (the scheduled-batch shape the
reference uses; re-run on a schedule, the checkpoint carries the
position). ``--continuous`` keeps micro-batches running until killed.
Resubmission after a crash resumes from the checkpoint; replayed
micro-batches short-circuit on their markers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True, help="parquet dir to tail")
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--keys", default="repo,path,commit")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")
    p.add_argument("--stream-id", default="stream")
    p.add_argument("--dedup-strategy", choices=["semijoin", "agg"],
                   default="semijoin",
                   help="merge-on-read batch reduce: semijoin (default) reduces a batch "
                        "within spark.sql.autoBroadcastJoinThreshold in one pass "
                        "and a larger one through a broadcast winner list; agg "
                        "reduces every batch in one pass")
    p.add_argument("--stateful-filter", action="store_true",
                   help="drop stale/duplicate events in Spark state "
                        "BEFORE the merge (bounded per-key watermark "
                        "state; the table's LWW stays the backstop)")
    p.add_argument("--continuous", action="store_true",
                   help="keep running micro-batches (default: one "
                        "availableNow pass)")
    p.add_argument("--patches", action="store_true",
                   help="events are PARTIAL-column updates (op "
                        "UPSERT/PATCH/DELETE + a set_cols array naming "
                        "the columns each PATCH sets); micro-batches "
                        "route through merge_patches — see "
                        "operators/patch.py for the contract")
    p.add_argument("--exclude",
                   default="op,seq,ts_ms,source_partition,offset,set_cols")
    args = p.parse_args()

    from pyspark.sql.types import StructType

    from synapse_etl_jobs_spark.lake import LakeTable
    from synapse_etl_jobs_spark.session import get_spark
    from synapse_etl_jobs_spark.streaming import stream_into_table
    from synapse_etl_jobs_spark.streaming.stateful import stateful_lww_filter

    spark = get_spark(app_name="cdc-stream")
    spark.sparkContext.setLogLevel("WARN")

    batch_schema = spark.read.parquet(args.source).schema
    keys = args.keys.split(",")
    if os.path.exists(os.path.join(args.table, "_manifests", "CURRENT")):
        table = LakeTable.load(spark, args.table)  # resume
    else:
        from pyspark.sql.types import StringType

        envelope = set(args.exclude.split(","))
        # DataType objects, not simpleString(): StructType.add rejects
        # some short names ("bigint"), so non-string keys would fail
        dtypes = {f.name: f.dataType for f in batch_schema.fields}
        schema = StructType()
        for k in keys:
            schema = schema.add(k, dtypes.get(k, StringType()))
        for f in batch_schema.fields:
            if f.name not in (*keys, *envelope):
                schema = schema.add(f.name, f.dataType)
        table = LakeTable.create(
            spark, args.table, schema, keys,
            num_buckets=args.buckets, write_mode=args.mode,
        )

    stream = spark.readStream.schema(batch_schema).parquet(args.source)
    if args.stateful_filter:
        if args.patches:
            raise SystemExit(
                "--stateful-filter keeps only each key's max-seq event "
                "per batch, which would drop the other PATCH events a "
                "key needs — incompatible with --patches"
            )
        stream = stateful_lww_filter(stream, keys, "seq")

    query = stream_into_table(
        table, stream, args.checkpoint,
        stream_id=args.stream_id, dedup_strategy=args.dedup_strategy,
        trigger_once=not args.continuous,
        patches=args.patches,
    )
    if args.continuous:
        query.awaitTermination()

    final = LakeTable.load(spark, args.table)
    print(json.dumps({
        "table_version": final.manifest.table_version,
        "final_rows": final.read().count(),
        "applied_batches": {
            s: len(b) for s, b in final.manifest.applied_batches.items()
        },
    }))


if __name__ == "__main__":
    main()
