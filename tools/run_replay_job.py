"""spark-submit entry point for the CDC replay job (north rule: "launched
with spark-submit --py-files on multi-executor clusters").

Packaging + launch (cluster):

    cd /root/repo && zip -r /tmp/synapse_etl_jobs_spark.zip synapse_etl_jobs_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/synapse_etl_jobs_spark.zip \
        tools/run_replay_job.py \
        --source /data/change_events \
        --table  /warehouse/source_code \
        --keys repo,path,commit --buckets 256 --mode mor \
        --batch-events 50000000

Local smoke run:

    spark-submit --master 'local[8]' tools/run_replay_job.py \
        --synthesize 1000000 --table /tmp/replay_tbl

The job is resumable: batch markers in the table manifest short-circuit
already-applied seq windows, so re-submitting after a failure continues
where the last commit landed (exactly-once table state; see
synapse_etl_jobs_spark/streaming/replay.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", help="parquet dir of flat change events")
    p.add_argument("--synthesize", type=int, default=0,
                   help="instead of --source, synthesize N events (smoke/bench)")
    p.add_argument("--table", required=True, help="lake table root path")
    p.add_argument("--keys", default="repo,path,commit")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")
    p.add_argument("--batch-events", type=int, default=10_000_000)
    p.add_argument("--stream-id", default="replay")
    p.add_argument("--compact", action="store_true", help="compact after replay")
    p.add_argument("--exclude", default="op,seq,ts_ms,source_partition,offset",
                   help="envelope columns not stored in the table")
    args = p.parse_args()

    from pyspark.sql.types import StructType

    from synapse_etl_jobs_spark.lake import LakeTable
    from synapse_etl_jobs_spark.session import get_spark
    from synapse_etl_jobs_spark.sources.synth import flatten_events, synth_change_events
    from synapse_etl_jobs_spark.streaming import ReplayDriver

    # spark-submit sets the master; get_spark only fills in local defaults
    spark = get_spark(app_name="cdc-replay")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        events = flatten_events(
            synth_change_events(spark, args.synthesize, seed=42,
                                n_keys=max(args.synthesize // 4, 1))
        )
        seq_end = args.synthesize
    elif args.source:
        events = spark.read.parquet(args.source)
        seq_end = None  # derived from max(seq)
    else:
        p.error("one of --source / --synthesize is required")

    keys = args.keys.split(",")
    if os.path.exists(os.path.join(args.table, "_manifests", "CURRENT")):
        table = LakeTable.load(spark, args.table)  # resume
    else:
        envelope = set(args.exclude.split(","))
        dtypes = dict(events.dtypes)
        schema = StructType()
        for k in keys:
            schema = schema.add(k, dtypes.get(k, "string"))
        for c in events.columns:
            if c not in (*keys, *envelope):
                schema = schema.add(c, dtypes[c])
        table = LakeTable.create(
            spark, args.table, schema, keys,
            num_buckets=args.buckets, write_mode=args.mode,
        )

    driver = ReplayDriver(
        table, stream_id=args.stream_id, batch_events=args.batch_events,
    )
    t0 = time.time()
    stats = driver.replay(events, seq_start=0, seq_end=seq_end)
    wall = time.time() - t0
    if args.compact:
        table.compact(drop_tombstones=False)

    applied = [s for s in stats if s.get("applied")]
    hwm = driver.high_watermark()
    b = args.batch_events
    # count ACTUAL events in the applied windows (seq-window arithmetic
    # would overstate sparse-seq sources by orders of magnitude); window
    # ids use exact integer div to agree with ReplayDriver above 2^53
    from synapse_etl_jobs_spark.streaming.replay import window_id
    applied_ids = [s["batch_id"] for s in applied]
    n_events = (
        events.filter(window_id("seq", b).isin(applied_ids)).count()
        if applied_ids else 0
    )
    print(json.dumps({
        "batches_applied": len(applied),
        "batches_skipped": len(stats) - len(applied),
        "events": n_events,
        "rows_upserted": sum(s.get("source_events", 0) for s in applied),
        "wall_sec": round(wall, 2),
        "events_per_sec": round(n_events / wall, 1) if wall > 0 else None,
        "table_version": table.manifest.table_version,
        "final_rows": table.read().count(),
        "high_watermark": hwm,
    }))


if __name__ == "__main__":
    main()
