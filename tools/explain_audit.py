"""Physical-plan audit: capture ``explain('formatted')`` for headline
queries and assert the plan properties that matter at 100 TB:

- parquet scans carry PushedFilters / a pruned ReadSchema (no full-width
  scans behind narrow projections);
- small dimension joins are BroadcastHashJoin, not SortMergeJoin;
- hot paths sit inside WholeStageCodegen spans (no interpreted
  row-at-a-time evaluation);
- Python shows up only as ArrowEvalPython (pandas UDFs), never
  BatchEvalPython (pickled row-at-a-time UDFs).

Usage: python tools/explain_audit.py [sf_dir] — writes PLANS.md and
exits non-zero if any assertion fails (CI-able).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, [required substrings], [forbidden substrings])
CHECKS: list[tuple[str, list[str], list[str]]] = [
    # filter + projection must reach the parquet scan
    ("filter_rlike", ["GreaterThan(value,100.0)"], ["BatchEvalPython"]),
    # aggregation over a date filter: partial agg before the shuffle
    ("pricing_summary", ["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)"], ["BatchEvalPython"]),
    # explicitly broadcast dimension joins stay broadcast
    ("top_customers", ["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
    ("broadcast_dim_join", ["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
    # LWW dedup is max(struct) with map-side partial aggregation before
    # the shuffle — NOT a whole-stream sort + window. (Struct aggregation
    # buffers are non-mutable, so the aggregate itself is a SortAggregate;
    # the partial_max before the Exchange is what bounds wire volume.)
    ("cdc_final_state", ["partial_max(struct(_s"], ["Window", "BatchEvalPython", "max_by"]),
    ("cdc_final_state_salted", ["partial_max(struct(_s"], ["Window", "BatchEvalPython", "max_by"]),
    # pandas UDFs run through Arrow, never pickled rows
    ("access_normalize", ["ArrowEvalPython"], ["BatchEvalPython"]),
    ("client_detection", ["ArrowEvalPython"], ["BatchEvalPython"]),
    # column pruning: 2-col projection reads 2 cols
    ("token_counts", ["ReadSchema: struct<doc_id:bigint,text:string>"], ["BatchEvalPython"]),
    # LSH self-join is a shuffled hash/merge join on compact keys — and
    # entirely JVM-side
    ("minhash_lsh_pairs", ["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # brute-force ANN broadcasts the query side; no cartesian product;
    # two-phase top-k (local SPARK_PARTITION_ID window) — parallelism
    # must never equal #queries
    ("ann_bruteforce", ["BroadcastNestedLoopJoin", "SPARK_PARTITION_ID"],
     ["CartesianProduct", "BatchEvalPython"]),
    # IVF centroid pick must be a distributed TakeOrderedAndProject, not
    # a global row_number window over the whole corpus
    ("ann_ivf_full", ["TakeOrderedAndProject"], ["CartesianProduct", "BatchEvalPython"]),
    # embedding LSH dedup: blocked equi-join, no cartesian product
    ("embedding_dedup_lsh", [], ["CartesianProduct", "BatchEvalPython"]),
    # event-time windows: hash aggregate over the window struct, no sort
    ("tumbling_window", ["HashAggregate"], ["BatchEvalPython"]),
    # catalog pushdown: the predicate's partition conjunct must land in
    # PartitionFilters (directory pruning), the rest in PushedFilters
    ("catalog_pushdown_scan",
     ["PartitionFilters: [isnotnull(record_date", "(substring(record_date",
      "PushedFilters: [IsNotNull(event_type)"],
     ["BatchEvalPython"]),
    # the 34-column job port is one fused projection — no Python anywhere
    ("node_snapshots_job", ["Project"], ["BatchEvalPython", "ArrowEvalPython"]),
    # temporal joins must never degenerate to nested-loop/cartesian
    # plans — the union+window (asof) and bin equi-join (range) shapes
    ("asof_join", ["Window"],
     ["BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"]),
    ("range_join", ["HashJoin"],
     ["BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"]),
    # decontamination: distinct-gram equi-join (broadcast-able), never a
    # cartesian; all native (no Python)
    ("decontaminate", ["HashAggregate"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # sequence packing: the corpus-side running sum is a window
    # PARTITIONED by spark_partition_id (parallel); the offsets frame is
    # the only unpartitioned window and is #partitions rows
    ("pack_sequences", ["windowspecdefinition(_pid"],
     ["CartesianProduct", "BatchEvalPython"]),
    # mixing is one map-side select + explode: no shuffle at all
    ("weighted_mix", ["Generate"],
     ["Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    # interval join (batch-parity form): equi-key hash join with the
    # time interval as a join-condition filter — never nested-loop
    ("stream_interval_join", ["HashJoin"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]),
    # heavy hitters: the frequency SKETCH aggregates map-side
    # (partial_approx_top_k before the exchange) — fixed-size state on
    # the wire, never a full per-key count shuffle
    ("heavy_hitters", ["partial_approx_top_k", "ObjectHashAggregate"],
     ["Window", "BatchEvalPython", "ArrowEvalPython"]),
    # exact grouped quantiles: partial_percentile BEFORE the exchange
    # (per-group buffers shuffle, not rows); never a global sort/window
    ("group_percentiles", ["partial_percentile", "ObjectHashAggregate"],
     ["Window", "BatchEvalPython", "ArrowEvalPython"]),
    # rollup: ONE scan fanned out by Expand into the 3 grouping sets,
    # partial agg before the exchange — never a UNION of 3 re-scans
    ("rollup_grouping_sets", ["Expand", "HashAggregate", "partial_"],
     ["Union", "Window", "BatchEvalPython", "ArrowEvalPython"]),
    # TF-IDF: term frequencies aggregate map-side partial (partial_count
    # before the exchange); the doc-term × vocab join and per-doc top-k
    # window stay JVM-side with no cartesian anywhere
    ("tf_idf_topk", ["partial_count", "HashAggregate"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # incremental LSH dedup: batch-vs-index probe is an equi-join; corpus
    # text enters only via semijoin on candidate ids; never a cartesian
    ("minhash_dedup_incremental", ["HashAggregate", "LeftSemi"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # repeated spans: corpus-wide shingle count aggregates map-side
    # (partial_count before the exchange); the island merge is a window
    # PARTITIONED per doc_id (parallelism = docs), never a global window
    ("repeated_spans",
     ["partial_count", "HashAggregate", "windowspecdefinition(doc_id"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
]


# Non-entry plans audited directly (the merge hot path's dedup strategy)
def _semijoin_plan_check(spark, sf_dir):
    """The semijoin LWW dedup must plan: HashAggregate winner list (+
    partial_max BEFORE its exchange) and a broadcast left-semi hash join
    — never a sort-merge join or a full-payload sort aggregate."""
    from pyspark.sql import functions as F

    from synapse_etl_jobs_spark.operators.dedup import dedup_lww_semijoin

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.col("event_id").alias("seq"),
        F.col("event_type"), F.col("value"),
    )
    txt = plan_text(dedup_lww_semijoin(ev, ["user_id"], "seq"))
    required = ["partial_max(seq", "BroadcastHashJoin", "LeftSemi"]
    forbidden = ["SortMergeJoin", "BatchEvalPython"]
    problems = [f"MISSING required plan fragment: {s!r}" for s in required if s not in txt]
    problems += [f"FORBIDDEN plan fragment present: {s!r}" for s in forbidden if s in txt]
    return "dedup_lww_semijoin", txt, problems


def _fused_merge_reduce_check(spark, sf_dir):
    """merge's MoR reduce (``LakeTable._reduce_mor_batch``) is fused into
    its bucketed write on both sides of its size gate: the ONLY Exchange
    that moves full rows is the write's ``hashpartitioning(_bucket,
    salt)`` under the ``max(struct)`` aggregate, and the write's own
    repartition is planned away.

    - At the session's ``spark.sql.autoBroadcastJoinThreshold`` the
      events batch fits, so it is reduced in one pass: no winner list,
      no broadcast, no semi join. The aggregate (partial and final) runs
      after the shuffle, so every batch row crosses it — which is why
      only a small batch takes this side.
    - With the threshold at 1 byte it does not, and the semijoin
      fragments hold: a partial ``max(seq)`` winner list, broadcast, a
      left-semi join into the same single full-row Exchange.

    Exchanges are counted on the physical tree with AQE off (so they are
    plain nodes), leaving out those under the broadcast winner list."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from synapse_etl_jobs_spark.lake.table import DELETED_COL, SEQ_COL, LakeTable

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.col("event_type"), F.col("value"),
        F.col("event_id").cast("long").alias(SEQ_COL), F.lit(False).alias(DELETED_COL),
    )
    tmp = tempfile.mkdtemp(prefix="fused_reduce_")
    t = LakeTable.create(
        spark, tmp + "/t",
        StructType([ev.schema[c] for c in ("user_id", "event_type", "value")]),
        ["user_id"], num_buckets=16, write_mode="mor",
    )
    shutil.rmtree(tmp)  # only the table handle's spec is needed

    def reduced():
        # the shape merge builds, then the default bucketed write's
        # repartition
        return t._reduce_mor_batch(ev).repartition(*t._write_partitioning())

    def full_row_exchanges():
        # a frame built with AQE off plans exchanges as plain tree nodes
        aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            nodes = _jnodes(reduced()._jdf.queryExecution().executedPlan())
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        return [
            n.outputPartitioning().toString() for n in nodes
            if n.nodeName() == "Exchange"
            and not any(n.equals(m) for b in nodes
                        if b.nodeName() == "BroadcastExchange" for m in _jnodes(b))
        ]

    gate = "spark.sql.autoBroadcastJoinThreshold"
    sides = [
        ("one pass", None, ["partial_max(struct(_s", "hashpartitioning(_bucket"],
         ["BroadcastExchange", "LeftSemi", "SortMergeJoin", "BatchEvalPython"]),
        ("semijoin", "1",
         ["partial_max(_seq", "BroadcastHashJoin", "LeftSemi", "hashpartitioning(_bucket"],
         ["SortMergeJoin", "BatchEvalPython"]),
    ]
    threshold_was = spark.conf.get(gate)
    txts, problems = [], []
    for side, threshold, required, forbidden in sides:
        spark.conf.set(gate, threshold or threshold_was)
        try:
            txt = plan_text(reduced())
            full_row = full_row_exchanges()
        finally:
            spark.conf.set(gate, threshold_was)
        txts.append(f"-- {side} --\n{txt}")
        problems += [f"{side}: MISSING required plan fragment: {s!r}"
                     for s in required if s not in txt]
        problems += [f"{side}: FORBIDDEN plan fragment present: {s!r}"
                     for s in forbidden if s in txt]
        if len(full_row) != 1 or not full_row[0].startswith("hashpartitioning(_bucket"):
            problems.append(
                f"{side}: expected one full-row Exchange on "
                f"hashpartitioning(_bucket, ...), got {full_row}"
            )
    return "merge_fused_reduce", "\n".join(txts), problems


def _patch_collapse_check(spark, sf_dir):
    """The partial-update collapse must be ONE hash-partitioned
    aggregation with map-side partials (per-column max(struct) under
    CASE filters before the exchange) — never a window over the event
    stream and never Python. A hot key then costs a few bytes of buffer
    per scan partition instead of concentrating its raw events."""
    from pyspark.sql import functions as F

    from synapse_etl_jobs_spark.operators.patch import collapse_patches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 11 == 0, "DELETE")
        .when(F.col("event_id") % 3 < 2, "PATCH")
        .otherwise("UPSERT").alias("op"),
        F.when(F.col("event_id") % 3 == 0, F.array(F.lit("event_type")))
        .otherwise(F.array(F.lit("value"))).alias("set_cols"),
        F.col("event_type"), F.col("value"),
    )
    txt = plan_text(collapse_patches(ev, ["user_id"], ["event_type", "value"]))
    required = ["partial_max(CASE WHEN", "Exchange"]
    forbidden = ["Window", "BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"]
    problems = [f"MISSING required plan fragment: {s!r}" for s in required if s not in txt]
    problems += [f"FORBIDDEN plan fragment present: {s!r}" for s in forbidden if s in txt]
    return "patch_collapse", txt, problems


def _jnodes(n):
    """Flatten a JVM SparkPlan tree (depth-first)."""
    out = [n]
    ch = n.children()
    for i in range(ch.size()):
        out += _jnodes(ch.apply(i))
    return out


def _index_probe_plan_check(spark, sf_dir):
    """The incremental-index probe (streaming dedup hot path) must be a
    BroadcastHashJoin with the BATCH side broadcast and the index side
    shuffle-free: per micro-batch the O(corpus × bands) index must never
    cross an Exchange — only the O(batch × bands) bucket rows move.
    Verified structurally on the physical plan tree: exactly one join
    child carries a BroadcastExchange and it is the side containing the
    signature machinery (Generate/posexplode); the other (index) child
    subtree contains zero Exchange nodes of any kind."""
    import shutil
    import tempfile

    from synapse_etl_jobs_spark.operators.dedup_text import (
        minhash_index, minhash_index_probe,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="ixprobe_")
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # the production shape: index PERSISTED, read back as a plain scan
        minhash_index(d).write.mode("overwrite").parquet(tmp)
        ix = spark.read.parquet(tmp)
        batch = d.limit(64)
        # AQE off for the STRUCTURAL check: executedPlan is then the
        # plain physical tree (exchanges inserted, no adaptive wrappers
        # / query-stage nodes to unwrap); sparkPlan would show NO
        # exchanges at all (EnsureRequirements hasn't run there)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        probe = minhash_index_probe(batch, ix)
        txt = plan_text(probe)
        plan = probe._jdf.queryExecution().executedPlan()
        nodes = _jnodes(plan)
        problems = []
        joins = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
        if not joins:
            problems.append("MISSING: probe join is not a BroadcastHashJoin")
        else:
            j = joins[0]
            sides = [j.children().apply(0), j.children().apply(1)]
            flat = [_jnodes(s) for s in sides]
            bcast = [
                i for i, f in enumerate(flat)
                if any(m.nodeName() == "BroadcastExchange" for m in f)
            ]
            if len(bcast) != 1:
                problems.append(
                    f"expected exactly one broadcast join side, got {len(bcast)}"
                )
            else:
                b, s = bcast[0], 1 - bcast[0]
                if not any(m.nodeName() == "Generate" for m in flat[b]):
                    problems.append(
                        "broadcast side is not the batch (no signature "
                        "Generate under the BroadcastExchange)"
                    )
                shuffles = [
                    m.nodeName() for m in flat[s] if "Exchange" in m.nodeName()
                ]
                if shuffles:
                    problems.append(
                        f"FORBIDDEN: index side crosses Exchange(s): {shuffles}"
                    )
        return "minhash_index_probe_broadcast", txt, problems
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        shutil.rmtree(tmp, ignore_errors=True)


def _tfidf_reuse_check(spark, sf_dir):
    """tf_idf_topk's tf and idf branches share the groupBy(id, term)
    subplan; AQE's final plan must materialize that exchange ONCE
    (ReusedExchange) so the operator costs one corpus scan + one explode
    shuffle, not two. Runtime check: the static plan can't show it."""
    from synapse_etl_jobs_spark.operators.text import tf_idf_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = tf_idf_topk(d)
    q.collect()  # finalize the adaptive plan
    txt = q._jdf.queryExecution().executedPlan().toString()
    problems = []
    if "ReusedExchange" not in txt:
        problems.append(
            "MISSING required plan fragment: 'ReusedExchange' "
            "(doc_terms shuffle must be shared between tf and idf branches)"
        )
    return "tf_idf_reused_exchange", txt, problems


def _zorder_sampling_check(spark, sf_dir):
    """Z-order boundary sampling with key hash_cols must plan as a
    distributed TakeOrderedAndProject over a scan that reads ONLY the
    key + sampled column (payload width pruned away) with the not-null
    filter pushed — never a global sort/Exchange or a full-width scan."""
    from pyspark.sql import functions as F

    from synapse_etl_jobs_spark.lake.zorder import _sample_query

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = _sample_query(d, "lang", [F.col("doc_id")], "_v", 0, 1000)
    txt = q._jdf.queryExecution().executedPlan().toString()
    required = [
        "TakeOrderedAndProject",
        "ReadSchema: struct<doc_id:bigint,lang:string>",
        "PushedFilters: [IsNotNull(lang)]",
    ]
    forbidden = ["Exchange", "BatchEvalPython", "Sort "]
    problems = [f"MISSING required plan fragment: {s!r}" for s in required if s not in txt]
    problems += [f"FORBIDDEN plan fragment present: {s!r}" for s in forbidden if s in txt]
    return "zorder_boundary_sampling", txt, problems


def _athena_single_parse_check(spark, sf_dir):
    """Every Athena backfill SELECT must parse json_record exactly ONCE
    per row — one JsonToStructs (from_json) in the optimized plan, zero
    get_json_object — so the scan never pays the JSON parse per field
    (the reference Presto re-parses 10-14× per row; see
    jobs/backfill_athena.py docstring). Checked on the optimized plan of
    all five jobs over a synthetic 3-row source."""
    from synapse_etl_jobs_spark.jobs.backfill_athena import (
        ATHENA_BACKFILLS, backfill_select_sql,
    )

    spark.createDataFrame(
        [(1000 + i, "snapshotrecord", '{"id": "%d"}' % i, "000000386",
          "2024-01-0%d" % (i + 1)) for i in range(3)],
        "change_timestamp bigint, record_type string, json_record string, "
        "instance string, snapshot_date string",
    ).createOrReplaceTempView("_audit_athena_src")
    problems, texts = [], []
    for job, spec in ATHENA_BACKFILLS.items():
        df = spark.sql(backfill_select_sql(spec, "_audit_athena_src"))
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        texts.append(f"-- {job} --\n{opt.strip()}")
        n = opt.count("from_json")
        if n != 1:
            problems.append(
                f"{job}: expected exactly 1 from_json in optimized plan, got {n}"
            )
        if "get_json_object" in opt:
            problems.append(f"{job}: FORBIDDEN get_json_object in optimized plan")
    return "athena_backfill_single_json_parse", "\n\n".join(texts), problems


def _row_maintenance_scan_check(spark, sf_dir):
    """delete_where's matched-view scan must be pruned BOTH ways: the
    parquet ReadSchema carries only keys + predicate columns + internal
    state (never the wide content column — the _sql_refs projection
    reaches the scan through the MoR reduce), and derivable range
    bounds skip manifest files before any plan exists (asserted on the
    driver-side pruning stats, since file skipping never shows in the
    plan). Checked on a 200-row stars-sorted table."""
    import tempfile

    from pyspark.sql.types import StructType

    from synapse_etl_jobs_spark.lake import LakeTable

    schema = (
        StructType().add("repo", "string").add("path", "string")
        .add("lang", "string").add("stars", "long").add("content", "string")
    )
    t = LakeTable.create(
        spark, tempfile.mkdtemp(prefix="audit_rowmaint_") + "/t", schema,
        ["repo", "path"], num_buckets=2, write_mode="mor",
    )
    t.merge(
        spark.createDataFrame(
            [(f"r{i}", f"f{i}", "python", i, "x" * 50, "UPSERT", i)
             for i in range(200)],
            "repo string, path string, lang string, stars long, "
            "content string, op string, seq long",
        ),
        batch_id=0,
    )
    t.compact(sort_cols=["stars"], target_file_mb=0.001)

    problems = []
    pred = "stars >= 190"
    view, _ = t._matched_view(pred, t._sql_refs(pred))
    txt = plan_text(view)
    if "content" in txt:
        problems.append(
            "matched-view plan reads the content column — the _sql_refs "
            "projection did not reach the scan"
        )
    if "BatchEvalPython" in txt:
        problems.append("FORBIDDEN BatchEvalPython in matched-view plan")
    kept, st = t._range_pruned_entries(t._predicate_bounds(pred))
    if not st["files_kept"] < st["files_total"]:
        problems.append(
            f"manifest stats pruning skipped nothing: {st} (sorted table, "
            "range predicate — expected files_kept < files_total)"
        )
    txt += f"\n-- manifest pruning: {st} --"
    return "row_maintenance_pruned_scan", txt, problems


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from synapse_etl_jobs_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    sections, failures = [], []
    results = []
    for name, required, forbidden in CHECKS:
        txt = plan_text(qs[name](spark, sf_dir))
        problems = [f"MISSING required plan fragment: {s!r}" for s in required if s not in txt]
        problems += [f"FORBIDDEN plan fragment present: {s!r}" for s in forbidden if s in txt]
        results.append((name, txt, problems))
    results.append(_semijoin_plan_check(spark, sf_dir))
    results.append(_fused_merge_reduce_check(spark, sf_dir))
    results.append(_patch_collapse_check(spark, sf_dir))
    results.append(_index_probe_plan_check(spark, sf_dir))
    results.append(_tfidf_reuse_check(spark, sf_dir))
    results.append(_zorder_sampling_check(spark, sf_dir))
    results.append(_athena_single_parse_check(spark, sf_dir))
    results.append(_row_maintenance_scan_check(spark, sf_dir))

    for name, txt, problems in results:
        status = "OK" if not problems else "FAIL"
        if problems:
            failures.append((name, problems))
        print(f"{status:4s} {name}")
        for p in problems:
            print(f"      {p}")
        sections.append(
            f"## {name} — {status}\n\n"
            + "".join(f"- {p}\n" for p in problems)
            + f"\n```\n{txt.strip()}\n```\n"
        )

    header = (
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n\n"
        f"Input: `{sf_dir}`. Each section is `explain('formatted')` of a\n"
        "headline query, with the scale-relevant assertions checked above it:\n"
        "pushdown reaches the scan, broadcast joins stay broadcast, the LWW\n"
        "dedup is a hash aggregate (not sort+window), Python appears only as\n"
        "ArrowEvalPython, and nothing degenerates to a cartesian product.\n\n"
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))

    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
