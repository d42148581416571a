"""One workload in one fresh JVM: set-up, timed phase, outputs for the gate.

Run by ``run.py`` as ``python3 perfbench/workload.py PLAN.json``; the plan
names every input window (parquet written before this process started),
the table settings and the read ops. The result goes to ``result.json``
in the plan's output directory, next to the rows the gate checks: each
lookup and changes result and the final ``read()``.

Timing is from outside the engine: the wall and the process tree's CPU
time of each call into its public functions (``ReplayDriver.replay``,
``LakeTable.read/lookup_keys/changes``).
With ``trace`` set, ``spans.Tracer`` also spans ``merge``, ``compact`` and
``vacuum`` on the table instance and attributes Spark jobs to every span.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import procfs

KEYS = ["repo", "path", "commit"]
COLS = ["repo", "path", "commit", "lang", "content"]


def _data_files(table_path: str) -> dict[str, int]:
    root = os.path.join(table_path, "data")
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _meta_files(table_path: str) -> dict[str, int]:
    out = {}
    for sub in ("_manifests", "_lineage"):
        for d, _, fs in os.walk(os.path.join(table_path, sub)):
            for f in fs:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _manifest_paths(table) -> set[str]:
    return {e["path"] for lst in table.manifest.buckets.values() for e in lst}


class Workload:
    def __init__(self, plan: dict):
        self.plan = plan
        self.out = plan["out"]
        self.tracer = None
        self.errors: list[dict] = []
        self.walls: dict[str, list[float]] = {"commit": [], "scan": [], "lookup": [], "changes": []}
        # CPU seconds of the process tree (JIT threads left out, see
        # procfs.cpu_s) during each timed call
        self.cpu: dict[str, list[float]] = {k: [] for k in self.walls}
        self.scans: list[dict] = []
        self.outputs: list[dict] = []
        self.layer: dict[str, list[float]] = {}
        self.created_bytes = 0

    # ------------------------------------------------------------- session

    def start(self) -> None:
        from synapse_etl_jobs_spark.session import get_spark

        p = self.plan
        work_tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name=f"perfbench-{p['workload']}",
            master=p["master"],
            shuffle_partitions=p["shuffle_partitions"],
            extra_conf={
                "spark.driver.memory": p["heap"],
                "spark.driver.extraJavaOptions":
                    # JIT compiler threads stay alive, so the CPU time
                    # procfs.cpu_s leaves out never moves back into the total
                    f"-Xms{p['heap']} -XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Djava.io.tmpdir={work_tmp}",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work_tmp, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if p["trace"]:
            from spans import Tracer

            self.tracer = Tracer(self.spark)

    def _schema(self):
        from pyspark.sql.types import StructType

        s = StructType()
        for c in COLS:
            s = s.add(c, "string")
        return s

    def _events(self, win: dict):
        # the generator's schema, so no footer is read to infer it
        from pyspark.sql.pandas.types import from_arrow_schema

        from gen import SCHEMA

        return self.spark.read.schema(from_arrow_schema(SCHEMA)).parquet(win["dir"])

    def new_table(self, path: str):
        from synapse_etl_jobs_spark.lake import LakeTable

        p = self.plan
        return LakeTable.create(
            self.spark, path, self._schema(), KEYS,
            num_buckets=p["num_buckets"], write_mode=p["mode"],
            point_index_bits=p["point_index_bits"],
        )

    def new_driver(self, table, batch_events: int, stream_id: str, maintain: bool):
        from synapse_etl_jobs_spark.streaming import ReplayDriver

        p = self.plan
        return ReplayDriver(
            table, stream_id=stream_id, batch_events=batch_events,
            compact_every=p["compact_every"] if maintain else None,
            vacuum_every=p["vacuum_every"] if maintain else None,
            vacuum_opts={"retain_versions": p["retain_versions"]},
        )

    # ----------------------------------------------------------------- ops

    def _span(self, name: str, record: bool):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer and record else nullcontext()

    def _timed(self, kind: str, fn, record: bool, span: str | None = None):
        c = procfs.cpu_s(os.getpid())
        t = time.monotonic()
        with self._span(span or kind, record) as s:
            out = fn()
        if record:
            self.walls[kind].append(time.monotonic() - t)
            self.cpu[kind].append(procfs.cpu_s(os.getpid()) - c)
        return out, s

    def read_ops(self, table, ops: list[str], win: dict, prev_version: int,
                 record: bool, tag: str) -> None:
        from pyspark.sql import functions as F

        for op in ops:
            try:
                if op == "scan":
                    if self.tracer and record:
                        with self.tracer.overhead():
                            self._gauge_manifest(table)
                    (row,), _ = self._timed("scan", lambda: table.read().agg(
                        F.count(F.lit(1)).alias("n"),
                        F.bit_xor(F.xxhash64(*COLS)).alias("h")).collect(), record)
                    if record:
                        self.scans.append({"tag": tag, "upto": win["upto"], "rows": row["n"]})
                elif op == "lookup":
                    for keys in win["probes"]:
                        probe = [tuple(k) for k in keys]
                        rows, _ = self._timed(
                            "lookup", lambda: table.lookup_keys(probe).toArrow(), record)
                        self._save(rows, "lookup", tag, win, record, probe=keys)
                elif op == "changes":
                    rows, _ = self._timed(
                        "changes", lambda: table.changes(prev_version).toArrow(), record)
                    self._save(rows, "changes", tag, win, record, since=prev_version)
                else:
                    raise ValueError(f"unknown read op {op}")
            except Exception as e:  # an op that raises counts as failed
                self.errors.append({"op": op, "tag": tag, "error": repr(e),
                                    "trace": traceback.format_exc(limit=3)})
                if not record:
                    raise

    def _save(self, rows, kind: str, tag: str, win: dict, record: bool, **extra) -> None:
        if not record:
            return
        import pyarrow.parquet as pq

        path = os.path.join(self.out, f"{kind}-{len(self.outputs):04d}.parquet")
        pq.write_table(rows, path)
        self.outputs.append({"kind": kind, "tag": tag, "upto": win["upto"],
                             "window": win.get("index"), "file": path, **extra})

    def _gauge_manifest(self, table) -> None:
        b = table.manifest.buckets
        self._add("table.live_files", sum(len(v) for v in b.values()))
        self._add("table.deltas_per_bucket_max", max(
            (sum(1 for e in v if e.get("kind") == "delta") for v in b.values()), default=0))

    def _add(self, name: str, v: float) -> None:
        self.layer.setdefault(name, []).append(v)

    # --------------------------------------------------------------- phases

    def warm_pass(self, win: dict) -> None:
        """Create a throwaway table and run one window plus every read op
        of the workload on it: the JIT and Spark's code caches warm up
        on the same code paths the timed phase uses."""
        p = self.plan
        tb = self.new_table(os.path.join(p["tables"], "warm"))
        drv = self.new_driver(tb, win["hi"] - win["lo"], "warm", maintain=False)
        drv.replay(self._events(win), seq_start=win["lo"], seq_end=win["hi"])
        if p["compact_every"]:
            tb.compact(min_files=2, drop_tombstones=False)
        if p["vacuum_every"]:
            tb.vacuum(retain_versions=p["retain_versions"])
        self.read_ops(tb, p["window_reads"], win, 0, record=False, tag="warm")

    def run(self) -> dict:
        p = self.plan
        t_spawn = p["t_spawn"]
        self.start()
        session_s = time.monotonic() - t_spawn
        t = time.monotonic()
        self.warm_pass(p["warm"])
        warmup_s = time.monotonic() - t
        t = time.monotonic()
        table = self.new_table(p["table"])
        if p["preload"]:
            w = p["preload"]
            self.new_driver(table, w["hi"] - w["lo"], "preload", maintain=False).replay(
                self._events(w), seq_start=w["lo"], seq_end=w["hi"])
        preload_s = time.monotonic() - t
        setup = {"session_s": session_s, "warmup_s": warmup_s, "preload_s": preload_s,
                 "setup_s": session_s + warmup_s + preload_s}

        drv = self.new_driver(table, p["window_events"], "bench", maintain=True)
        if self.tracer:
            for m in ("merge", "compact", "vacuum"):
                self._wrap_write(table, m)
        t_timed = time.monotonic()
        files = _data_files(p["table"])
        meta = {}
        if self.tracer:
            with self.tracer.overhead():
                meta = _meta_files(p["table"])
        for win in p["windows"]:
            prev = table.manifest.table_version
            ev = self._events(win)
            try:
                stats, s = self._timed("commit", lambda: drv.replay(
                    ev, seq_start=win["lo"], seq_end=win["hi"]), True, span="replay")
            except Exception as e:
                self.errors.append({"op": "commit", "tag": "timed", "error": repr(e),
                                    "trace": traceback.format_exc(limit=3)})
                break
            now = _data_files(p["table"])
            self.created_bytes += sum(v for f, v in now.items() if f not in files)
            files = now
            if self.tracer:
                with self.tracer.overhead():
                    self.tracer.harvest()
                    self._window_layers(s, stats, win)
                    m2 = _meta_files(p["table"])
                    commits = 1 + sum(1 for st in stats if "compact" in st)
                    self._add("meta.bytes_per_commit",
                              sum(v for f, v in m2.items() if f not in meta) / commits)
                    self._add("meta.files", len(m2))
                    meta = m2
            self.read_ops(table, p["window_reads"], win, prev, record=True, tag="window")
            if self.tracer:
                with self.tracer.overhead():
                    self.tracer.harvest()
        t_final = time.monotonic()
        if self.tracer:
            setup["tracing_s"] = self.tracer.own_s
        win = dict(p["windows"][-1], probes=[p["final_probe"]])
        self.read_ops(table, ["lookup"], win, prev, True, "final")
        if self.tracer:
            self.tracer.harvest()
        import pyarrow.parquet as pq

        pq.write_table(table.read().toArrow(), os.path.join(self.out, "final.parquet"))
        setup["timed_phase_s"] = t_final - t_timed
        setup["final_reads_s"] = time.monotonic() - t_final
        result = {
            "setup": setup, "walls": self.walls, "cpu": self.cpu, "scans": self.scans,
            "outputs": self.outputs, "errors": self.errors,
            "created_bytes": self.created_bytes,
            "env": {"java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
                    "spark": self.spark.version},
        }
        if self.tracer:
            result["layers"] = self._layers(setup)
            self.tracer.dump(os.path.join(self.out, "spans.json"))
        self.spark.stop()
        return result

    # ------------------------------------------------------------- tracing

    def _wrap_write(self, table, method: str) -> None:
        """Span ``table.<method>`` and record the data files it added."""
        fn = getattr(table, method)
        tr = self.tracer

        def spanned(*a, **k):
            with tr.overhead():
                before = _manifest_paths(table)
            with tr.span(method) as s:
                out = fn(*a, **k)
            with tr.overhead():
                new = _manifest_paths(table) - before
                s["attrs"].update(files_written=len(new),
                                  bytes_written=sum(os.path.getsize(f) for f in new),
                                  result={k2: v for k2, v in out.items()
                                          if isinstance(v, (int, float, str, bool))})
            return out

        setattr(table, method, spanned)

    def _window_layers(self, wspan: dict, stats: list, win: dict) -> None:
        tr = self.tracer
        kids = [s for s in tr.spans[wspan["id"] + 1:] if s["parent"] == wspan["id"]]
        merges = [s for s in kids if s["name"] == "merge"]
        merge_wall = sum(s["t1"] - s["t0"] for s in merges)
        self._add("replay.prepass_s", tr.job_time(wspan, "streaming/replay.py"))
        self._add("replay.stall_s", (wspan["t1"] - wspan["t0"]) - merge_wall)
        for s in merges:
            c = tr.costs(s)
            for k in ("wall_s", "driver_s", "spark_s", "jobs", "stages", "tasks",
                      "cpu_s", "gc_s", "shuffle_write_mb", "input_mb"):
                self._add(f"merge.{k}", c[k])
            self._add("merge.files_written", s["attrs"]["files_written"])
            self._add("merge.bytes_written_mb", s["attrs"]["bytes_written"] / 2**20)
        for s in kids:
            if s["name"] == "compact":
                c = tr.costs(s)
                self._add("compact.wall_s", c["wall_s"])
                self._add("compact.input_mb", c["input_mb"])
                self._add("compact.bytes_written_mb", s["attrs"]["bytes_written"] / 2**20)
            elif s["name"] == "vacuum":
                self._add("vacuum.wall_s", s["t1"] - s["t0"])
                self._add("vacuum.deleted_files",
                          s["attrs"]["result"].get("deleted_data_files", 0))
        self._dedup_alone(win)

    def _dedup_alone(self, win: dict) -> None:
        """The LWW reduce alone: ``dedup_lww_semijoin`` on the same window
        into the ``noop`` sink, outside the window's wall (its time counts
        as tracing overhead)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from synapse_etl_jobs_spark.operators.dedup import dedup_lww_semijoin

        ev = self._events(win)
        obs = Observation("winners")
        with self.tracer.span("dedup") as s:
            (dedup_lww_semijoin(ev, KEYS, "seq")
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        self.tracer.harvest()
        c = self.tracer.costs(s)
        self._add("dedup.reduce_s", c["wall_s"])
        self._add("dedup.shuffle_write_mb", c["shuffle_write_mb"])
        self._add("dedup.winners", obs.get["n"])
        self._add("dedup.events", win["events"])

    def _layers(self, setup: dict) -> dict:
        tr = self.tracer
        for kind in ("scan", "lookup", "changes"):
            for s in tr.spans:
                if s["name"] != kind or s["parent"] is not None:
                    continue
                c = tr.costs(s)
                self._add(f"{kind}.wall_s", c["wall_s"])
                self._add(f"{kind}.spark_s", c["spark_s"])
                self._add(f"{kind}.driver_s",
                          c["pre_job_s"] if kind == "lookup" else c["driver_s"])
                self._add(f"{kind}.input_mb", c["input_mb"])
                self._add(f"{kind}.tasks", c["tasks"])
        return {
            "series": self.layer,
            "jvm_gc_s": sum(st["jvmGcTime"] for s in tr.spans if s["parent"] is None
                            and s["name"] != "dedup" for j in tr.jobs(s)
                            for st in j["stages"]) / 1e3,
            "setup": setup,
        }


def main(argv: list[str]) -> int:
    with open(argv[1]) as f:
        plan = json.load(f)
    result = Workload(plan).run()
    with open(os.path.join(plan["out"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
