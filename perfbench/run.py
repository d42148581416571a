"""CDC ingest benchmark: two workloads, each in a fresh JVM, checked
against a DuckDB reference.

Usage (from the repository root):

    python3 perfbench/run.py --workload trickle_serve --seed 1 --seconds 28 --trace 0

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``;
``--trace 1`` prints the per-layer metrics instead, from one traced run.
The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the lines before it are an ``env``
block, the set-up phases and every metric by name and unit.
Exit status is non-zero when any operation raised or differed from the
reference, or when the engine package is missing.

How a run goes: this process generates every input window as parquet from
``--seed`` (``gen.py``) before any clock starts, writes a plan, and starts
``workload.py`` in a child process with a pinned environment. While the
child runs, a sampler thread sums resident memory over the child's whole
process tree (Python driver, JVM, Python workers). When it exits, ``gate`` checks
its outputs against LWW over the same parquet files in DuckDB. Everything
is written under ``.perfbench_work/`` in the repository root and removed
at the end, except the spans of a traced run, which are kept in
``.perfbench_trace/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402

# Calibrated on a 4-CPU, 15 GiB box shared with other guests. Tasks get 2
# cores; the others are headroom for the Python driver, the JIT, GC and
# the CPU time the hypervisor gives to other guests. The windows are
# small, so on a calm host 2 cores commit as fast as 3.
MAX_CORES = 2
HEAP = "2g"

# One entry per workload. Sizes are constants so that a seed alone fixes
# the inputs; ``windows_per_s`` turns --seconds into a window count.
WORKLOADS = {
    "trickle_serve": dict(
        mode="mor", num_buckets=4, shuffle_partitions=4, point_index_bits=8192,
        n_keys=20_000, n_repos=64, keys="power", preload_events=0,
        window_events=5_000, windows_per_s=0.25, warm_events=3_000,
        compact_every=3, vacuum_every=3, window_reads=["lookup", "changes", "scan"],
    ),
    "cow_upsert": dict(
        mode="cow", num_buckets=4, shuffle_partitions=4, point_index_bits=None,
        n_keys=30_000, n_repos=64, keys="repos", preload_events=30_000,
        window_events=10_000, windows_per_s=0.25, warm_events=3_000,
        compact_every=None, vacuum_every=None, repos_per_window=5,
        # three scans of each version: a single 0.3 s scan per commit
        # spread 0.2 (IQR/median) over ten seeds on a loaded host, and
        # the median of three times as many rests less on JIT progress
        window_reads=["scan", "scan", "scan"],
    ),
}
PROBE_KEYS = 8
PROBES_PER_WINDOW = 1
MIN_WINDOWS = 3
# The reader asks for changes since the version before the window's merge.
# A window commits at most two versions (merge, then compaction), so
# keeping 3 versions keeps that since-version readable after vacuum.
RETAIN_VERSIONS = 3


def make_inputs(name: str, seed: int, seconds: float, work: str, tiny: bool) -> dict:
    """Generate every window for one run and return the plan for the child."""
    import numpy as np

    from gen import EventGen, write_window

    spec = dict(WORKLOADS[name])
    if tiny:  # smoke-test sizes: same code paths, seconds of work
        for k in ("n_keys", "preload_events", "window_events", "warm_events"):
            spec[k] = max(spec[k] // 50, 200) if spec[k] else 0
    cores = max(1, min(MAX_CORES, (os.cpu_count() or 2) - 1))
    g = EventGen(seed, spec["n_keys"], spec["n_repos"])
    rng = np.random.default_rng(seed + 1)
    n_windows = max(MIN_WINDOWS, round(seconds * spec["windows_per_s"]))

    def keys_for(n: int, window: int) -> np.ndarray:
        if spec["keys"] == "power":
            return g.power_keys(n)
        # which repos a window hits is fixed, not seeded: a CoW merge
        # rewrites whole buckets, so seeded repo picks made the rewritten
        # bytes (and write_amp) swing by which buckets they hashed to
        k = spec["repos_per_window"]
        repos = [(window * k + j * 13) % spec["n_repos"] for j in range(k)]
        return g.repo_keys(n, np.array(repos))

    def emit(tag: str, keys: np.ndarray, **kw) -> dict:
        b = len(keys)
        g.next_seq = -(-g.next_seq // b) * b  # align: one window = one replay batch
        lo = g.next_seq
        t = g.window(keys, **kw)
        d = os.path.join(work, "events", tag)
        write_window(t, d, cores)
        return {"dir": d, "lo": lo, "hi": lo + b, "events": t.num_rows}

    seen: list[np.ndarray] = []

    def probe() -> list[list[str]]:
        live = np.unique(np.concatenate(seen))
        pick = rng.choice(live, size=min(PROBE_KEYS, len(live)), replace=False)
        return [list(k) for k in g.key_tuples(pick)]

    k = keys_for(spec["warm_events"], -1)
    warm = emit("warm", k)
    seen.append(k)
    warm.update(upto=-1, probes=[probe()])
    seen = []
    preload = None
    if spec["preload_events"]:
        k = rng.permutation(spec["n_keys"])[: spec["preload_events"]]
        preload = emit("preload", k, delete_pct=0, insert_pct=100, dup_every=None)
        seen.append(k)
    windows = []
    for i in range(n_windows):
        k = keys_for(spec["window_events"], i)
        kw = dict(delete_pct=3, insert_pct=7) if spec["keys"] == "repos" else {}
        w = emit(f"w{i:04d}", k, **kw)
        seen.append(k)
        windows.append(dict(w, index=i, upto=i,
                            probes=[probe() for _ in range(PROBES_PER_WINDOW)]))
    return {
        "workload": name, "seed": seed, "mode": spec["mode"],
        "master": f"local[{cores}]", "heap": HEAP,
        "num_buckets": spec["num_buckets"], "shuffle_partitions": spec["shuffle_partitions"],
        "point_index_bits": spec["point_index_bits"],
        "compact_every": spec["compact_every"], "vacuum_every": spec["vacuum_every"],
        "retain_versions": RETAIN_VERSIONS, "window_events": spec["window_events"],
        "window_reads": spec["window_reads"], "final_probe": probe(),
        "warm": warm, "preload": preload, "windows": windows,
    }


# ------------------------------------------------------------------ child

class RssSampler(threading.Thread):
    """Peak of the summed resident memory of a process and all its
    descendants, sampled every ``interval`` seconds from ``/proc``."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            # a child the JVM spawns (Hadoop runs shell commands when its
            # native library is missing) shares the JVM's memory until it
            # execs; counting both once read the heap twice (+1.9 GB), so
            # processes younger than a second are left out
            pids = procfs.tree(self.pid, min_age_s=1.0)
            self.peak_kb = max(self.peak_kb, sum(procfs.pss_kb(p) for p in pids))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def child_env(work: str) -> dict:
    """The child's environment: inherited ``SPARK_GRAFT_*`` knobs removed,
    scratch and Spark local dirs inside the work directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0", OMP_NUM_THREADS="1",
    )
    return env


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _reap_session(sid: int, timeout: float = 20.0) -> None:
    """Kill what is left of the child's session and wait until it is gone."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[3]) == sid and fields[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_child(plan: dict, work: str, tag: str, trace: bool, deadline: float) -> dict:
    out = os.path.join(work, f"out-{tag}")
    os.makedirs(out, exist_ok=True)
    plan = dict(plan, out=out, trace=int(trace), tables=os.path.join(work, f"tables-{tag}"),
                table=os.path.join(work, f"tables-{tag}", "t"))
    plan_path = os.path.join(work, f"plan-{tag}.json")
    log_path = os.path.join(work, f"child-{tag}.log")
    with open(log_path, "w") as log:
        plan["t_spawn"] = time.monotonic()
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), plan_path],
            cwd=ROOT, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        rss = RssSampler(proc.pid)
        rss.start()
        steal0 = _cpu_ticks()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            steal1 = _cpu_ticks()
            rss.stop()
            _reap_session(proc.pid)
            if proc.poll() is None:
                proc.wait()
    res_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"workload child ({tag}) exited with {code}:\n{tail}")
    with open(res_path) as f:
        res = json.load(f)
    res["rss_peak_mb"] = rss.peak_kb / 1024
    # share of CPU time the hypervisor gave to other guests while the child
    # ran: explains a run that is slow everywhere at once
    res["setup"]["host_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    res["plan"] = plan
    return res


# ------------------------------------------------------------------- gate

def _digest_sql(src: str, deleted: bool = False) -> str:
    if deleted:
        row = ("hash(repo, path, \"commit\", d, s, "
               "CASE WHEN d THEN NULL ELSE lang END, "
               "CASE WHEN d THEN NULL ELSE sha256(content) END)")
    else:
        row = 'hash(repo, path, "commit", lang, sha256(content))'
    return f"SELECT count(*), coalesce(bit_xor({row}), 0) FROM {src}"


def gate(res: dict) -> dict:
    """Check the child's outputs against LWW over the same input files.

    Returns the ops attempted, the mismatches, and the reference's
    logical byte counts that the amplification metrics divide by."""
    import duckdb

    plan = res["plan"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    wins = ([(-1, plan["preload"])] if plan["preload"] else []) + \
        [(w["index"], w) for w in plan["windows"]]
    con.execute("CREATE TABLE ev AS SELECT *, 0 AS w FROM read_parquet(?) LIMIT 0",
                [os.path.join(wins[0][1]["dir"], "*.parquet")])
    for i, w in wins:
        con.execute(f"INSERT INTO ev SELECT *, {int(i)} FROM read_parquet(?)",
                    [os.path.join(w["dir"], "*.parquet")])

    def state(upto: int, keep_deletes: bool = False, only: int | None = None) -> str:
        cond = f"w = {only}" if only is not None else f"w <= {upto}"
        sel = ("SELECT repo, path, \"commit\", lang, content, op = 'DELETE' AS d, seq AS s "
               f"FROM ev WHERE {cond} QUALIFY row_number() OVER "
               "(PARTITION BY repo, path, \"commit\" ORDER BY seq DESC) = 1")
        return f"({sel})" if keep_deletes else f"(SELECT * FROM ({sel}) WHERE NOT d)"

    n_ops, bad = 0, []
    applied = len(res["walls"]["commit"])
    n_ops += len(plan["windows"])
    bad += [e for e in res["errors"]]
    for sc in res["scans"]:
        n_ops += 1
        (n,), = con.execute(f"SELECT count(*) FROM {state(sc['upto'])}").fetchall()
        if n != sc["rows"]:
            bad.append({"op": "scan", "upto": sc["upto"], "engine": sc["rows"], "ref": n})
    for o in res["outputs"]:
        n_ops += 1
        if o["kind"] == "lookup":
            con.execute("CREATE OR REPLACE TEMP TABLE probe(repo VARCHAR, path VARCHAR, "
                        "\"commit\" VARCHAR)")
            con.executemany("INSERT INTO probe VALUES (?, ?, ?)", o["probe"])
            ref = con.execute(_digest_sql(
                f"(SELECT * FROM {state(o['upto'])} JOIN probe USING (repo, path, \"commit\"))")
            ).fetchall()
            eng = con.execute(_digest_sql(f"read_parquet('{o['file']}')")).fetchall()
        else:
            ref = con.execute(_digest_sql(state(0, True, only=o["window"]), True)).fetchall()
            eng = con.execute(_digest_sql(
                f"(SELECT *, _deleted AS d, _seq AS s FROM read_parquet('{o['file']}'))", True)
            ).fetchall()
        if ref != eng:
            bad.append({"op": o["kind"], "upto": o["upto"], "engine": eng, "ref": ref})
    last = plan["windows"][applied - 1]["index"] if applied else -1
    ref_final = con.execute(_digest_sql(state(last))).fetchall()
    eng_final = con.execute(_digest_sql(
        f"read_parquet('{os.path.join(plan['out'], 'final.parquet')}')")).fetchall()
    n_ops += 1
    if ref_final != eng_final or applied < len(plan["windows"]):
        bad.append({"op": "final", "engine": eng_final, "ref": ref_final})
    strlen = ("strlen(repo) + strlen(path) + strlen(\"commit\") + "
              "coalesce(strlen(lang), 0) + strlen(content)")
    (final_bytes,), = con.execute(f"SELECT sum({strlen}) FROM {state(last)}").fetchall()
    (input_bytes,), = con.execute(f"SELECT sum({strlen}) FROM ev WHERE w >= 0").fetchall()
    con.close()
    return {"attempted": n_ops, "failed": bad, "final_rows": ref_final[0][0],
            "final_bytes": final_bytes, "input_bytes": input_bytes}


# ---------------------------------------------------------------- metrics

def tail(xs: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n); (None, None, n) when that percentile would
    not lie above the median (fewer than 21 samples)."""
    n = len(xs)
    if n < 21:
        return None, None, n
    k = n - 11
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def end_to_end(res: dict, chk: dict) -> dict:
    """The JSON metrics. Time is CPU seconds of the workload's process tree
    (Python driver, JVM without its JIT compiler threads, Python workers;
    see ``procfs.cpu_s``), not wall: on this shared 4-CPU box, runs in
    which other guests took 18% of the CPU read commit walls 48% longer
    than runs at 6%, but commit CPU only 7% higher."""
    plan, cpu = res["plan"], res["cpu"]
    events = sum(w["events"] for w in plan["windows"])
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "ingest_events_per_cpu_s": (events / sum(cpu["commit"]), "events/cpu_s"),
        "commit_cpu_p50_s": (statistics.median(cpu["commit"]), "s"),
        "scan_cpu_p50_s": (statistics.median(cpu["scan"]), "s"),
        "storage_amp": (_dir_bytes(plan["table"]) / chk["final_bytes"], "ratio"),
        "write_amp": (res["created_bytes"] / chk["input_bytes"], "ratio"),
        "driver_rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }


def extras(res: dict, chk: dict) -> list[str]:
    """Metrics printed but not in the JSON: wall times, which follow the
    load other guests put on the host; medians of ops that not every
    workload runs after each commit; tails, which need more samples than
    a run has; and the failure ratio, which the JSON carries as
    ``failed`` ÷ ``attempted``."""
    walls = res["walls"]
    events = sum(w["events"] for w in res["plan"]["windows"])
    lines = [f"ingest_events_per_s {events / sum(walls['commit']):.6g} events/s"]
    for kind in ("commit", "scan", "lookup", "changes"):
        if walls[kind]:
            lines.append(f"{kind}_p50_s {statistics.median(walls[kind]):.6f} s "
                         f"n={len(walls[kind])}")
    for name, xs in (("commit_tail_s", walls["commit"]), ("lookup_tail_s", walls["lookup"])):
        v, p, n = tail(xs)
        lines.append(f"{name} {v:.6f} s p{p:.1f} n={n}" if v is not None
                     else f"{name} n/a s n={n} (fewer than 21 samples)")
    lines.append(f"failed_ops_ratio {len(chk['failed']) / chk['attempted']:.6f} ratio")
    return lines


def per_layer(traced: dict) -> dict:
    """p50 and run total of every per-layer series of the traced run."""
    lay = traced["layers"]
    series = lay["series"]
    out: dict[str, tuple[float, str]] = {}
    units = {"_s": "s", "_mb": "MB", "_per_commit": "B"}

    def unit(n: str) -> str:
        return next((u for suf, u in units.items() if n.endswith(suf)), "count")

    def add(n: str, xs: list[float]) -> None:
        out[f"{n}.p50"] = (statistics.median(xs) if xs else 0.0, unit(n))
        out[f"{n}.total"] = (float(sum(xs)), unit(n))

    for n in LAYER_SERIES:
        if n in ("table.live_files", "table.deltas_per_bucket_max", "meta.files"):
            xs = series.get(n, [])
            out[f"{n}.p50"] = (statistics.median(xs) if xs else 0.0, "count")
            out[f"{n}.max"] = (float(max(xs, default=0)), "count")
        else:
            add(n, series.get(n, []))
    w, e = series.get("dedup.winners", []), series.get("dedup.events", [])
    out["dedup.winners_per_event.p50"] = (
        statistics.median([a / b for a, b in zip(w, e)]) if w else 0.0, "ratio")
    out["dedup.winners_per_event.total"] = (sum(w) / sum(e) if e else 0.0, "ratio")
    for k in ("session_s", "warmup_s", "preload_s"):
        out[f"setup.{k}"] = (lay["setup"][k], "s")
    out["jvm.gc_s.total"] = (lay["jvm_gc_s"], "s")
    # the traced timed phase ÷ the same phase without its tracing work − 1:
    # span bookkeeping, status-store harvests, manifest listings and the
    # standalone dedup jobs (two separate runs on a 4-CPU box differ by
    # more than the overhead, so it is measured inside one run)
    tracing = lay["setup"]["tracing_s"]
    out["trace.overhead_frac"] = (
        tracing / (lay["setup"]["timed_phase_s"] - tracing), "ratio")
    return out


LAYER_SERIES = [
    "replay.prepass_s", "replay.stall_s",
    "merge.wall_s", "merge.driver_s", "merge.spark_s", "merge.jobs", "merge.stages",
    "merge.tasks", "merge.cpu_s", "merge.gc_s", "merge.shuffle_write_mb", "merge.input_mb",
    "merge.files_written", "merge.bytes_written_mb",
    "dedup.reduce_s", "dedup.shuffle_write_mb",
    "meta.bytes_per_commit", "meta.files", "table.live_files", "table.deltas_per_bucket_max",
    "scan.wall_s", "scan.spark_s", "scan.driver_s", "scan.input_mb", "scan.tasks",
    "lookup.wall_s", "lookup.driver_s", "lookup.input_mb", "lookup.tasks",
    "changes.wall_s", "changes.driver_s", "changes.input_mb",
    "compact.wall_s", "compact.input_mb", "compact.bytes_written_mb",
    "vacuum.wall_s", "vacuum.deleted_files",
]


# -------------------------------------------------------------------- env

def env_block(plan: dict, res: dict) -> dict:
    try:
        with open("/proc/meminfo") as f:
            ram_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        ram_kb = 0
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "synapse_etl_jobs_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    import pyarrow

    return {
        "nproc": os.cpu_count(), "ram_gb": round(ram_kb / 2**20, 1),
        "java": res["env"]["java"], "spark": res["env"]["spark"],
        "pyarrow": pyarrow.__version__, "python": platform.python_version(),
        "git_sha": sha, "engine_src_sha256": src.hexdigest()[:16],
        "heap": plan["heap"], "heap_xms_eq_xmx": True, "master": plan["master"],
        "shuffle_partitions": plan["shuffle_partitions"], "num_buckets": plan["num_buckets"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # generation, set-up and the gate take 25-35 s on 4 CPUs and the timed
    # phase about --seconds; the child is killed (and the run fails) only
    # at about twice that, so a hung JVM still ends the run in time
    deadline = t_start + 60.0 + 3.0 * args.seconds

    if not os.path.isfile(os.path.join(ROOT, "synapse_etl_jobs_spark", "lake", "table.py")):
        print("engine package synapse_etl_jobs_spark not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = make_inputs(args.workload, args.seed, args.seconds, work, args.tiny)
        tag = "traced" if args.trace else "untraced"
        main_res = run_child(plan, work, tag, bool(args.trace), deadline)
        chk = gate(main_res)
        failed, attempted = chk["failed"], chk["attempted"]
        print("env " + json.dumps(env_block(plan, main_res), sort_keys=True))
        print("phases " + json.dumps({k: round(v, 3) if isinstance(v, float) else v
                                      for k, v in main_res["setup"].items()}))
        if args.trace:
            metrics = per_layer(main_res)
            keep = os.path.join(ROOT, ".perfbench_trace")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(main_res["plan"]["out"], "spans.json"),
                        os.path.join(keep, f"{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(main_res, chk)
            for line in extras(main_res, chk):
                print(line)
        for n, (v, u) in metrics.items():
            print(f"{n} {v:.6g} {u}")
        for f in failed[:20]:
            print("FAILED " + json.dumps(f, default=str)[:500], file=sys.stderr)
        print(json.dumps({
            "correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
