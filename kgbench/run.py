"""Benchmark of the spark-ie KG pipeline, its graph analytics and operators.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Runs from the repository root.  One Python process, ``local[<cores>]``
with cores = the CPUs this process may use, one client in a closed loop:
each timed job starts when the previous one has finished and its output
has been checked.  Every job gets a fresh seeded input and an empty
output directory; the first job of a process is the one a batch user
pays for (set-up done, nothing else warm), later ones run warm.

``--trace 0`` times the public entry points untraced and reports the
end-to-end metrics.  ``--trace 1`` runs the untraced loop and then one
traced job on the loop's last input, and reports the per-layer metrics;
layers a workload never reaches read 0.  After the session has stopped,
a traced run takes ``calib_s`` (the fixed-work CPU probe of ``bench.py``)
and an untraced run a fifth of that work (one matrix product instead of
five, through the same ``bench._calibrate``), so every run carries the
host's speed.

Both modes print one ``name value unit`` line per metric and end with one
JSON line {correct, attempted, failed, metrics}.  The exit code is 0 only
if every output check passed.  Everything the run writes stays under
``.kgbench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "output_precision": "ratio",
    "output_recall": "ratio",
}

_SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
_LAYERS = ("extract", "linking", "coref", "graph", "canonicalize", "run",
           "analytics", "ops")
_OPS_QUERIES = ("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
                "events_sessionize", "doc_exact_dedup", "doc_minhash_dedup",
                "doc_ngram_dups", "doc_quality", "emb_near_dups_blocked",
                "media_features", "events_asof")
PER_LAYER = {
    "calib_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.wall_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "extract.wall_s": "s",
    "extract.rows_out": "count",
    "extract.error_rows": "count",
    "extraction.batch_turns_per_s": "1/s",
    "extract.python_share": "ratio",
    "linking.wall_s": "s",
    "linking.mentions_in": "count",
    "linking.linked_frac": "ratio",
    "coref.wall_s": "s",
    "coref.rows_out": "count",
    **{f"graph.merge_s.{t}": "s"
       for t in ("mentions", "triples", "linked", "coref", "edges")},
    "graph.rows_offered": "count",
    "graph.rows_inserted": "count",
    "graph.insert_ratio": "ratio",
    "canonicalize.cc_s": "s",
    "canonicalize.cc_jobs": "count",
    "canonicalize.nodes_s": "s",
    "canonicalize.nodes_rows": "count",
    "run.edges_s": "s",
    "run.stats_s": "s",
    **{f"analytics.{p}_{k}": u
       for p in ("degree", "two_hop", "triangles", "pagerank", "components")
       for k, u in (("s", "s"), ("rows", "count"), ("jobs", "count"))},
    **{f"ops.{q}_s": "s" for q in _OPS_QUERIES},
    "ops.build_s": "s",
    **{f"{layer}.{c}": "count" for layer in _LAYERS for c in _SPARK_COUNTS},
}


# bench._CALIB_ST with one product instead of five
HOST_PROBE = """
import time, numpy as np
a = np.arange(2000 * 2000, dtype=np.float64).reshape(2000, 2000) / 1e6
t0 = time.time()
a @ a
print(round(time.time() - t0, 3))
"""


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "graph_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="keep starting timed jobs until this much job "
                         "time has passed (at least one job)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    return ap.parse_args(argv)


def isolate_temp(work: str) -> None:
    """Point every temp and scratch directory of this process, the JVM it
    launches and the Python workers at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
    import tempfile
    tempfile.tempdir = tmp


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still uses it
        pass


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus its JVM."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, found by scanning ``/proc`` for
    parent links (the JVM forks the Python daemon from worker threads,
    so the children lists of single threads miss it)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):  # exited since it was listed
            continue
        kids.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        below = kids.get(todo.pop(), [])
        found += below
        todo += below
    return found


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (its exit signal) and wait
    for the JVM and the Python workers it forked."""
    from pyspark import SparkContext
    proc = SparkContext._gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the JVM, the Python workers it forked, and those already reaped)."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since it was listed
            continue
        ticks += sum(int(v) for v in fields[11:15])  # u/s time + children
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _io, irq, softirq, steal = \
            map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def collect_garbage(spark) -> None:
    """Full GC in both runtimes, so garbage left by preparing the input is
    not collected inside the timed job."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Tally:
    """Output checks of every job in the run."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.match = None
        self.problems: list[str] = []

    def add(self, res: dict, label: str) -> None:
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        self.match = res["match"] if self.match is None \
            else self.match + res["match"]
        self.problems += [f"{label}: {p}" for p in res["problems"]]


def timed_job(wl, tally: Tally, inp, label: str) -> tuple[float, float,
                                                         dict]:
    """One untraced job, timed, then checked.
    → (wall seconds, CPU seconds, stats)."""
    collect_garbage(wl.spark)
    host0, cpu0 = cpu_ticks(), tree_cpu_s()
    t0 = time.perf_counter()
    stats = wl.run(inp)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    busy, steal = (b - a for a, b in zip(host0, cpu_ticks()))
    t0 = time.perf_counter()
    tally.add(wl.check(inp, stats), label)
    print(f"# {label}: {wall:.3f} s wall, {cpu:.2f} s CPU, host steal "
          f"{steal / max(busy + steal, 1):.1%} of CPU time, checked in "
          f"{time.perf_counter() - t0:.1f} s, {stats}")
    return wall, cpu, stats


def timed_loop(wl, tally: Tally, seconds: float) -> tuple:
    """Closed loop of jobs on fresh inputs until ``seconds`` of job time
    have passed.  → (wall and CPU times, input rows, last stats, last
    input)."""
    walls, cpus, rows, i = [], [], [], 0
    while not walls or sum(walls) < seconds:
        t0 = time.perf_counter()
        inp = wl.prepare(i)
        print(f"# input {i} made in {time.perf_counter() - t0:.1f} s")
        wall, cpu, stats = timed_job(wl, tally, inp, f"job {i}")
        walls.append(wall)
        cpus.append(cpu)
        rows.append(wl.input_rows(stats))
        i += 1
    return walls, cpus, rows, stats, inp


def emit(tally: Tally, metrics: dict, units: dict) -> int:
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}")
    for p in tally.problems:
        print(f"CHECK FAILED {p}")
    print(f"failed_frac {tally.failed / max(tally.attempted, 1):.6g} ratio "
          f"({tally.failed} of {tally.attempted})")
    correct = not tally.problems
    print(json.dumps({
        "correct": correct,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    t_main = time.perf_counter()
    age_at_main = process_age_s()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".kgbench_work",
                        f"{args.workload}-{os.getpid()}")
    isolate_temp(work)
    try:
        return _run(args, work, t_main - age_at_main)
    finally:
        remove_work(work)


def _run(args, work: str, t_process: float) -> int:
    """``t_process``: the process start on the ``perf_counter`` clock."""
    sys.path.insert(0, ROOT)
    try:
        import bench
        from ie_spark.session import get_spark, warm_session
    except ImportError as e:
        print(f"kgbench: the program under test is missing: {e}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    setup = {}
    if args.trace:
        os.environ["SPARK_GRAFT_NO_WARMUP"] = "1"
        t0 = time.perf_counter()
        spark = get_spark("kgbench", master=master)
        setup["session.start_s"] = time.perf_counter() - t0
        os.environ.pop("SPARK_GRAFT_NO_WARMUP")
        t0 = time.perf_counter()
        warm_session(spark)
        setup["session.warm_s"] = time.perf_counter() - t0
    else:
        spark = get_spark("kgbench", master=master)
        setup["setup_s"] = time.perf_counter() - t_process
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.workload == "kg_build":
            from kg_build import KgBuild as W
        else:
            from graph_ops import GraphOps as W
        wl = W(spark, work, args.seed, args.scale)
        tally = Tally()
        run_mode = traced_metrics if args.trace else untraced_metrics
        metrics = {**run_mode(wl, tally, args.seconds, cores), **setup}
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"# session stopped in {time.perf_counter() - t0:.1f} s")
    if args.trace:
        metrics["calib_s"] = bench._calibrate(bench._CALIB_ST)
    else:
        print(f"# host speed probe: {bench._calibrate(HOST_PROBE):.3f} s "
              "for one 2000x2000 matrix product (calib_s is five)")
    return emit(tally, metrics, PER_LAYER if args.trace else E2E)


def _jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def untraced_metrics(wl, tally: Tally, seconds: float, cores: int) -> dict:
    from reference import precision, recall
    walls, cpus, rows, _, _ = timed_loop(wl, tally, seconds)
    # input rows per second is printed, not bounded: the job is mostly
    # fixed per-job cost, so it follows the seed's input size more than
    # the program's speed
    rate = statistics.median(r / w for r, w in zip(rows, walls))
    print(f"# {wl.name}: {len(walls)} timed job(s), wall_s and cpu_s are "
          f"their medians; {rate:.0f} input rows/s; peak RSS "
          f"{peak_rss_mb(_jvm_pid()):.0f} MB")
    return {
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "output_precision": precision(tally.match),
        "output_recall": recall(tally.match),
    }


def traced_metrics(wl, tally: Tally, seconds: float, cores: int) -> dict:
    from spans import Tracer
    walls, _, _, stats, inp = timed_loop(wl, tally, seconds)
    # the traced job runs on the loop's last input, after it; it runs
    # warmer than the first job of a run, so the overhead reads low
    out = inp.out
    tr = Tracer(wl.spark)
    inp.out = out + "_traced"
    collect_garbage(wl.spark)
    t0 = time.perf_counter()
    tstats = wl.traced(tr, inp)
    traced_wall = time.perf_counter() - t0
    tr.collect_spark_stats()
    tally.add(wl.check(inp, tstats), "traced job")
    tally.problems += [f"same input, different result: {p}"
                       for p in wl.same_result(stats, tstats)]
    untraced_wall = statistics.median(walls)
    print(f"# {wl.name}: traced job {traced_wall:.3f} s, untraced "
          f"{[round(w, 3) for w in walls]} s before it; spans:")
    print("\n".join(tr.table()))

    metrics = dict.fromkeys(PER_LAYER, 0)
    own = wl.layer_metrics(tr, tstats, cores)
    assert set(own) <= set(PER_LAYER), set(own) - set(PER_LAYER)
    metrics.update(own)
    for layer in _LAYERS:
        for c, v in tr.layer_counts(layer).items():
            metrics[f"{layer}.{c}"] = v
    metrics.update({
        "trace.wall_s": traced_wall,
        "trace.coverage": tr.coverage(traced_wall),
        "trace.overhead_s": traced_wall - untraced_wall,
        "peak_rss_mb": peak_rss_mb(_jvm_pid()),
    })
    return metrics


if __name__ == "__main__":
    sys.exit(main())
