"""Self-test of the benchmark at tiny input sizes.

    python3 kgbench/selftest.py

1. Runs ``run.py`` on every workload with ``--trace 0`` and ``--trace 1``
   and checks that the last line names exactly the metrics, with the
   units, that ``BENCHMARK.json`` declares, and that the checks pass.
2. Runs each workload's job once in-process, removes one row from its
   output (one triple of the KG; one node's component label) and checks
   that the output check then fails.  After the KG job it also checks
   that the process tree the benchmark reads CPU time from holds the
   Python workers Spark forked.

Exits 0 when everything holds; prints what failed otherwise.  Takes a
few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def declared(trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def cli_runs(workloads) -> list[str]:
    errors = []
    for w in workloads:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", SCALE],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            label = f"{w} --trace {trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                errors.append(f"{label}: exit {p.returncode}\n"
                              f"{p.stdout[-2000:]}{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared(trace):
                errors.append(f"{label}: metrics differ from BENCHMARK.json: "
                              f"{sorted(set(got) ^ set(declared(trace)))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{label}: checks failed: {lines[-1][:300]}")
            named = {ln.split()[0] for ln in lines[:-1] if ln.strip()}
            if not set(got) <= named:
                errors.append(f"{label}: metrics missing from the printed "
                              f"table: {sorted(set(got) - named)}")
            print(f"ok  {label}: {len(got)} metrics, "
                  f"attempted={res['attempted']}", flush=True)
    return errors


def drop_one_row(spark, path: str) -> None:
    """Rewrite the parquet dir at ``path`` without its first row."""
    df = spark.read.parquet(path)
    kept = df.toPandas().iloc[1:]
    tmp = path + "_dropped"
    spark.createDataFrame(kept, schema=df.schema).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def python_workers_seen() -> list[str]:
    """The benchmark's process tree must include the Python workers, or
    ``cpu_s`` leaves out the extractor's CPU time."""
    import run
    cmds = []
    for pid in run.descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmds.append(f.read().replace(b"\0", b" ").decode())
        except OSError:
            continue
    if not any("pyspark.daemon" in c for c in cmds):
        return [f"no pyspark.daemon below this process: {cmds}"]
    print(f"ok  process tree: {len(cmds)} processes, "
          f"{sum('pyspark' in c for c in cmds)} Python worker(s)", flush=True)
    return []


def dropped_row_checks() -> list[str]:
    sys.path.insert(0, ROOT)
    import run
    from graph_ops import GraphOps
    from kg_build import KgBuild
    from ie_spark.session import get_spark

    work = os.path.join(ROOT, ".kgbench_work", f"selftest-{os.getpid()}")
    run.isolate_temp(work)
    spark = get_spark("kgbench-selftest", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    errors = []
    try:
        for W, table in ((KgBuild, "triples"), (GraphOps, "components")):
            wl = W(spark, work, 5, float(SCALE))
            inp = wl.prepare(0)
            stats = wl.run(inp)
            if W is KgBuild:
                errors += python_workers_seen()
            if wl.check(inp, stats)["problems"]:
                errors.append(f"{wl.name}: check fails on intact output")
            drop_one_row(spark, os.path.join(inp.out, table))
            res = wl.check(inp, stats)
            if not res["problems"] or res["match"].ok:
                errors.append(f"{wl.name}: check passes with one {table} "
                              "row dropped")
            else:
                print(f"ok  {wl.name}: one {table} row dropped → "
                      f"{res['problems']}", flush=True)
    finally:
        run.stop_spark(spark)
        run.remove_work(work)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    errors = cli_runs(workloads) + dropped_row_checks()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
