#!/usr/bin/env python3
"""sparkft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: build, serve_rules, entry_mix
(see DESIGN.md). With --trace 0 the result carries the end-to-end
metrics of BENCHMARK.json, measured with tracing off; with --trace 1 it
carries the per-layer metrics of a traced run. Inputs are generated from
--seed; every file the run writes stays under .perfbench_cache/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _code_key() -> str:
    """Hash of the program's sources: caches built by the program (the
    serving index, the entry engine index) are never reused across code
    versions."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, "sparkft")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(root, n) for n in sorted(names)
                  if not n.endswith(".pyc")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _confine_temp_files(code_key: str) -> None:
    """Point every temp-file user (Python, the JVM, Spark, Python workers)
    at a directory inside the checkout. The program keeps its entry engine
    index under the temp dir, so the dir is per code version."""
    tmp = os.path.join(CACHE, f"tmp-{code_key}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    # Python workers import the program from the checkout whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark(nproc: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("sparkft-perfbench")
        .config("spark.sql.shuffle.partitions", str(max(nproc, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _number(v: float) -> float:
    """JSON has no infinity: a failed operation's latency prints as 1e12."""
    return 1e12 if math.isinf(v) or math.isnan(v) else v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = _metric_specs()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "scripts"))
    try:
        import sparkft  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the sparkft package is not here: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    code_key = _code_key()
    _confine_temp_files(code_key)
    work = os.path.join(CACHE, "work")
    shutil.rmtree(work, ignore_errors=True)
    nproc = len(os.sched_getaffinity(0))
    run = Run(lambda: _spark(nproc), args.workload, args.seed, args.seconds,
              bool(args.trace), CACHE, code_key, nproc)
    try:
        WORKLOADS[args.workload](run)
    finally:
        if run.spark_started:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    run.info["host"] = {"nproc": nproc, "master": f"local[{nproc}]",
                        "driver_memory": "2g", "spark": run.spark_started}
    run.info["gates"] = run.gates
    print("info " + json.dumps(run.info, default=str), flush=True)
    if args.trace:
        metrics = {k: {"value": _number(float(run.layers.get(k, 0.0))), "unit": u}
                   for k, u in layer_units.items()}
    else:
        missing = sorted(set(e2e_units) - set(run.e2e))
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
        metrics = {k: {"value": _number(float(run.e2e[k])), "unit": u}
                   for k, u in e2e_units.items()}
    correct = bool(run.gates) and all(run.gates.values()) and run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
