#!/usr/bin/env python3
"""MOPSO fit benchmark.

    python3 mopsobench/run.py --workload loop_small --seed 1 --seconds 20 --trace 0

A closed loop with one client, this driver process: it starts a
``local[nproc]`` session, writes the seeded inputs, pays one untimed warm-up
request, then runs requests (fit → report → checks; the report is the
relational rescore plus ``MopsoEngine.evaluate``) back to back until
``--seconds`` have passed. Every request is checked; a request that raises
or fails a check counts in ``failed``. The last line of stdout is one JSON
object: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``, a run that alternates untraced and traced requests so
the tracing overhead is measured too. Everything the run writes stays
under ``.mopsobench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: everything a run writes: inputs, Spark temporary files, archive fingerprints
WORK = ROOT / ".mopsobench_work"
#: explicit heap for the Spark driver JVM (build_session defaults to 24g)
DRIVER_MEMORY = "1g"


def prepare_environment(work: Path) -> None:
    """Keep Spark's and Python's temporary files inside ``work``; must run
    before the session starts."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # C1-only JIT: with full tiered compilation the driver JVM keeps
    # compiling for minutes and competes with the fit for the host's few
    # cores, so fit_s falls ~20% over the first six fits and its run-to-run
    # spread stays wide; with C1 it is flat from the first measured fit at
    # the same steady-state speed (the JVM does little of the fit's work).
    # The heap is fixed and touched up front: otherwise its growth, which
    # follows GC timing, moves peak_rss_mb by ±15% between runs; pinned,
    # peak_rss_mb moves with off-heap and driver-process memory only.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"
    )


def calibrate() -> float:
    """Median of three timings of a fixed single-threaded numpy loop
    (elementwise only, so no BLAS threads): host speed as a number."""
    import numpy as np

    x = np.linspace(0.0, 1.0, 1 << 20)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(10):
            np.sqrt(x * x + 1.0).sum()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _proc_field_mb(path: str, field: str) -> float:
    with open(path) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} in {path}")


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_environment(WORK)
    sys.path.insert(0, str(ROOT))
    try:
        from mopso_engine.session import build_session
        from mopsobench import bench, workloads
    except ImportError as e:
        print(f"mopsobench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"mopsobench: unknown workload {args.workload!r} ({', '.join(workloads.WORKLOADS)})",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    calib = [calibrate()]

    t = time.perf_counter()
    spark = build_session(master=f"local[{nproc}]", app_name="mopsobench", driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        metrics, lines, record = bench.measure(spark, wl, args.seed, args.seconds, bool(args.trace), WORK)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"driver": _proc_field_mb("/proc/self/status", "VmHWM"),
               "jvm": _proc_field_mb(f"/proc/{jvm_pid}/status", "VmHWM")}
    finally:
        stop_session(spark)
    calib.append(calibrate())
    host = {"nproc": nproc, "mem_total_mb": _proc_field_mb("/proc/meminfo", "MemTotal"),
            "calib_s": statistics.median(calib)}

    if args.trace:
        metrics.update({"session.start_s": session_s, "host.calib_s": host["calib_s"],
                        "host.nproc": nproc, "host.mem_total_mb": host["mem_total_mb"]})
    else:
        metrics.update({"setup_s": session_s + record["gen_write_s"] + record["warmup_s"],
                        "peak_rss_mb": sum(rss.values())})
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    inputs = {"workload": wl.name, "seed": args.seed, "n": record["n"], "d": wl.d, "k": wl.k,
              "partitions": wl.partitions, "bytes_on_disk": record["bytes_on_disk"]}
    print("inputs: " + json.dumps(inputs))
    print("host: " + json.dumps(host))
    print("peak rss (MB): " + json.dumps({k: round(v, 1) for k, v in rss.items()}))
    for line in lines:
        print(line)
    for name in sorted(units):
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
