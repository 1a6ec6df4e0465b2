#!/usr/bin/env python3
"""Benchmark of osm2geojson_spark.

    python3 perfbench/run.py --workload tile_job --seed 1 --seconds 24 --trace 0

One process is one Spark driver on ``local[CORES]``. It makes the workload's
inputs from ``--seed``, runs one warm-up operation on the exact timed shape,
then runs operations one at a time (a closed loop with one client) for about
``--seconds`` seconds, checks the last operation's output against an oracle,
and prints one JSON line as its last line of output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop, then one traced operation split into layers, and reports the per-layer
metrics (see perfbench/README.md). The operations of an untraced run, with
their wall-clock times, are written to ``.perfbench/runs/``, the spans of a
traced run to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task slots. Both workloads are bound by per-job overhead: on a
# 4-core box local[1] ran each operation faster, and with less CPU time,
# than local[2] or local[4], and it keeps the threads that are busy at
# once (task thread, Python worker, driver, JVM compiler and GC threads)
# within the cores, so the run measures the program, not the scheduler.
CORES = 1


def make_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops Spark and waits until the JVM and every Python worker it
    started have ended."""
    from procfs import descendants

    me = os.getpid()
    kids = [p for p in descendants(me) if p != me]
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in kids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def steal_ticks() -> int:
    """CPU time taken by other guests on this host (/proc/stat), in ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loop(wl, seconds: float, min_ops: int):
    """Closed loop: the next operation starts when the previous one ended.
    Runs at least ``min_ops`` operations, then starts another only while it
    is expected (at the median operation time so far) to end within
    ``seconds`` plus a tenth, so the window ends near ``seconds``."""
    ops, walls, attempted, failed = [], [], 0, 0
    t0 = time.perf_counter()
    k = 1
    while True:
        t = time.perf_counter()
        try:
            ops.append(wl.op(k))
            attempted += ops[-1]["attempts"]
        except Exception:
            traceback.print_exc()
            attempted += wl.attempts_per_op
            failed += wl.attempts_per_op
        walls.append(time.perf_counter() - t)
        k += 1
        if k > min_ops and time.perf_counter() - t0 + statistics.median(walls) > 1.1 * seconds:
            return ops, attempted, failed, k


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osm2geojson_spark")):
        print(f"perfbench: no osm2geojson_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # the Python workers Spark starts import the package from the checkout,
    # whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]

    from procfs import PeakRss
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    spark = make_spark(work, CORES)
    try:
        wl = W.WORKLOADS[args.workload](spark, args.seed, work, CORES)
        wl.op(0)  # warm-up on the exact timed shape
        setup_s = time.perf_counter() - T_START
        steal0 = steal_ticks()
        with PeakRss() as rss:
            ops, attempted, failed, k = loop(wl, args.seconds, 2)
        steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        try:
            correct = bool(ops) and wl.check()
        except Exception:
            traceback.print_exc()
            correct = False
        if not correct:
            failed += 1
        if args.trace:
            values = traced(wl, k, ops, f"{args.workload}-seed{args.seed}", os.path.join(base, "traces"))
        else:
            values = {
                "setup_s": setup_s,
                "items_per_cpu_s": W.median([o["items"] / o["cpu_s"] for o in ops]),
                "peak_rss_mb": rss.peak_mb,
            }
            # wall-clock figures swing with the CPU time the host gives to
            # other guests (steal_s), so they are kept here, not reported
            units = [u for o in ops for u in o["units"]]
            wall = {
                "wall_items_per_s": W.median([o["items"] / o["rate_s"] for o in ops]),
                "wall_unit_p50_s": W.median([s for _, s in units]),
                "steal_s": steal_s,
            }
            os.makedirs(os.path.join(base, "runs"), exist_ok=True)
            with open(os.path.join(base, "runs", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({**values, **wall, "ops": ops}, f, indent=1)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = {}
    for m in spec:
        # a layer this workload does not run reports 0; a metric Spark did
        # not report is left out (it is null in the trace file)
        v = values.get(m["name"], 0.0)
        if v is None:
            print(f"perfbench: {m['name']} not reported by Spark", file=sys.stderr)
            continue
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def traced(wl, k: int, ops: list[dict], run_id: str, out_dir: str) -> dict:
    """One traced operation after the untraced loop: per-layer values plus
    coverage and overhead against the loop's median operation."""
    import workloads as W
    from spans import Spans

    untraced = W.median([o["wall_s"] for o in ops])
    spans = Spans(run_id)
    layers = wl.trace(k, spans)
    op = next(s for s in spans.spans if s["name"] == "op")
    layers.update({
        "trace.coverage": layers["trace.layers_s"] / untraced,
        "trace.overhead_s": (op["end"] - op["start"]) - untraced,
        "trace.untraced_op_s": untraced,
    })
    os.makedirs(out_dir, exist_ok=True)
    spans.write(os.path.join(out_dir, f"{run_id}.json"), {"layers": layers})
    return layers


if __name__ == "__main__":
    sys.exit(main())
