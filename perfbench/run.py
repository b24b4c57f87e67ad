"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_write_mix --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  One driver process, one closed-loop
client: each operation is sent after the previous reply arrived.  The
run sets up the workload three times (``setup_s`` is the median), runs
an untimed warm-up loop, then times a loop of ``--seconds``.  With
``--trace 1`` it also times a second loop with every engine layer
wrapped in spans and Spark's event log on, and reports the per-layer
metrics instead.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The line before it (``{"perfbench": {...}}``) holds the details: every
latency with its sample count, write latency, the inventory batch
total, the calibration probes and the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _calibrate() -> dict:
    """Fixed single-threaded probes: a cache-resident CPU loop and a
    random-stride memory walk (best of three, seconds).  Recorded with
    each run as context; they change nothing."""
    buf, mem = b"x" * 65536, bytearray(64 << 20)

    def cpu() -> float:
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(2000):
            h.update(buf)
        h.digest()
        return time.perf_counter() - t0

    def walk() -> float:
        mask, i, s = (64 << 20) - 1, 0, 0
        t0 = time.perf_counter()
        for _ in range(200_000):
            s += mem[i]
            i = (i * 1103515245 + 12345 + s) & mask
        return time.perf_counter() - t0

    return {"cpu_s": min(cpu() for _ in range(3)),
            "mem_s": min(walk() for _ in range(3))}


def _configure_env(work: str, trace: bool) -> None:
    """Keep Spark's scratch files inside the checkout; turn the event
    log on for traced runs.  Must run before the JVM starts."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    args = [
        "--conf", "spark.driver.extraJavaOptions=-Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "--conf", "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.dir=file://"
            + os.path.join(work, "eventlog"),
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited: it
    exits when its stdin, the pipe from this process, closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.close()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def run_loop(wl, seconds: float, tracer=None, spark=None) -> dict:
    """Closed loop: send operations until ``seconds`` have passed and
    the workload's cycle is complete.  Every reply is checked.  The
    workload's maintenance between operations is not timed: the
    deadline moves by its duration and it is left out of ``wall_s``."""
    lat: dict[str, list] = defaultdict(list)
    by_label: dict[str, list] = defaultdict(list)
    failed, errors, roots = 0, [], {}
    wl.begin()
    span_start = len(tracer.spans) if tracer is not None else 0
    t0 = time.perf_counter()
    deadline = t0 + seconds
    n, paused, maint = 0, 0.0, 0
    while time.perf_counter() < deadline or not wl.cycle_done():
        if wl.maintenance_due():
            a = time.perf_counter()
            listed = tracer.listdir_calls if tracer is not None else 0
            wl.maintain()
            if tracer is not None:  # count the reads' listings only
                tracer.listdir_calls = listed
            d = time.perf_counter() - a
            paused, deadline, maint = paused + d, deadline + d, maint + 1
        op = wl.next_op()
        group = None
        if spark is not None:
            group = f"op{n}"
            spark.sparkContext.setJobGroup(group, op.label)
        first = len(tracer.spans) if tracer is not None else 0
        a = time.perf_counter_ns()
        try:
            if tracer is not None and op.kind == "query":
                with tracer.root("inventory.query", op.label):
                    ok = op.run()
            else:
                ok = op.run()
        except Exception as e:  # a failed operation is counted, not fatal
            ok = False
            if len(errors) < 5:
                errors.append(f"{op.label}: {type(e).__name__}: {e}"[:300])
        dt = (time.perf_counter_ns() - a) / 1e6
        lat[op.kind].append(dt)
        by_label[op.label].append(dt)
        if not ok:
            failed += 1
        if group is not None and len(tracer.spans) > first:
            roots[group] = first
        n += 1
    wall = time.perf_counter() - t0 - paused
    return {"ops": n, "failed": failed, "wall_s": wall, "lat": dict(lat),
            "by_label": dict(by_label), "errors": errors, "roots": roots,
            "span_start": span_start, "maintenance": maint,
            "maintenance_s": paused}


def end_to_end(loop: dict, setup: list, wl) -> tuple[dict, dict]:
    from perfbench.stats import percentile, summary
    from perfbench.workloads import log_bytes

    reads = loop["lat"].get("read", []) + loop["lat"].get("query", [])
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "ops_per_s": (loop["ops"] / loop["wall_s"], "1/s"),
        "read_p50_ms": (percentile(reads, 50), "ms"),
        "read_p99_ms": (percentile(reads, 99), "ms"),
        "driver_rss_mb": (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
    }
    detail = {
        "ops": loop["ops"], "failed": loop["failed"],
        "failed_frac": loop["failed"] / max(loop["ops"], 1),
        "wall_s": loop["wall_s"], "setup_samples_s": setup,
        "maintenance": loop["maintenance"],
        "maintenance_s": loop["maintenance_s"],
        "read_ms": summary(reads),
        "write_ms": summary(loop["lat"].get("write", [])),
        "by_label_ms": {k: summary(v) for k, v in loop["by_label"].items()},
        "log_bytes_per_primitive": log_bytes(wl.log) / wl.primitives(),
        "errors": loop["errors"],
    }
    queries = [v for k, v in loop["by_label"].items()
               if k in getattr(wl, "queries", {})]
    if queries:
        detail["batch_total_s"] = sum(statistics.median(v) for v in queries) / 1e3
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphd_spark")):
        print(f"perfbench: no graphd_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work, trace)
    spark = None
    try:
        cal_start = _calibrate()
        from graphd_spark.session import get_spark

        spark = get_spark("perfbench")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(wl.log_dirs)
            tracer.install()  # setup spans: attach, hydrate
        setup = []
        for rep in range(SETUP_REPS):
            gc.collect()
            a = time.perf_counter()
            wl.setup(rep)
            setup.append(time.perf_counter() - a)
        if tracer is not None:
            tracer.uninstall()
        checked = []  # every loop whose replies were checked
        if wl.warm_seconds is not None:
            checked.append(run_loop(wl, wl.warm_seconds))
        loop = run_loop(wl, args.seconds)
        checked.append(loop)
        metrics, detail = end_to_end(loop, setup, wl)
        if trace:
            from perfbench import layers

            # the traced loop starts from the same state as the untraced
            # one: a fresh store and cold request caches
            wl.setup(SETUP_REPS)
            if wl.warm_seconds:  # the JVM stays warm; the caches do not
                checked.append(run_loop(wl, wl.warm_seconds))
            wl.count_bytes()
            tracer.listdir_calls = 0
            tracer.install()
            groups = spark if wl.spark_ops else None
            traced = run_loop(wl, args.seconds, tracer, groups)
            tracer.uninstall()
            checked.append(traced)
            commit_bytes = wl.written_bytes()
            _stop_spark(spark)  # finishes the event log
            spark = None
            metrics, tdetail = layers.per_layer(
                tracer, traced, loop, wl, os.path.join(work, "eventlog"),
                commit_bytes)
            detail["layers"] = tdetail
            out = os.path.join(base, f"trace-{args.workload}-{args.seed}")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, "spans.jsonl"))
            shutil.rmtree(os.path.join(out, "eventlog"), ignore_errors=True)
            shutil.copytree(os.path.join(work, "eventlog"),
                            os.path.join(out, "eventlog"))
            detail["layers"]["files"] = os.path.relpath(out, ROOT)
        detail.update(workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=args.trace,
                      workload_info=wl.info(),
                      calibration={"start": cal_start, "end": _calibrate()})
        print(json.dumps({"perfbench": detail}, default=str))
        failed = sum(c["failed"] for c in checked)
        attempted = sum(c["ops"] for c in checked)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
