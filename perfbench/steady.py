"""Steadiness report: run each workload with several seeds and print
every metric's median and spread.

    python3 perfbench/steady.py --seeds 10 [--workloads serve_write_mix,analytic]
                                [--seconds 5] [--trace] [--json out.json]

The spread is the distance between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``), the rule
the bounds in BENCHMARK.json are checked against.  Besides the result
metrics it reports the detail figures each run prints (write latency,
inventory batch total, failed share, log bytes per primitive) with
their sample counts, and with ``--trace`` one traced run per workload
and its tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple:
    """(result, detail) of one run.py invocation; the detail gains the
    run's wall time."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {proc.returncode}\n"
            + proc.stderr[-2000:])
    detail = json.loads(lines[-2])["perfbench"]
    detail["run_wall_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), detail


def detail_figures(d: dict) -> dict:
    """Detail numbers worth a spread, keyed by name, with sample counts."""
    out = {
        "failed_frac": (d["failed_frac"], d["ops"]),
        "log_bytes_per_primitive": (d["log_bytes_per_primitive"], None),
        "run_wall_s": (d["run_wall_s"], None),
    }
    for kind in ("read", "write"):
        lat = d[f"{kind}_ms"]
        if lat["n"]:
            for p in ("p50", "p90", "p99"):
                out[f"{kind}_{p}_ms"] = (lat[p], lat["n"])
    if "batch_total_s" in d:
        out["batch_total_s"] = (d["batch_total_s"], None)
    return out


def summarize(values: list) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": spread(values), "runs": len(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--json")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    ok = True
    for wl in args.workloads.split(","):
        metrics: dict[str, list] = {}
        details: dict[str, list] = {}
        counts: dict[str, list] = {}
        failed, runs = 0, []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res, det = run_once(wl, seed, args.seconds, 0)
            runs.append({"seed": seed, "metrics": res["metrics"],
                         "calibration": det["calibration"],
                         "run_wall_s": det["run_wall_s"]})
            failed += res["failed"]
            for k, v in res["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
            for k, (v, n) in detail_figures(det).items():
                details.setdefault(k, []).append(v)
                counts.setdefault(k, []).append(n)
            print(f"# {wl} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                file=sys.stderr, flush=True)
        rep = {"failed": failed, "metrics": {}, "details": {}, "runs": runs}
        print(f"\n== {wl}: {args.seeds} seeds, failed operations {failed}")
        print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}  samples/run")
        for k, vals in metrics.items():
            s = summarize(vals)
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s" and s["spread"] > b / 3:
                flag, ok = "  > bound/3", False
            rep["metrics"][k] = dict(s, bound=b)
            print(f"{k:28} {s['median']:12.5g} {s['q1']:12.5g} "
                  f"{s['q3']:12.5g} {s['spread']:8.3f} {b!s:>6}{flag}")
        for k, vals in details.items():
            s = summarize(vals)
            ns = [n for n in counts[k] if n is not None]
            s["samples"] = statistics.median(ns) if ns else None
            rep["details"][k] = s
            print(f"  {k:26} {s['median']:12.5g} {s['q1']:12.5g} "
                  f"{s['q3']:12.5g} {s['spread']:8.3f} {'':>6}  "
                  f"{s['samples'] if s['samples'] is not None else ''}")
        if args.trace:
            res, det = run_once(wl, args.first_seed, args.seconds, 1)
            lay = det["layers"]
            rep["trace"] = {"metrics": {k: v["value"] for k, v in
                                        res["metrics"].items()},
                            "ops_per_s": lay["ops_per_s"],
                            "untraced_ops_per_s": lay["untraced_ops_per_s"]}
            print(f"  traced run: {lay['ops_per_s']:.4g} ops/s vs "
                  f"{lay['untraced_ops_per_s']:.4g} untraced, overhead "
                  f"{res['metrics']['trace.overhead_frac']['value']:.3f}")
        report[wl] = rep
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
