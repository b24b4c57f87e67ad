"""Paired A/B benchmark: this working tree against a parent revision.

    python3 tools/ab.py [--rev HEAD | --base-dir DIR] [--pairs 10]
                        [--workload serve_write_mix] [--seed 1]
                        [--seconds 10] [--trace] [--json out.json]

Runs ``perfbench/run.py`` for the parent and for the working tree in
interleaved pairs.  The parent is ``--rev``, checked out with ``git
worktree add --detach`` into a temporary directory that is removed at
exit, or the existing checkout at ``--base-dir``.  Pair i runs the
parent first when i is even and the change first when it is odd, so a
drifting host weighs on both sides alike.  Both sides of every pair
use the same seed.

Per metric it prints each side's median and quartiles
(``statistics.quantiles(values, n=4)``), the change's wins (pairs in
which it is better, in the direction BENCHMARK.json gives the metric;
a tie is no win), and the parent's IQR with a flag when the medians
differ by more than it.  With ``--trace`` every run is traced and the
per-layer metrics are compared instead.  Tooling only: it changes no
metric, bound or workload.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: bool) -> dict:
    """The result line of one run.py invocation in ``checkout``."""
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=checkout, capture_output=True, text=True, timeout=1800,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: exit {proc.returncode}\n"
                           + proc.stderr[-2000:])
    return json.loads(lines[-1])


@contextlib.contextmanager
def parent_checkout(rev: str, base_dir):
    """The parent's checkout: ``base_dir`` as given, or a temporary
    git worktree of ``rev`` removed on exit."""
    if base_dir:
        yield os.path.abspath(base_dir)
        return
    path = os.path.join(tempfile.mkdtemp(prefix="ab-parent-"), "tree")
    subprocess.run(["git", "worktree", "add", "--detach", path, rev],
                   cwd=ROOT, check=True, capture_output=True)
    try:
        yield path
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", path],
                       cwd=ROOT, capture_output=True)
        os.rmdir(os.path.dirname(path))


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(runs: dict, better: dict) -> dict:
    """Per metric: each side's quartiles, the change's wins and
    whether the medians differ by more than the parent's IQR."""
    out = {}
    names = [k for k in runs["parent"][0]["metrics"]
             if all(k in r["metrics"] for side in runs.values()
                    for r in side)]
    print(f"{'metric':34} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'wins':>6} {'parent IQR':>11}")
    for k in names:
        vals = {side: [r["metrics"][k]["value"] for r in rs]
                for side, rs in runs.items()}
        p, c = quartiles(vals["parent"]), quartiles(vals["change"])
        sign = -1 if better.get(k, "lower") == "lower" else 1
        wins = sum(sign * (b - a) > 0
                   for a, b in zip(vals["parent"], vals["change"]))
        iqr = p[2] - p[0]
        beyond = abs(c[1] - p[1]) > iqr
        out[k] = {"parent": vals["parent"], "change": vals["change"],
                  "wins": wins, "pairs": len(vals["parent"]),
                  "parent_iqr": iqr, "beyond_iqr": beyond,
                  "better": better.get(k)}
        print(f"{k:34} {p[1]:12.5g} [{p[0]:8.4g}, {p[2]:8.4g}] "
              f"{c[1]:12.5g} [{c[0]:8.4g}, {c[2]:8.4g}] "
              f"{wins:3d}/{len(vals['parent']):<2d} {iqr:11.4g}"
              + ("  *" if beyond else ""))
    print("* medians differ by more than the parent's IQR")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    side = ap.add_mutually_exclusive_group()
    side.add_argument("--rev", default="HEAD")
    side.add_argument("--base-dir")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", default="serve_write_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    # the metrics a progress line shows
    shown = ({"store.hydrate.ms", "store.attach.ms"} if args.trace
             else {m["name"] for m in bench["end_to_end"]})
    runs: dict = {"parent": [], "change": []}
    with parent_checkout(args.rev, args.base_dir) as parent:
        trees = {"parent": parent, "change": ROOT}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else (
                "change", "parent")
            for name in order:
                t0 = time.perf_counter()
                res = run_once(trees[name], args.workload, args.seed,
                               seconds, args.trace)
                runs[name].append(res)
                print(f"# pair {i} {name}: correct={res['correct']} "
                      f"{time.perf_counter() - t0:.0f}s " + " ".join(
                          f"{k}={v['value']:.4g}"
                          for k, v in res["metrics"].items()
                          if k in shown),
                      file=sys.stderr, flush=True)
    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    print(f"== {args.workload} seed {args.seed}, {args.pairs} pairs of "
          f"{seconds:g} s runs; failed operations: parent "
          f"{failed['parent']}, change {failed['change']}")
    out = report(runs, better)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": seconds, "trace": args.trace,
                       "failed": failed, "metrics": out}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
