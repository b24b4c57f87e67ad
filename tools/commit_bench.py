"""Microbenchmark of the parquet log's commit path (no Spark session).

Times ``ParquetLogStore.commit`` alone, the append of one write's
primitives to the log directory:

- small: commits of two primitives (a nation and its ``in-region``
  link, the shape of a serving write), reported as the median and
  quartiles in microseconds over ``--commits`` commits; they append
  to the log's tail, and every ``TAIL_ROWS`` rows one of them rolls
  the tail into a parquet part;
- roll: ``compact()`` after 128 two-primitive commits on a fresh log
  (the tail rolled into one part), as the median, min and max in
  milliseconds over ``--bulk-runs`` fresh logs;
- bulk: one commit of a 20,500-primitive graph (500 regions, 10,000
  nations, 10,000 links: the serving benchmark's set-up store),
  reported as the median, min and max in seconds over ``--bulk-runs``
  fresh logs;
- the on-disk size of the small and bulk logs (parts and tail) in
  bytes per primitive.

Usage::

    python3 tools/commit_bench.py [--commits 2000] [--bulk-runs 3] [--dir D]

Stores live in a temporary directory (under ``--dir`` when given) that
is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphd_spark.store import ParquetLogStore  # noqa: E402

REGIONS, NATIONS = 500, 10_000


def _store(path: str) -> ParquetLogStore:
    # commit never starts a Spark job, so no session is needed
    return ParquetLogStore(lambda: None, path, fresh=True)


def _log_bytes(path: str) -> int:
    return sum(
        e.stat().st_size for e in os.scandir(path)
        if e.name.endswith((".parquet", ".arrows"))
    )


def _small_log(path: str, n: int) -> tuple[ParquetLogStore, list[float]]:
    """A fresh log of one region and ``n`` 2-primitive commits, and
    µs per commit."""
    store = _store(path)
    store.begin()
    region = store.append(name="region", value="r0000")
    store.commit()
    us = []
    for i in range(n):
        store.begin()
        nat = store.append(name="nation", value=f"n{i:06d}")
        store.append(name="in-region", left=nat.guid, right=region.guid)
        t0 = time.perf_counter_ns()
        store.commit()
        us.append((time.perf_counter_ns() - t0) / 1e3)
    return store, us


def small_commits(path: str, n: int) -> tuple[list[float], float]:
    """µs per 2-primitive commit, and the log's bytes per primitive."""
    store, us = _small_log(path, n)
    return us, _log_bytes(path) / store.next_id


def roll(path: str) -> float:
    """Milliseconds for compact() after 128 2-primitive commits."""
    store, _ = _small_log(path, 128)
    t0 = time.perf_counter()
    store.compact()
    return (time.perf_counter() - t0) * 1e3


def bulk_commit(path: str) -> tuple[float, float]:
    """Seconds for one 20,500-primitive commit, and bytes per primitive."""
    store = _store(path)
    store.begin()
    regions = [
        store.append(name="region", value=f"r{j:04d}").guid
        for j in range(REGIONS)
    ]
    for i in range(NATIONS):
        nat = store.append(name="nation", value=f"n{i:06d}")
        store.append(
            name="in-region", left=nat.guid, right=regions[i % REGIONS]
        )
    t0 = time.perf_counter()
    store.commit()
    s = time.perf_counter() - t0
    return s, _log_bytes(path) / store.next_id


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--commits", type=int, default=2000)
    ap.add_argument("--bulk-runs", type=int, default=3)
    ap.add_argument("--dir", default=None,
                    help="parent of the work directory (default: the "
                         "system temp directory); file creation cost "
                         "differs between directories")
    args = ap.parse_args()
    work = tempfile.mkdtemp(prefix="commit_bench_", dir=args.dir)
    try:
        us, small_bpp = small_commits(os.path.join(work, "small"),
                                      args.commits)
        q1, med, q3 = statistics.quantiles(us, n=4)
        print(f"small commit (2 primitives): median {med:.0f} us, "
              f"IQR {q1:.0f}-{q3:.0f} us over {len(us)} commits; "
              f"{small_bpp:.1f} B/primitive")
        ms = [roll(os.path.join(work, f"roll{r}"))
              for r in range(args.bulk_runs)]
        print(f"roll (compact after 128 small commits): median "
              f"{statistics.median(ms):.2f} ms, min {min(ms):.2f} ms, "
              f"max {max(ms):.2f} ms over {len(ms)} runs")
        runs = []
        for r in range(args.bulk_runs):
            runs.append(bulk_commit(os.path.join(work, f"bulk{r}")))
        secs = [s for s, _ in runs]
        print(f"bulk commit ({REGIONS + 2 * NATIONS} primitives): median "
              f"{statistics.median(secs):.3f} s, min {min(secs):.3f} s, "
              f"max {max(secs):.3f} s over {len(secs)} runs; "
              f"{runs[0][1]:.1f} B/primitive")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
