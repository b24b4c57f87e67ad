"""Line reach of the engine under pytest (stdlib ``sys.settrace``):
``python -m pytest -p tools.linecov [--linecov-json OUT] tests/...``

Traces the pytest process only (Spark's Python workers are not traced)
and, at the end of the run, prints unreached/executable lines per
module of ``graphd_spark/``.  ``--linecov-json`` also writes
``{module: {function: [unreached, executable]}}``; lines of nested
functions and lambdas count toward the function that encloses them,
and module and class bodies (run at import) are not counted.
"""

from __future__ import annotations

import inspect
import json
import os
import sys
import threading

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "graphd_spark",
) + os.sep
_hits: set = set()


def _local(frame, event, arg):
    if event == "line":
        _hits.add((frame.f_code.co_filename, frame.f_lineno))
    return _local


def _global(frame, event, arg):
    return _local if frame.f_code.co_filename.startswith(ROOT) else None


def _functions(path: str) -> dict:
    """function qualname -> its executable line numbers."""
    out: dict = {}
    todo = [compile(open(path, encoding="utf-8").read(), path, "exec")]
    while todo:
        co = todo.pop()
        todo.extend(c for c in co.co_consts if inspect.iscode(c))
        if co.co_flags & inspect.CO_OPTIMIZED:
            name = co.co_qualname.split(".<locals>")[0]
            out.setdefault(name, set()).update(
                ln for _a, _b, ln in co.co_lines()
                if ln is not None and ln != co.co_firstlineno
            )
    return out


def pytest_addoption(parser):
    parser.addoption("--linecov-json", default=None,
                     help="write per-function unreached line counts")


def pytest_configure(config):
    threading.settrace(_global)
    sys.settrace(_global)


def pytest_unconfigure(config):
    sys.settrace(None)
    threading.settrace(None)
    hit: dict = {}
    for path, ln in _hits:
        hit.setdefault(path, set()).add(ln)
    report = {}
    for dirpath, _dirs, files in os.walk(ROOT):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                seen = hit.get(path, set())
                report[os.path.relpath(path, ROOT)] = {
                    fn: [len(lines - seen), len(lines)]
                    for fn, lines in sorted(_functions(path).items())
                }
    for mod, fns in sorted(report.items()):
        un = sum(u for u, _n in fns.values())
        print(f"linecov {mod}: {un}/{sum(n for _u, n in fns.values())}"
              " lines unreached", file=sys.stderr)
    out = config.getoption("--linecov-json")
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
