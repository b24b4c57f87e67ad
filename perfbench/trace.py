"""In-memory spans around the engine's public functions.

``Tracer.install()`` replaces each function ``_wraps()`` lists with a wrapper
that records one span per call: name, start, end, parent span and root
span (the request id).  ``uninstall()`` puts the originals back.  The
spans stay in memory until the run writes them out at its end.

Self time is a span's duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

from perfbench.eventlog import covered

# span record fields
NAME, START, END, PARENT, ROOT, ATTR = range(6)


def _wraps():
    """(span name, owner object, attribute) for every wrapped function.
    Imported lazily: the engine package is only importable once the
    checkout root is on sys.path."""
    import graphd_spark.api as api
    import graphd_spark.gql.lexer as lexer
    from graphd_spark.compiler import Compiler
    from graphd_spark.fastread import FastReader
    from graphd_spark.gql.prepared import ShapeCache
    from graphd_spark.pattern import Assembler
    from graphd_spark.store import ParquetLogStore
    from graphd_spark.write import WriteExecutor

    return [
        ("api.request", api.GraphSession, "request"),
        ("gql.serve_raw", ShapeCache, "serve_raw"),
        ("gql.shape_serve", ShapeCache, "serve"),
        ("gql.tokenize", lexer, "tokenize"),
        ("gql.parse", api, "parse_request"),
        ("fastread.run", FastReader, "run"),
        ("pattern.set_value", Assembler, "set_value"),
        ("values.join_values", api, "join_values"),
        ("store.mirror_current", ParquetLogStore, "mirror_current"),
        ("store.commit", ParquetLogStore, "commit"),
        ("store.hydrate", ParquetLogStore, "hydrate"),
        ("store.attach", ParquetLogStore, "attach"),
        ("write.execute", WriteExecutor, "execute"),
        ("compiler.run", Compiler, "run"),
    ]


#: spans whose attribute records whether the call returned non-None
HIT_SPANS = {"gql.serve_raw", "gql.shape_serve"}


class Tracer:
    def __init__(self, log_dirs=()):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.listdir_calls = 0
        self.log_dirs = tuple(os.path.abspath(d) for d in log_dirs)
        self._saved: list[tuple] = []
        # converts perf_counter_ns stamps to epoch ns (event-log clock)
        self.epoch_offset_ns = time.time_ns() - time.perf_counter_ns()

    # -- recording --------------------------------------------------------

    def _open(self, name: str, attr=None) -> list:
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        root = self.spans[parent][ROOT] if parent is not None else idx
        rec = [name, 0, 0, parent, root, attr]
        self.spans.append(rec)
        self.stack.append(idx)
        rec[START] = time.perf_counter_ns()
        return rec

    def _close(self, rec: list) -> None:
        rec[END] = time.perf_counter_ns()
        self.stack.pop()

    @contextlib.contextmanager
    def root(self, name: str, attr=None):
        """A span the benchmark itself opens."""
        rec = self._open(name, attr)
        try:
            yield rec
        finally:
            self._close(rec)

    def wrap(self, name: str, fn):
        from graphd_spark.fastread import Unsupported

        tracer = self
        hit = name in HIT_SPANS
        is_request = name == "api.request"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attr = None
            if is_request:
                attr = args[1].lstrip()[:5].lower()
            rec = tracer._open(name, attr)
            try:
                out = fn(*args, **kwargs)
            except Unsupported as e:
                rec[ATTR] = f"fallback:{e}"
                raise
            finally:
                tracer._close(rec)
            if hit:
                rec[ATTR] = out is not None
            return out

        return wrapper

    def _count_listdir(self, fn):
        tracer = self

        @functools.wraps(fn)
        def listdir(path="."):
            if isinstance(path, str) and os.path.abspath(path).startswith(
                tracer.log_dirs
            ):
                tracer.listdir_calls += 1
            return fn(path)

        return listdir

    # -- installing -------------------------------------------------------

    def install(self) -> None:
        if self._saved:
            return
        for name, owner, attr in _wraps():
            raw = vars(owner)[attr]
            if isinstance(raw, classmethod):
                new = classmethod(self.wrap(name, raw.__func__))
            else:
                new = self.wrap(name, raw)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, new)
        self._saved.append((os, "listdir", os.listdir))
        os.listdir = self._count_listdir(os.listdir)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)

    # -- output -----------------------------------------------------------

    def epoch_ms(self, ns: int) -> float:
        return (ns + self.epoch_offset_ns) / 1e6

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines: name, start and end (epoch
        ms), parent and request (root span) index."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s[NAME],
                    "start_ms": self.epoch_ms(s[START]),
                    "end_ms": self.epoch_ms(s[END]),
                    "parent": s[PARENT], "request": s[ROOT],
                    "attr": s[ATTR],
                }) + "\n")


def self_times(spans) -> list[int]:
    """Self time of every span: its duration minus the union of its
    children's intervals."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s[PARENT] is not None:
            children[s[PARENT]].append((s[START], s[END]))
    out = []
    for i, s in enumerate(spans):
        dur = s[END] - s[START]
        kids = children.get(i)
        out.append(dur - int(covered(kids, s[START], s[END])) if kids else dur)
    return out


def per_name(spans, selfs) -> dict[str, dict]:
    """calls, total duration and total self time (ns) per span name."""
    agg: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "total_ns": 0, "self_ns": 0}
    )
    for s, st in zip(spans, selfs):
        a = agg[s[NAME]]
        a["calls"] += 1
        a["total_ns"] += s[END] - s[START]
        a["self_ns"] += st
    return dict(agg)
