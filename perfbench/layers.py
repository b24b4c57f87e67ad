"""Per-layer metrics of a traced run, from its spans and Spark event log.

Times (``*_ms``, ``*.self_ms``) and counts (``*.calls``) are per
operation of the traced loop unless the name says otherwise, so each
layer's self time adds up, with the root's own, to ``api.request.ms``
or a query's time.  ``store.hydrate.ms``, ``store.attach.ms`` and
``compiler.run.ms`` are per call.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from perfbench import eventlog
from perfbench.trace import ATTR, END, NAME, PARENT, ROOT, START, per_name, self_times
from perfbench.workloads import INVENTORY, log_bytes

MS = "ms/op"
CALLS = "calls/op"

#: (metric, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("api.request.ms", "ms", "lower"),
    ("api.ast_cache_hit_ratio", "ratio", "higher"),
    ("gql.serve_raw.hit_ratio", "ratio", "higher"),
    ("gql.shape_serve.hit_ratio", "ratio", "higher"),
    ("gql.tokenize.calls", CALLS, "lower"),
    ("gql.tokenize.self_ms", MS, "lower"),
    ("gql.parse.calls", CALLS, "lower"),
    ("gql.parse.self_ms", MS, "lower"),
    ("fastread.run.calls", CALLS, "lower"),
    ("fastread.run.self_ms", MS, "lower"),
    ("fastread.fallback_ratio", "ratio", "lower"),
    ("pattern.set_value.self_ms", MS, "lower"),
    ("values.join_values.self_ms", MS, "lower"),
    ("store.mirror_current.calls", CALLS, "lower"),
    ("store.mirror_current.self_ms", MS, "lower"),
    ("store.listdir.calls", CALLS, "lower"),
    ("store.commit.self_ms", MS, "lower"),
    ("store.commit.bytes", "bytes", "lower"),
    ("store.hydrate.ms", "ms", "lower"),
    ("store.attach.ms", "ms", "lower"),
    ("store.log_bytes_per_primitive", "bytes", "lower"),
    ("write.execute.self_ms", MS, "lower"),
    ("compiler.run.ms", "ms", "lower"),
    ("compiler.compile_ms", "ms", "lower"),
    ("compiler.jobs_per_read", "count", "lower"),
    ("compiler.stages_per_read", "count", "lower"),
    ("spark.stages", CALLS, "lower"),
    ("spark.tasks", CALLS, "lower"),
    ("spark.task_run_ms", MS, "lower"),
    ("spark.shuffle_read_bytes", "bytes/op", "lower"),
    ("spark.shuffle_write_bytes", "bytes/op", "lower"),
    ("spark.failed_tasks", CALLS, "lower"),
] + [
    m for q in INVENTORY for m in (
        (f"inventory.{q}.s", "s", "lower"),
        (f"inventory.{q}.shuffle_bytes", "bytes", "lower"),
    )
] + [
    ("trace.attributed_frac", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, traced: dict, untraced: dict, wl, eventlog_dir: str,
              commit_bytes: int) -> tuple[dict, dict]:
    spans = tracer.spans
    selfs = self_times(spans)
    # the traced loop's spans are those under a root it opened; set-up
    # spans (attach, hydrate, warm-up requests) come before it
    roots = [i for i in range(traced["span_start"], len(spans))
             if spans[i][PARENT] is None]
    in_loop = set(roots)
    loop_spans = [s for s in spans if s[ROOT] in in_loop]
    loop_selfs = [st for s, st in zip(spans, selfs) if s[ROOT] in in_loop]
    agg = per_name(loop_spans, loop_selfs)
    whole = per_name(spans, selfs)
    ops = max(traced["ops"], 1)

    def calls(name):
        return agg.get(name, {}).get("calls", 0)

    def self_ms(name):
        return agg.get(name, {}).get("self_ns", 0) / 1e6 / ops

    def per_call_ms(table, name):
        a = table.get(name)
        return a["total_ns"] / 1e6 / a["calls"] if a else 0.0

    # requests that touched no gql function were served from the
    # session AST cache
    gql_roots = {s[ROOT] for s in loop_spans if s[NAME].startswith("gql.")}
    reads = [i for i in roots if spans[i][NAME] == "api.request"
             and (spans[i][ATTR] or "").startswith("read")]
    hits = Counter()
    reasons = Counter()
    for s in loop_spans:
        if s[ATTR] is True:
            hits[s[NAME]] += 1
        elif isinstance(s[ATTR], str) and s[ATTR].startswith("fallback:"):
            reasons[s[ATTR][len("fallback:"):]] += 1
    root_ns = sum(spans[i][END] - spans[i][START] for i in roots)
    root_self_ns = sum(selfs[i] for i in roots)

    # Spark: jobs inside the traced loop, per op; compiled reads and
    # queries by their job group
    jobs = eventlog.parse_dir(eventlog_dir)
    lo, hi = (tracer.epoch_ms(spans[roots[0]][START]),
              tracer.epoch_ms(spans[roots[-1]][END])) if roots else (0, 0)
    loop_jobs = [j for j in jobs.values() if lo <= j.start_ms <= hi]
    groups = eventlog.by_group(jobs)
    compiled, compile_ms, inv = [], [], defaultdict(list)
    for group, first in traced["roots"].items():
        g = groups.get(group, eventlog.Group())
        root = spans[first]
        if root[NAME] == "inventory.query":
            inv[root[ATTR]].append(
                ((root[END] - root[START]) / 1e9, g.total("shuffle_write_bytes")))
            # a query has no engine spans below it: its Spark jobs are
            # the part of its time the trace can attribute
            a, b = tracer.epoch_ms(root[START]), tracer.epoch_ms(root[END])
            root_self_ns -= eventlog.covered(g.intervals(), a, b) * 1e6
            continue
        runs = [s for s in spans[first:] if s[ROOT] == first
                and s[NAME] == "compiler.run"]
        if runs:
            compiled.append(g)
        for s in runs:
            a, b = tracer.epoch_ms(s[START]), tracer.epoch_ms(s[END])
            compile_ms.append((b - a) - eventlog.covered(g.intervals(), a, b))

    m = {
        "api.request.ms": per_call_ms(agg, "api.request"),
        "api.ast_cache_hit_ratio": _ratio(
            sum(1 for i in reads if i not in gql_roots), len(reads)),
        "gql.serve_raw.hit_ratio": _ratio(
            hits["gql.serve_raw"], calls("gql.serve_raw")),
        "gql.shape_serve.hit_ratio": _ratio(
            hits["gql.shape_serve"], calls("gql.shape_serve")),
        "gql.tokenize.calls": calls("gql.tokenize") / ops,
        "gql.tokenize.self_ms": self_ms("gql.tokenize"),
        "gql.parse.calls": calls("gql.parse") / ops,
        "gql.parse.self_ms": self_ms("gql.parse"),
        "fastread.run.calls": calls("fastread.run") / ops,
        "fastread.run.self_ms": self_ms("fastread.run"),
        "fastread.fallback_ratio": _ratio(
            sum(reasons.values()), calls("fastread.run")),
        "pattern.set_value.self_ms": self_ms("pattern.set_value"),
        "values.join_values.self_ms": self_ms("values.join_values"),
        "store.mirror_current.calls": calls("store.mirror_current") / ops,
        "store.mirror_current.self_ms": self_ms("store.mirror_current"),
        "store.listdir.calls": tracer.listdir_calls / ops,
        "store.commit.self_ms": self_ms("store.commit"),
        "store.commit.bytes": _ratio(commit_bytes, calls("store.commit")),
        "store.hydrate.ms": per_call_ms(whole, "store.hydrate"),
        "store.attach.ms": per_call_ms(whole, "store.attach"),
        "store.log_bytes_per_primitive": _ratio(
            log_bytes(wl.log),
            wl.primitives()),
        "write.execute.self_ms": self_ms("write.execute"),
        "compiler.run.ms": per_call_ms(agg, "compiler.run"),
        "compiler.compile_ms": _mean(compile_ms),
        "compiler.jobs_per_read": _mean([len(g.jobs) for g in compiled]),
        "compiler.stages_per_read": _mean([g.total("stages") for g in compiled]),
        "spark.stages": sum(j.stages for j in loop_jobs) / ops,
        "spark.tasks": sum(j.tasks for j in loop_jobs) / ops,
        "spark.task_run_ms": sum(j.task_run_ms for j in loop_jobs) / ops,
        "spark.shuffle_read_bytes":
            sum(j.shuffle_read_bytes for j in loop_jobs) / ops,
        "spark.shuffle_write_bytes":
            sum(j.shuffle_write_bytes for j in loop_jobs) / ops,
        "spark.failed_tasks": sum(j.failed_tasks for j in loop_jobs) / ops,
        "trace.attributed_frac": _ratio(root_ns - root_self_ns, root_ns),
        "trace.overhead_frac": 1 - _ratio(
            traced["ops"] / traced["wall_s"],
            untraced["ops"] / untraced["wall_s"]),
    }
    for q in INVENTORY:
        runs = inv.get(q, [])
        m[f"inventory.{q}.s"] = _mean([r[0] for r in runs])
        m[f"inventory.{q}.shuffle_bytes"] = _mean([r[1] for r in runs])
    units = {name: unit for name, unit, _ in PER_LAYER}
    metrics = {k: {"value": m[k], "unit": units[k]} for k, _, _ in PER_LAYER}
    detail = {
        "ops": traced["ops"], "failed": traced["failed"],
        "ops_per_s": traced["ops"] / traced["wall_s"],
        "untraced_ops_per_s": untraced["ops"] / untraced["wall_s"],
        "spans": len(spans), "loop_jobs": len(loop_jobs),
        "fallback_reasons": dict(reasons),
        "self_ms_per_op": {k: v["self_ns"] / 1e6 / ops for k, v in agg.items()},
        "errors": traced["errors"],
    }
    return metrics, detail
