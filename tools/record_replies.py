"""Record byte-literal protocol replies into ``tests/replies.json.gz``:
``python3 tools/record_replies.py [OUT]``.

Each case is a request script: writes, reads, and the cursor hops of
paged reads (at most five, following the reply's cursor as
tests/test_fastread.py's ``_two_path_pages`` does).  Every request runs
through a fast-path session and a compiler-only session; the tool
stops on the first reply the two paths disagree on, and otherwise
writes ``{case: [[request, reply], ...]}``.  tests/test_reply_fixture.py
replays each case on each read path and compares with the recording,
so a fault shared by both paths still shows.
"""

from __future__ import annotations

import gzip
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "tests", "replies.json.gz")

#: a hub with 0..3 children, and a second node family for or-branches
_HUB_WRITES = [
    'write (name="hub" value="h0")',
    'write (name="hub" value="h1" (<-left name="kid" value="a"))',
    'write (name="hub" value="h2" (<-left name="kid" value="b") '
    '(<-left name="kid" value="c"))',
    'write (name="hub" value="h3" (<-left name="kid" value="d") '
    '(<-left name="kid" value="e") (<-left name="kid" value="f"))',
    'write (name="spoke" value="s0")',
]

#: the count bounds of one (<-left name="kid") subconstraint
_BOUNDS = ["count=0", "count=1", "count=2", "count>=2", "count<=1",
           "start=1", "optional"]


def count_grid() -> list[str]:
    """Each count bound as a root sub and as an or-branch sub, plain,
    with ``contents`` and with a ``$var``."""
    reads = []
    for bound in _BOUNDS:
        for sub, res in (
            (f'(<-left name="kid" {bound})', "((value))"),
            (f'(<-left name="kid" {bound} result=((value)))',
             "((value contents))"),
            (f'(<-left name="kid" {bound} $v=value)', "((value $v))"),
        ):
            reads.append(f'read (name="hub" {sub} result={res})')
            alt = ' $v=name' if "$v" in sub else ""
            reads.append(
                f'read ({{name="hub" {sub}}} | {{value~="s*"{alt}}} '
                f"pagesize=8 result={res})"
            )
    return reads + [
        # both branches match a hub with kids: the first one binds
        'read (name="hub" {(<-left name="kid" $v=value)} | '
        '{value~="h*" $v=name} result=((value $v)))',
        'read (name="hub" {(<-left name="kid" result=((value)))} | '
        '{value~="h*" (<-left name="kid" optional result=(count))} '
        "result=((value contents)))",
        # two root subs: contents slots in parse order
        'read (name="hub" value="h2" (<-left name="kid" result=((value))) '
        '(<-left name="kid" count=2 result=(count)) '
        "result=((value contents)))",
    ]


#: a set-shaped or-branch assignment: the binder binds it null
SET_VAR_READS = [
    'read ({name="nation" $f=((value))} | {name="region"} pagesize=4 '
    "result=((value $f)))",
    'read ({name="region" $f=((value))} | {name="nation"} pagesize=4 '
    "result=((value $f)))",
]


def _seed_lines() -> list[str]:
    """tests/test_fastread.py's ``_seed`` store as request lines (the
    version-chain guid is the store's first guid after the seed)."""
    from graphd_spark.api import GraphSession
    from tests.test_fastread import _seed

    lines: list[str] = []

    class _Rec(GraphSession):
        def request(self, line):
            lines.append(line)
            return super().request(line)

    _seed(_Rec())
    return lines


def cases() -> dict:
    """case name -> (script lines, reads paged through their cursors)."""
    from tests.test_differential import gen_or_script, gen_script
    from tests.test_fastread import OR_QUERIES, VAR_QUERIES

    seed = _seed_lines()
    out = {
        "or_queries": (seed, OR_QUERIES),
        "var_queries": (seed, VAR_QUERIES),
        "or_branch_set_var": (seed, SET_VAR_READS),
        "count_grid": (_HUB_WRITES, count_grid()),
    }
    for s in range(4):
        out[f"or_script_{s}"] = ([], gen_or_script(s))
    for s in range(2000, 2004):
        out[f"gen_script_{s}"] = (gen_script(s), [])
    return out


def record(spark) -> dict:
    from graphd_spark.api import GraphSession
    from tests.test_fastread import _CURSOR_RE

    out = {}
    for name, (lines, reads) in cases().items():
        fast = GraphSession(spark)
        slow = GraphSession(spark)
        slow.fast_read_enabled = False
        log: list = []

        def both(req):
            a, b = fast.request(req), slow.request(req)
            if a != b:
                raise SystemExit(
                    f"{name}: the read paths disagree on\n  {req}\n"
                    f"  fast: {a}\n  slow: {b}"
                )
            log.append([req, a])
            return a

        for ln in lines:
            both(ln)
        for read in reads:
            reply = both(read)
            for _hop in range(5):
                m = _CURSOR_RE.search(reply)
                if not m or m.group(1) == "null:":
                    break
                esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
                reply = both(read.replace(
                    "result=(cursor", f'cursor="{esc}" result=(cursor', 1
                ))
        out[name] = log
        print(f"{name}: {len(log)} requests", file=sys.stderr)
    return out


def main() -> None:
    from graphd_spark.session import get_spark

    path = sys.argv[1] if len(sys.argv) > 1 else OUT
    spark = get_spark(
        "record_replies", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "2"))
    )
    data = record(spark)
    with gzip.open(path, "wt", encoding="utf-8", compresslevel=9) as f:
        json.dump(data, f, indent=0, sort_keys=True)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
