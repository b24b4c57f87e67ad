"""Differential testing against the reference binary.

Seeded random write/read scripts run through BOTH the reference graphd
(built from the public sources by tools/build_reference.sh, predictable
mode) and this engine's GraphSession; every reply line must match
byte-for-byte.  This extends the reference's own golden-test strategy
to generated workloads — each divergence is a real parity bug.

Skipped when the reference binary or checkout is unavailable (the
engine itself never depends on either).
"""

from __future__ import annotations

import os
import random
import subprocess
import tempfile

import pytest

REF_BIN = os.environ.get("GRAPHD_REF_BIN", "/tmp/graphd_ref_build/graphd")


def _ensure_binary() -> str | None:
    if os.path.exists(REF_BIN):
        return REF_BIN
    build = os.path.join(os.path.dirname(__file__), "..", "tools",
                         "build_reference.sh")
    if not os.path.isdir("/root/reference") or not os.path.exists(build):
        return None
    try:
        subprocess.run(
            ["bash", build], check=True, capture_output=True, timeout=900
        )
    except Exception:
        return None
    return REF_BIN if os.path.exists(REF_BIN) else None


def run_reference(lines: list[str]) -> list[str]:
    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.run(
            [REF_BIN, "-d", os.path.join(db, "db"), "-bty"],
            input="\n".join(lines) + "\n",
            capture_output=True,
            text=True,
            timeout=120,
            cwd=db,  # the binary drops graphd-debug.log.* in cwd
        )
    return [ln for ln in proc.stdout.splitlines() if ln]


def run_reference_session(fn):
    """Run ``fn(ask)`` against an interactive reference session, where
    ``ask(line) -> reply``; returns fn's result."""
    import select

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [REF_BIN, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            bufsize=1,
            cwd=db,
        )

        def ask(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            return fn(ask)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)


def run_engine(spark, lines: list[str]) -> list[str]:
    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    out = []
    for ln in lines:
        reply = gs.request(ln)
        if reply:
            out.append(reply)
    return out


# -- script generator -----------------------------------------------------

_VALUES = [
    "apple", "Banana", "cherry pie", "12", "007", "1.5", "-3", "3.50",
    "2006-01-02", "a-b", "zebra", "Apple", "x", "aa", "ab",
    "12.0", "+12", "1e2", "100", "20", "b", "B", "yes no", "under_score",
]
# note: leading-space/punctuation values ("  pad  ", "!x") are kept out
# — their membership under the reference's range scans depends on bin
# scan progress (see _RANGE_BOUNDS note below)

#: range bounds stay on well-behaved strings: the reference's value
#: ranges run over coarse string bins with a stateful per-candidate
#: refinement (default_value_in_range,
#: graphd-comparator-default.c:2030-2130) whose verdict for leading-
#: space/punctuation values and capitalized bounds depends on how far
#: the bin scan had progressed when the candidate surfaced — scan
#: state, not query semantics.  This engine uses the comparator's
#: total order instead.
#:
#: KNOWN BOUNDARY (seeds 233/353 of the wide campaign): an unsorted
#: read whose only selective predicate is a linkage sub with a value
#: RANGE surfaces rows in whatever order the reference's budgeted
#: producer contest picked — all-scan (parent id order) for small
#: stores, the linksto's raw child-bin order once the store grows.
#: The contest samples iterators under budgets
#: (graphd-iterator-and-statistics.c:204-381), so the crossover is
#: path-dependent; this engine always uses parent id order there.
#: The row SET always matches; only inter-row order (and therefore
#: which rows land on a truncating page) can differ — the generator
#: pins sort=(timestamp) on that shape so set and counts still
#: compare.
_RANGE_BOUNDS = [
    "apple", "cherry pie", "12", "1.5", "aa", "ab", "b", "zebra", "100",
]
_NAMES = ["size", "color", "rank", "label"]
_TYPES = ["knows", "owns", "likes"]
_OPS = ["=", "!=", "~=", "<", "<=", ">", ">="]
_GLOBS = ["a*", "*pie", "b*", "1*", "apple", "z*a", "*an*"]


def _q(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _gen_write(rng: random.Random) -> str:
    parts = []
    if rng.random() < 0.85:
        parts.append(f"value={_q(rng.choice(_VALUES))}")
    if rng.random() < 0.5:
        parts.append(f"name={_q(rng.choice(_NAMES))}")
    if rng.random() < 0.12:
        # explicit out-of-order stamps: the stored timestamp column is
        # NOT monotone with ids, exercising the reference's
        # timestamp->id bsearch bounds, the "perfect" sort skips, and
        # keyed timestamp tag fields (probed round 5)
        parts.append(
            f"timestamp=1970-01-01T00:00:00.{rng.randrange(60):04d}Z"
        )
    for _ in range(rng.randrange(3)):
        child = [f"value={_q(rng.choice(_VALUES))}"]
        if rng.random() < 0.4:
            child.append(f"type={_q(rng.choice(_TYPES))}")
        arrow = rng.choice(["<-left", "<-right", "left->", "right->"])
        if arrow.startswith("<-"):
            parts.append(f"({arrow} {' '.join(child)})")
        else:
            parts.append(f"{arrow}({' '.join(child)})")
    return f"write ({' '.join(parts)})"


def _gen_constraint(rng: random.Random, depth: int = 0,
                    bare: bool = False) -> str:
    parts = []
    r = rng.random()
    if r < 0.55:
        op = rng.choice(_OPS)
        if op == "~=":
            v = rng.choice(_GLOBS)
        elif op in ("<", "<=", ">", ">="):
            v = rng.choice(_RANGE_BOUNDS)
        else:
            v = rng.choice(_VALUES)
        clause = f"value{op}{_q(v)}"
        # or-chains over value equalities: both the value-set form
        # value=("a" "b") and the explicit  value="a"|value="b"
        if op == "=" and rng.random() < 0.25:
            v2 = rng.choice(_VALUES)
            if rng.random() < 0.5:
                clause = f"value=({_q(v)} {_q(v2)})"
            else:
                clause = f"value={_q(v)}|value={_q(v2)}"
        parts.append(clause)
    elif r < 0.7:
        parts.append(f"name={_q(rng.choice(_NAMES))}")
    elif r < 0.8:
        parts.append(f"type={_q(rng.choice(_TYPES))}")
    if depth == 0 and rng.random() < 0.15:
        parts.append(rng.choice(["live=true", "live=dontcare", "node"]))
    if depth == 0 and rng.random() < 0.1:
        parts.append(
            "datatype=" + rng.choice(["string", "null", "integer"])
        )
    if depth == 0 and rng.random() < 0.15:
        # predictable mode steps timestamps 1970-01-01T00:00:00.NNNNZ
        # per primitive, so absolute bounds are deterministic
        op = rng.choice(["<", "<=", ">", ">="])
        ts = f"1970-01-01T00:00:00.{rng.randrange(30):04d}Z"
        parts.append(f"timestamp{op}{ts}")
    if depth == 0 and rng.random() < 0.1:
        parts.append(
            rng.choice(["newest>=0", "newest<=0", "oldest>=0", "oldest<=0"])
        )
    range_sub = False
    if depth == 0 and rng.random() < 0.4:
        sub = _gen_constraint(rng, depth + 1)
        arrow = rng.choice(["<-left", "<-right", "left->", "right->"])
        mod = rng.choice(["", "optional ", "count=0 "])
        if arrow.startswith("<-") and not mod and any(
            f"value{op}" in sub for op in ("<", "<=", ">", ">=")
        ) and "value=" not in sub and "value!" not in sub:
            # a mandatory 'my' sub whose own producer is a value range:
            # the reference's iterator race decides between all-scan
            # (parent id order) and linksto (child-bin order) — see the
            # KNOWN BOUNDARY note above.  Pin a deterministic order
            # (timestamps are unique) so the row SET and counts are
            # still compared while the contest order is not.
            range_sub = True
        if arrow.startswith("<-"):
            parts.append(f"({arrow} {mod}{sub})")
        else:
            parts.append(f"{arrow}({mod}{sub})")
    sorted_read = False
    if range_sub:
        sorted_read = True
        parts.append("sort=(timestamp)")
    if depth == 0 and not sorted_read and rng.random() < 0.5:
        sorted_read = True
        keys = rng.sample(
            ["value", "-value", "name", "-name", "timestamp"],
            rng.randrange(1, 3),
        )
        parts.append(f"sort=({' '.join(keys)})")
        if rng.random() < 0.3:
            parts.append(
                "sort-comparator="
                + rng.choice(['"number"', '"octet"', '"case"'])
            )
    # a sorted page whose implicit countlimit (start+pagesize)
    # truncates the candidate set reflects the reference's internal
    # producer order — optimizer state, not query semantics.  Sorted
    # reads therefore page wide; unsorted ones exercise tight pages
    # (production is deterministic id/bin order there).
    if depth == 0 and not bare and rng.random() < 0.6:
        parts.append(
            f"pagesize={40 if sorted_read else rng.randrange(1, 6)}"
        )
    if depth == 0 and not bare and not sorted_read and rng.random() < 0.2:
        parts.append(f"start={rng.randrange(3)}")
    if depth == 0 and not bare and not sorted_read and rng.random() < 0.15:
        parts.append(f"countlimit={rng.randrange(1, 5)}")
    if depth == 0 and not bare and rng.random() < 0.5:
        parts.append(
            "result="
            + rng.choice(
                [
                    "((guid value))",
                    "((value name))",
                    "(count)",
                    "((guid) count)",
                    "((value contents))",
                    "((timestamp))",
                    "((guid datatype value))",
                ]
            )
        )
    return " ".join(parts) if parts else "value!=null"


def _gen_cursor_constraint(rng: random.Random) -> str:
    """Constraint shapes whose cursors this engine freezes in the
    reference's own format: equality / prefix-glob predicates,
    linkage expansions, and their intersections.  Value ranges stay
    out (a vrange cursor freezes the reference's bin-scan state,
    which this engine replans rather than replays), as do sorted
    pages (covered by the sortcursor / sort19 / slip goldens)."""
    r = rng.random()
    if r < 0.2:
        return f"value={_q(rng.choice(_VALUES))}"
    if r < 0.3:
        return f"name={_q(rng.choice(_NAMES))}"
    if r < 0.42:
        return f"type={_q(rng.choice(_TYPES))}"
    if r < 0.5:
        # direct multi-linkage equality roots: and-iterator /
        # pre-evaluated fixed freezes (ids 0/1 exist — the prologue
        # writes or the bootstrap occupy them)
        links = rng.sample(
            [f"left={_G0}", f"right={_G0}", f"left={_G1}",
             f"right={_G1}", f"scope={_G0}"],
            rng.randrange(1, 3),
        )
        return " ".join(links)
    if r < 0.65:
        return "value~=" + _q(rng.choice(["a*", "b*", "c*", "z*"]))
    if r < 0.75:
        # round 9: a branch conjoining a SUB-BEARING nested chain
        # (the recursive first-match machinery) under the top-level
        # cursor — the freeze must cover the winning inner branch's
        # sub iterator and the signature the recursive clause split.
        # ~20% give the INNER sub its own cursor (the pagination
        # driver then lands cursor= on it): depth-2 branch-sub
        # chains ride the same _cursub ring/defer model as depth 1
        icur = (
            " pagesize=1 result=(cursor (guid value))"
            if rng.random() < 0.2 else ""
        )
        inner = (
            f"(<-left value={_q(rng.choice(_VALUES))}{icur})"
            if rng.random() < 0.7
            else f"(<-right name={_q(rng.choice(_NAMES))}{icur})"
        )
        conj = rng.choice([
            "value~=" + _q(rng.choice(["a*", "b*"])) + " ",
            f"name={_q(rng.choice(_NAMES))} ",
            "",
        ])
        return (
            f"{{ {{ {inner} | value={_q(rng.choice(_VALUES))} }} "
            f"{conj}| value={_q(rng.choice(_VALUES))} }}"
        )
    sub = rng.choice(
        [f'value={_q(rng.choice(_VALUES))}',
         f'name={_q(rng.choice(_NAMES))}']
    )
    arrow = rng.choice(["<-left", "<-right", "left->", "right->"])
    if arrow.startswith("<-"):
        body = f"({arrow} {sub})"
    else:
        body = f"{arrow}({sub})"
    if rng.random() < 0.4:
        body = f"value~={_q(rng.choice(['a*', 'b*']))} {body}"
    return body


def gen_script(seed: int) -> list[str]:
    rng = random.Random(seed)
    lines = [_gen_write(rng) for _ in range(rng.randrange(3, 9))]
    lines += [
        f"read ({_gen_constraint(rng)})"
        for _ in range(rng.randrange(4, 10))
    ]
    return lines


# -- the test -------------------------------------------------------------

SEEDS = list(range(24))


@pytest.fixture(scope="module")
def ref_bin():
    path = _ensure_binary()
    if path is None:
        pytest.skip("reference binary unavailable")
    return path


def gen_cursor_writes(rng: random.Random):
    """Write prologue for the cursor campaigns, with an optional
    LINK BURST: 6-12 extra writes whose subs share one value, so a
    linkage-expansion read reaches the reference's fixed-isa
    masquerade window (>= 6 distinct targets; the raw unmasqueraded
    fixed freeze covers <= 5) and, descending, the fixed-isa:~ form.
    Returns (lines, burst) with burst = (arrow, shared value) or
    None."""
    lines = [_gen_write(rng) for _ in range(rng.randrange(6, 14))]
    burst = None
    if rng.random() < 0.5:
        v = rng.choice(_VALUES)
        arrow = rng.choice(["<-left", "<-right"])
        for _ in range(rng.randrange(6, 13)):
            lines.append(
                f"write (value={_q(rng.choice(_VALUES))} "
                f"({arrow} value={_q(v)}))"
            )
        burst = (arrow, v)
    if rng.random() < 0.5:
        # DENSE sorted-thaw cluster: several parents sharing a name,
        # each with more children than a page — the configuration
        # whose thawed sort: chains exercise the shared bad-id ring,
        # the global producer orders and the sort-window exit
        # (fastread._ThawScan); children are written nested so the
        # linkage needs no guid bookkeeping
        pname = "srt" + str(rng.randrange(3))
        for _ in range(rng.randrange(2, 5)):
            kids = "".join(
                f" (<-left value={_q(rng.choice(_VALUES))})"
                for _ in range(rng.randrange(2, 6))
            )
            lines.append(
                f"write (name={_q(pname)} "
                f"value={_q(rng.choice(_VALUES))}{kids})"
            )
        burst = (burst, pname)
    else:
        burst = (burst, None)
    nest = None
    if rng.random() < 0.45:
        # NESTED (depth-2) dense cluster: grandparents -> mids
        # sharing a name -> leaf kids from the shared value pool.
        # Thawed sorted chains on the LEAF sub exercise the nested
        # render-resume walk (verify defers per mid; resumes run for
        # rendered mids in render order) over the same global
        # producer + shared bad-id ring as the root-level thaws.
        nest = "nst" + str(rng.randrange(3))
        deep = rng.random() < 0.3  # 4-level cluster: depth-3 chains
        for g in range(rng.randrange(1, 3)):
            mids = []
            for _ in range(rng.randrange(2, 4)):
                kids = "".join(
                    f" (<-left value={_q(rng.choice(_VALUES))})"
                    for _ in range(rng.randrange(2, 6))
                )
                if deep:
                    kids = "".join(
                        f' (<-left name="{nest}q" '
                        f"value={_q(rng.choice(_VALUES))}{kids})"
                        for _ in range(rng.randrange(1, 3))
                    )
                mids.append(
                    f"(<-left name={_q(nest)} "
                    f"value={_q(rng.choice(_VALUES))}{kids})"
                )
            lines.append(
                f'write (value="{nest}gp{g}" ' + " ".join(mids) + ")"
            )
        nest = (nest, deep)
    return lines, burst + (nest,)


def gen_cursor_reads(rng: random.Random, burst=None) -> list[str]:
    """Cursored reads (shared by the pytest campaign and
    tools/diff_campaign.py --cursors)."""
    link_burst, thaw_name, nest_name = burst, None, None
    if burst is not None and (
        burst[0] is None or isinstance(burst[0], tuple)
    ):
        if len(burst) == 3:
            link_burst, thaw_name, nest_name = burst
        else:
            link_burst, thaw_name = burst
    reads = []
    for i in range(rng.randrange(2, 5)):
        body = _gen_cursor_constraint(rng)
        if i == 0 and link_burst is not None:
            # aim the first read at the burst's expansion: the
            # masqueraded fixed-isa freeze window (>= 6 targets)
            arrow, v = link_burst
            body = f"({arrow} value={_q(v)})"
        elif nest_name is not None and rng.random() < 0.4:
            # DEPTH-2 (or DEPTH-3, when the cluster is 4 levels)
            # nested sorted cursor chain: root grandparent -> mid
            # (shared name) [-> sub-mid] -> sorted leaf cursor.  The
            # thawed pages run _ThawScan per parent with the
            # deferred-set verify and resumes walking rendered
            # parents recursively in render order.
            nname, ndeep = nest_name
            srt = rng.choice([
                "sort=value", "sort=(-value)", "sort=name",
                "sort=(value -name)", "sort=(value guid)",
            ])
            ps = rng.randrange(1, 4)
            mid_ps = rng.choice(["", "", "pagesize=1 ", "pagesize=2 "])
            root = (
                f'value="{nname}gp{rng.randrange(2)}"'
                if rng.random() < 0.7
                else f'value~="{nname}gp*" pagesize=2'
            )
            leaf = (f"(<-left {srt} pagesize={ps} "
                    f"result=(cursor (guid value)))")
            if ndeep:
                leaf = (f'(<-left name="{nname}q" '
                        f"result=((value contents)) {leaf})")
            reads.append(
                f"read ({root} result=((value contents)) "
                f"(<-left name={_q(nname)} {mid_ps}"
                f"result=((value contents)) {leaf}))"
            )
            continue
        elif thaw_name is not None and rng.random() < 0.35:
            # dense sorted-thaw chain over the cluster parents: the
            # thawed sort: pages run the exact sort-root model
            # (_ThawScan: shared bad-id ring, global producer order,
            # verify/defer/resume, median-gated window exit)
            srt = rng.choice([
                "sort=value", "sort=(-value)", "sort=name",
                "sort=(value -name)", "sort=(value guid)",
            ])
            ps = rng.randrange(1, 4)
            reads.append(
                f'read (pagesize=2 name={_q(thaw_name)} '
                f'result=((value contents)) '
                f'(<-left {srt} pagesize={ps} '
                f'result=(cursor (guid value))))'
            )
            continue
        elif rng.random() < 0.25:
            # SUB-level cursor chains (round 6; the pagination driver
            # lands cursor= on the sub because the sub's result=
            # holds the only cursor pattern): bare linkage → per-
            # parent gmap over the RAW index, type= → vip combined
            # index, value/name predicates → pre-evaluated fixed
            # (graphd-read-set-cursor.c, pdb-vip.c)
            arrow = rng.choice(["<-left", "<-right", "<-left",
                                "<-right", "left->", "right->"])
            r2 = rng.random()
            if r2 < 0.3:
                pred = ""
            elif r2 < 0.45:
                pred = f"type={_q(rng.choice(_TYPES))} "
            elif r2 < 0.6:
                pred = "value~=" + _q(
                    rng.choice(["a*", "b*", "c*"])
                ) + " "
            elif r2 < 0.72:
                pred = f"value={_q(rng.choice(_VALUES))} "
            elif r2 < 0.8:
                pred = f"name={_q(rng.choice(_NAMES))} "
            else:
                # round-8 clause families: non-iterator checks
                # (counted sub-subs, newest/oldest, the prev=null
                # conversion, value!=, prefix-less globs) ride over
                # the bare forms; bin predicates (ranges at bin-span
                # granularity, intrinsic chains) pre-evaluate
                pred = rng.choice([
                    "(<-left count=0) ",
                    f'(<-left count=0 value={_q(rng.choice(_VALUES))}) ',
                    "newest=0 ",
                    "oldest=0 ",
                    "prev=null ",
                    "next=null ",
                    f"value!={_q(rng.choice(_VALUES))} ",
                    'value~="*an*" ',
                    f"value<{_q(rng.choice(_RANGE_BOUNDS))} ",
                    f"value>={_q(rng.choice(_RANGE_BOUNDS))} ",
                    f"{{ value={_q(rng.choice(_VALUES))} | "
                    f"value={_q(rng.choice(_VALUES))} }} ",
                    f"{{ value={_q(rng.choice(_VALUES))} | "
                    f"(<-left value={_q(rng.choice(_VALUES))}) }} ",
                    f"value={_q(rng.choice(_VALUES))} (<-left) ",
                ])
                if rng.random() < 0.4:
                    pred += f"value={_q(rng.choice(_VALUES))} "
            # ~12% pagesize=0: the count-min probe freeze (first
            # accepted element's raw producer position; chains end
            # in EMPTY once the probe finds nothing)
            sps = 0 if rng.random() < 0.12 else rng.randrange(1, 4)
            opt = " count>=0" if rng.random() < 0.3 else ""
            st = f"start={rng.randrange(1, 3)} " \
                if rng.random() < 0.2 else ""
            if rng.random() < 0.45:
                # sorted subs: timestamp/guid keys drive the perfect
                # iterator freezes (descending = the '~' forms);
                # value/name keys the per-parent sort: boundary
                # cursors with the incremental-sorter truncation and
                # the one-shot-thaw multi-parent degradation.
                # NEVER a descending perfect key over a value range —
                # the reference binary asserts out
                # (graphd-iterator-and.c:1558 direction mismatch;
                # writepaged seed 359 killed the oracle)
                opts = ["timestamp", "(-timestamp)", "guid",
                        "(-guid)", "value", "(-value)", "name",
                        "(-name)", "(value -name)", "(name guid)"]
                if "value<" in pred or "value>" in pred:
                    opts = [o for o in opts
                            if o not in ("(-timestamp)", "(-guid)")]
                st += "sort=" + rng.choice(opts) + " "
            root = rng.choice([
                f"value={_q(rng.choice(_VALUES))}",
                "value~=" + _q(rng.choice(["a*", "b*"])),
                f"name={_q(rng.choice(_NAMES))}",
            ])
            asof2 = ""
            if rng.random() < 0.15:
                asof2 = "asof=1970-01-01T00:00:00.{:04d} ".format(
                    rng.randrange(5, 30)
                )
            if rng.random() < 0.15:
                # or-branch sub cursors: the winning branch freezes
                # its per-parent iterator, losing slots render null.
                # pagesize=0 probes in branches (round 6): MY-form
                # branch subs count 0 and freeze null:, IAM-form
                # subs stash the probe freeze with the
                # branch-winner [n:] pins.  Round 7: SORTED branch
                # subs run the same sorter/thaw model as root-level
                # subs, so sorts stay in
                other = "<-right" if arrow != "<-right" else "<-left"
                me = (
                    f"({arrow} {pred}{st}pagesize={sps} "
                    f"result=(cursor (guid value)){opt})"
                    if arrow.startswith("<-")
                    else f"{arrow}({pred}{st}pagesize={sps} "
                    f"result=(cursor (guid value)){opt})"
                )
                body2 = (
                    f"{{ {me} | ({other} pagesize=1 "
                    f"result=(cursor (guid value))) }}"
                )
            elif arrow.startswith("<-"):
                body2 = (
                    f"({arrow} {pred}{st}pagesize={sps} "
                    f"result=(cursor (guid value)){opt})"
                )
            else:
                # iam-side subs: at most one element per parent
                # (rendered pages freeze null:, pagesize=0 probes a
                # fixed:1 with [n:] pinned at target+1)
                body2 = (
                    f"{arrow}({pred}{st}pagesize={sps} "
                    f"result=(cursor (guid value)){opt})"
                )
            reads.append(
                f"read {asof2}(pagesize=2 {root} "
                f"result=((value contents)) {body2})"
            )
            continue
        ps = rng.randrange(1, 4)
        # round 6: asof'd cursor chains serve through the fast path —
        # pages omit [n:], bounds clamp at the id horizon, and the
        # signature gains the pushed dateline maxima (probed)
        asof = ""
        if rng.random() < 0.15:
            asof = "asof=1970-01-01T00:00:00.{:04d} ".format(
                rng.randrange(5, 30)
            )
        srt = ""
        if rng.random() < 0.3:
            # sorted pages freeze sort: cursors (value serialization +
            # guid tiebreak); tight pages over null first keys
            # exercise the incremental-sorter truncation model
            # (graphd_spark/sortsim.py) since round 6
            srt = "sort=" + rng.choice(
                ["(value)", "(-value)", "(name value)", "(-name)"]
            ) + " "
        elif rng.random() < 0.25:
            # timestamp/guid first keys are "perfect" sorts: no sort
            # context, iterator cursors, backward (~) freezes for the
            # descending keys (graphd_sort_needed; probed round 5).
            # NEVER combine a descending key with a value range — the
            # reference binary asserts out (graphd-iterator-and.c:1558
            # direction mismatch); these shapes carry no ranges.
            srt = "sort=" + rng.choice(
                ["(timestamp)", "(-timestamp)", "(guid)", "(-guid)",
                 "(timestamp guid)", "(-timestamp value)"]
            ) + " "
        reads.append(
            f"read {asof}(pagesize={ps} {srt}"
            f"result=(cursor (guid value)) {body})"
        )
    return reads


def gen_sortcursor_reads(rng: random.Random, burst=None) -> list[str]:
    """Sorted-page cursor chains: randomized sort keys x comparators x
    page sizes over cursor-safe constraint shapes.  Targets the sort:
    total-order serializer (compiler.sort_cursor_string) with value/
    name first keys, and the perfect-sort iterator forms (incl. the
    backward ``~`` freezes) with timestamp/guid first keys.  Value
    ranges stay out of these shapes: the reference binary asserts out
    on descending-direction and-iterators over vrange members
    (graphd-iterator-and.c:1558)."""
    if burst is not None and (
        burst[0] is None or isinstance(burst[0], tuple)
    ):
        burst = burst[0]  # (link_burst, thaw_name) envelope
    reads = []
    for i in range(rng.randrange(2, 5)):
        body = _gen_cursor_constraint(rng)
        if i == 0 and burst is not None:
            # aim the first read at the burst's expansion so the
            # masqueraded fixed-isa freezes chain under sorts
            arrow, v = burst
            body = f"({arrow} value={_q(v)})"
        keys = rng.sample(
            ["value", "-value", "name", "-name", "timestamp",
             "-timestamp", "guid", "-guid"],
            rng.randrange(1, 3),
        )
        srt = "sort=(" + " ".join(keys) + ")"
        comp = ""
        if rng.random() < 0.4:
            comp = " sort-comparator=" + rng.choice(
                ['"number"', '"octet"', '"case"', '"datetime"']
            )
        # round 6: tight pages for EVERY first-key kind — the engine
        # now models the reference's bounded incremental sorter
        # (graphd_spark/sortsim.py: 2P candidate array, median
        # prefilter with inverted null polarity, cursor grid), so the
        # value/name null-truncation shapes that seed 101 exposed
        # chain tight instead of paging wide
        ps = rng.randrange(1, 4)
        reads.append(
            f"read (pagesize={ps} {srt}{comp} "
            f"result=(cursor (guid value)) {body})"
        )
    return reads


@pytest.mark.parametrize("seed", SEEDS)
def test_differential_cursors(spark, ref_bin, seed):
    """Page every cursored read to exhaustion in both engines."""
    import re as _re

    rng = random.Random(10_000 + seed)
    lines, burst = gen_cursor_writes(rng)
    reads = gen_cursor_reads(rng, burst)
    all_lines = lines + reads

    def paginate(ask):
        out = []
        for read in reads:
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 5:
                m = _re.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(
                    read.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor',
                        1,
                    )
                )
                out.append(reply)
                hops += 1
        return out

    # reference session
    import select

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            bufsize=1,
            cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            ref_writes = [ask_ref(ln) for ln in lines]
            ref_pages = paginate(ask_ref)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    # engine session
    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    got_writes = [gs.request(ln) for ln in lines]
    got_pages = paginate(gs.request)

    assert got_writes == ref_writes
    assert got_pages == ref_pages, "\n".join(
        ["script:"] + all_lines + ["--- page diff ---"] + [
            f"  got: {g}\n  exp: {w}"
            for g, w in zip(got_pages, ref_pages)
            if g != w
        ] + [f"(pages: got {len(got_pages)}, exp {len(ref_pages)})"]
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_differential(spark, ref_bin, seed):
    lines = gen_script(seed)
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        ["script:"] + lines + ["--- diff ---"] + [
            f"  got: {g}\n  exp: {w}"
            for g, w in zip(got, want)
            if g != w
        ] + [f"(lines: got {len(got)}, want {len(want)})"]
    )


# -- unique= / key= / anchor write fuzzing ----------------------------------


def _gen_adv_write(rng: random.Random) -> str:
    """Writes through the idempotency pipeline: unique= (fail on
    duplicate), key= (version the matched primitive), anchor
    (match-or-create) — the graphd-write.c surface the plain write
    generator never touches (ref test/unit/unique*.sh keyburn*.sh
    anchor*.sh)."""
    val, nm = rng.choice(_VALUES), rng.choice(_NAMES)
    r = rng.random()
    if r < 0.35:
        fields = rng.choice(["(value)", "(name)", "(name value)"])
        body = f"value={_q(val)} name={_q(nm)} unique={fields}"
        if rng.random() < 0.5:
            arrow = rng.choice(["<-left", "<-right"])
            sub = f"value={_q(rng.choice(_VALUES))}"
            if rng.random() < 0.5:
                lkw = arrow[2:]
                sub += " unique=" + rng.choice(
                    ["(value)", f"(value {lkw})"]
                )
            body += f" ({arrow} {sub})"
        return f"write ({body})"
    if r < 0.7:
        if rng.random() < 0.3:
            # iam direction: the parent holds the pointer, so the
            # connection is keyed via the PARENT's key (keyburn2)
            lkw = rng.choice(["left", "right"])
            pfields = rng.choice(
                [f"(name {lkw})", f"(value {lkw})", "(name)", "(value)"]
            )
            sub = f"value={_q(rng.choice(_VALUES))}"
            if rng.random() < 0.5:
                sub += " key=" + rng.choice(["(value)", "(name value)"])
            return (
                f"write (value={_q(val)} name={_q(nm)} key={pfields} "
                f"{lkw}->({sub}))"
            )
        if rng.random() < 0.15:
            # typeguid in the key, satisfied via a type= string
            return (
                f"write (value={_q(val)} type={_q(rng.choice(_TYPES))} "
                "key=(value typeguid))"
            )
        fields = rng.choice(["(value)", "(name)", "(name value)"])
        body = f"value={_q(val)} name={_q(nm)} key={fields}"
        if rng.random() < 0.5:
            arrow = rng.choice(["<-left", "<-right"])
            sub = f"value={_q(rng.choice(_VALUES))}"
            if rng.random() < 0.7:
                lkw = arrow[2:]
                skey = rng.choice(
                    ["(value)", "(value)", f"(value {lkw})", "()"]
                )
                sub += f" key={skey}"
            body += f" ({arrow} {sub})"
        return f"write ({body})"
    if r < 0.85:
        if rng.random() < 0.3:
            return f"write (anchor value={_q(val)} name={_q(nm)})"
        if rng.random() < 0.3:
            arrow = rng.choice(["<-left", "<-right"])
            return (
                f"write (value={_q(val)} "
                f"({arrow} anchor value={_q(rng.choice(_VALUES))}))"
            )
        return f"write (anchor value={_q(val)})"
    return (
        f"write (value={_q(val)} "
        f"typeguid->(anchor value={_q(rng.choice(_VALUES))}))"
    )


#: predictable-mode guids of the script's first two primitives (the
#: plain-write prologue guarantees they exist; ref keyburn5/keyburn6
#: pin key semantics against literal guids this way)
_G0 = "00000012400034568000000000000000"
_G1 = "00000012400034568000000000000001"

#: deterministic write timestamps (predictable mode steps
#: 1970-01-01T00:00:00.NNNN per primitive, so explicit stamps in key
#: fields reproduce bit-for-bit)
_TS_LITS = [
    "1970-01-01T00:00:00.0003Z",
    "1970-01-01T00:00:00.0007Z",
]


def _gen_keytree_write(rng: random.Random) -> str:
    """Multi-level keyed clusters and tag-field keys — the
    keyburn3..6 surface (doc/gr-protocol.txt:744-813): nested key=
    trees (keyed child with keyed grandchild), timestamp / datatype
    tag fields in key=/unique= (present AND missing — the missing-
    field SEMANTICS error is itself a parity probe), guid~= version
    chaining combined with key=, and meta-arrow linkage keys over
    literal guids."""
    val, nm = rng.choice(_VALUES), rng.choice(_NAMES)
    r = rng.random()
    if r < 0.3:
        # timestamp / datatype tag fields
        kw = rng.choice(["key", "unique"])
        fields = rng.choice(
            [
                "(value timestamp)",
                "(timestamp)",
                "(value datatype)",
                "(datatype)",
                "(value timestamp datatype)",
            ]
        )
        body = f"value={_q(val)} {kw}={fields}"
        if "timestamp" in fields and rng.random() < 0.8:
            body += f" timestamp={rng.choice(_TS_LITS)}"
        if "datatype" in fields and rng.random() < 0.8:
            body += f" valuetype={rng.choice([2, 3])}"
        return f"write ({body})"
    if r < 0.6:
        # nested keyed cluster: keyed parent -> keyed child -> keyed
        # grandchild (all-or-nothing cluster algebra across levels)
        a2 = rng.choice(["<-left", "<-right"])
        g = f"value={_q(rng.choice(_VALUES))} key=(value)"
        skey = rng.choice(["(value)", f"(value {a2[2:]})", "()"])
        s = f"value={_q(rng.choice(_VALUES))} key={skey} ({a2} {g})"
        a1 = rng.choice(["<-left", "<-right"])
        pkey = rng.choice(["(value)", "(name value)", "()"])
        return (
            f"write (value={_q(val)} name={_q(nm)} key={pkey} "
            f"({a1} {s}))"
        )
    if r < 0.8:
        # keyburn5: guid~= version chaining x key= combinations
        pre = f"value={_q(val)}"
        if rng.random() < 0.5:
            pre += f" guid~={_G0}"
        if rng.random() < 0.7:
            pre += " key=(value)"
        return f"write ({pre})"
    # keyburn6: meta-arrow link keyed on its linkage fields
    return (
        f"write (node key=() (-> key=(left right typeguid value) "
        f"typeguid={_G1} value={_q(val)} right={_G0}))"
    )


def gen_write_script(seed: int) -> list[str]:
    rng = random.Random(50_000 + seed)
    lines = [_gen_write(rng) for _ in range(rng.randrange(2, 6))]
    for _ in range(rng.randrange(5, 11)):
        lines.append(
            _gen_keytree_write(rng)
            if rng.random() < 0.35
            else _gen_adv_write(rng)
        )
        if rng.random() < 0.4:
            lines.append(f"read ({_gen_constraint(rng)})")
    lines += [
        'read (live=dontcare newest>=0 pagesize=60 '
        "result=((guid value name live generation)))"
    ]
    return lines


@pytest.mark.parametrize("seed", SEEDS[:12])
def test_differential_writes(spark, ref_bin, seed):
    lines = gen_write_script(seed)
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        ["script:"] + lines + ["--- diff ---"] + [
            f"  got: {g}\n  exp: {w}"
            for g, w in zip(got, want)
            if g != w
        ] + [f"(lines: got {len(got)}, want {len(want)})"]
    )


# -- branch-form or-chain fuzzing ------------------------------------------


def _gen_or_read(rng: random.Random) -> str:
    """Branch-form or-chains (``{A} | {B}``), optionally with linkage
    subconstraints, sub modifiers, and ``$var`` bindings inside the
    branches — the per-branch flag / first-match-binding surface
    (graphd-read-or.c; _apply_or_chain and the fast path's
    _eval_or_chain) that the plain script generator never emits."""
    parts = []
    if rng.random() < 0.35:
        parts.append(f"name={_q(rng.choice(_NAMES))}")
    bind = rng.random() < 0.6
    bound = False
    branches = []
    for _bi in range(2 if rng.random() < 0.8 else 3):
        bp = []
        pure_chain = False
        r2 = rng.random()
        if r2 < 0.45:
            bp.append(f"value={_q(rng.choice(_VALUES))}")
        elif r2 < 0.65:
            bp.append(f"name={_q(rng.choice(_NAMES))}")
        elif r2 < 0.8:
            bp.append("value~=" + _q(rng.choice(["a*", "b*", "1*"])))
        elif r2 < 0.88:
            # NESTED chain inside the branch: intrinsic branches fold
            # as a recursive disjunction (round 7); SUB-BEARING inner
            # branches splice into the enclosing chain via the
            # parse-level flatten when bare (round 8) and run the
            # recursive first-match machinery when the branch
            # conjoins the chain with its own clauses (round 9,
            # readplan.bind_plan's first-match table — the family rounds
            # 7-8 refused).  pure_chain now only guards a MINORITY of
            # emissions so the conjoined shapes fuzz too.
            pure_chain = rng.random() < 0.4
            r3 = rng.random()
            if r3 < 0.45:
                arrow2 = rng.choice(["<-left", "<-right"])
                isub = f"({arrow2} value={_q(rng.choice(_VALUES))}"
                if rng.random() < 0.3:
                    isub += " result=((value))"
                elif bind and rng.random() < 0.25:
                    isub += " $t=value"
                    bound = True
                isub += ")"
                ijoin = " || " if rng.random() < 0.25 else " | "
                ialt = (
                    f"value={_q(rng.choice(_VALUES))}"
                    if rng.random() < 0.6
                    else f"(<-left name={_q(rng.choice(_NAMES))})"
                )
                bp.append(f"{{ {isub}{ijoin}{ialt} }}")
            elif r3 < 0.6:
                # depth-3: chain inside chain inside branch (inner
                # levels may carry subs since round 9)
                inner2 = (
                    f"(<-right value={_q(rng.choice(_VALUES))})"
                    if rng.random() < 0.4
                    else f"value={_q(rng.choice(_VALUES))}"
                )
                bp.append(
                    f"{{ {{ {inner2} | "
                    f"name={_q(rng.choice(_NAMES))} }} | "
                    f"value={_q(rng.choice(_VALUES))} }}"
                )
            else:
                bp.append(
                    f"{{ value={_q(rng.choice(_VALUES))} | "
                    f"name={_q(rng.choice(_NAMES))} }}"
                )
        elif r2 < 0.94:
            # partial-precision timestamp predicates exercise the
            # exact envelope fold (round 7: clause_merge_timestamp)
            bp.append("timestamp" + rng.choice(
                [">1970", ">=1970", "<1971", "!=1970",
                 "<=1970-01-01T00:00:00.0005"]
            ))
        if rng.random() < 0.55 and not pure_chain:
            sub = rng.choice(
                [
                    f"value={_q(rng.choice(_VALUES))}",
                    f"type={_q(rng.choice(_TYPES))}",
                    f"name={_q(rng.choice(_NAMES))}",
                ]
            )
            if rng.random() < 0.2:
                # or-chain INSIDE the subconstraint
                sub += (
                    f" {{value={_q(rng.choice(_VALUES))}}}"
                    f" | {{name={_q(rng.choice(_NAMES))}}}"
                )
            arrow = rng.choice(["<-left", "<-right", "left->", "right->"])
            svar = ""
            if bind and rng.random() < 0.5:
                svar = " $t=" + rng.choice(["value", "guid"])
                bound = True
            mod = (
                rng.choice(["", "optional ", "count=0 ", "atleast=2 "])
                if not svar
                else ""
            )
            if rng.random() < 0.25:
                mod += f"pagesize={rng.randrange(1, 4)} "
            if rng.random() < 0.3:
                mod += 'result=((value)) '
            if arrow.startswith("<-"):
                bp.append(f"({arrow} {mod}{sub}{svar})")
            else:
                bp.append(f"{arrow}({mod}{sub}{svar})")
        if bind and rng.random() < 0.5 and not pure_chain:
            bp.append("$t=" + rng.choice(["value", "name"]))
            bound = True
        if not bp:
            bp.append(f"value!={_q(rng.choice(_VALUES))}")
        branches.append("{" + " ".join(bp) + "}")
    joiner = " || " if rng.random() < 0.25 else " | "
    parts.append(joiner.join(branches))
    sorted_read = False
    if bound and rng.random() < 0.3:
        # sorted reads page wide (see gen_script's countlimit note)
        parts.append("sort=" + rng.choice(["$t", "-$t"]))
        parts.append("pagesize=40")
        sorted_read = True
    if not sorted_read and rng.random() < 0.5:
        parts.append(f"pagesize={rng.randrange(1, 6)}")
    if bound:
        res = rng.choice(["((value $t))", "((guid $t))", "(($t) count)"])
    else:
        res = rng.choice(
            [
                "((guid value))",
                "((value name))",
                "(count)",
                "((value contents))",
            ]
        )
    parts.append(f"result={res}")
    return f"read ({' '.join(parts)})"


def gen_or_script(seed: int) -> list[str]:
    rng = random.Random(40_000 + seed)
    lines = [_gen_write(rng) for _ in range(rng.randrange(4, 10))]
    lines += [_gen_or_read(rng) for _ in range(rng.randrange(4, 9))]
    return lines


@pytest.mark.parametrize("seed", SEEDS[:12])
def test_differential_or_chains(spark, ref_bin, seed):
    lines = gen_or_script(seed)
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        ["script:"] + lines + ["--- diff ---"] + [
            f"  got: {g}\n  exp: {w}"
            for g, w in zip(got, want)
            if g != w
        ] + [f"(lines: got {len(got)}, want {len(want)})"]
    )


# -- versioning / time-travel fuzzing --------------------------------------


def gen_version_script(seed: int) -> list[str]:
    """Two-phase script: base writes run once through the REFERENCE to
    learn the guids it assigns (write allocation order is part of the
    protocol; our engine reproduces it, the goldens prove that), then
    versioning writes (guid= pessimistic / guid~= opportunistic),
    tombstone deletes (live=false), and reads that exercise lineage
    semantics: newest/oldest bounds, prev=, guid~=, live=dontcare,
    and asof= time travel over the predictable timestamp sequence."""
    rng = random.Random(40_000 + seed)
    base = [_gen_write(rng) for _ in range(rng.randrange(3, 7))]
    replies = run_reference(base)
    guids = []
    for rep in replies:
        guids.extend(
            g for g in __import__("re").findall(r"\b([0-9a-f]{32})\b", rep)
        )
    if not guids:
        return base
    lines = list(base)
    versioned: list[str] = []
    for _ in range(rng.randrange(2, 6)):
        g = rng.choice(guids)
        op = rng.random()
        if op < 0.5:
            lines.append(
                f"write (guid~={g} value={_q(rng.choice(_VALUES))})"
            )
            versioned.append(g)
        elif op < 0.75:
            lines.append(f"write (guid~={g} live=false)")
            versioned.append(g)
        else:
            nm = rng.choice(_NAMES)
            lines.append(
                f"write (guid~={g} name={_q(nm)} "
                f"value={_q(rng.choice(_VALUES))})"
            )
            versioned.append(g)
    for _ in range(rng.randrange(3, 8)):
        r = rng.random()
        if r < 0.25 and versioned:
            g = rng.choice(versioned)
            lines.append(
                "read (guid~=" + g + " newest>=0 oldest<=9 "
                "live=dontcare result=((guid value live)))"
            )
        elif r < 0.4 and versioned:
            g = rng.choice(versioned)
            lines.append(f"read (prev={g} result=((guid value)))")
        elif r < 0.55:
            ts = f"1970-01-01T00:00:00.{rng.randrange(5, 40):04d}"
            lines.append(
                f"read asof={ts} (value!=null pagesize=40 "
                "result=((guid value)))"
            )
        elif r < 0.7:
            lines.append(
                "read (live=dontcare newest=0 value="
                + _q(rng.choice(_VALUES))
                + " result=((guid value live)))"
            )
        else:
            lines.append(
                f"read ({_gen_constraint(rng)})"
            )
    return lines


@pytest.mark.parametrize("seed", SEEDS)
def test_differential_versions(spark, ref_bin, seed):
    lines = gen_version_script(seed)
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        ["script:"] + lines + ["--- diff ---"] + [
            f"  got: {g}\n  exp: {w}"
            for g, w in zip(got, want)
            if g != w
        ] + [f"(lines: got {len(got)}, want {len(want)})"]
    )


# -- dump/restore round-trip campaign -------------------------------------
#
# VERDICT r3 item 8: random writes -> dump -> restore into a FRESH
# store -> identical reads both sides, against the reference binary.
# Three comparisons per seed: (1) the dump payload is byte-identical,
# (2) reference-restore-of-reference-dump and engine-restore-of-
# engine-dump answer the reads identically, (3) cross-compatibility —
# this engine restores the REFERENCE's dump and still answers the
# same (dump format is an interchange format, not an opaque blob).


def gen_roundtrip(seed: int) -> tuple[list[str], list[str]]:
    """(writes, reads) for a dump/restore round-trip seed.  Odd seeds
    reuse the version-script generator so the dump carries prev-chains
    and tombstones and the reads exercise lineage + asof semantics."""
    if seed % 2 == 1:
        lines = gen_version_script(70_000 + seed)
        writes = [ln for ln in lines if ln.startswith("write")]
        reads = [ln for ln in lines if ln.startswith("read")]
        if not reads:
            reads = ["read (any result=((guid value)))"]
        return writes, reads
    rng = random.Random(70_000 + seed)
    writes = [_gen_write(rng) for _ in range(rng.randrange(4, 10))]
    reads = [
        f"read ({_gen_constraint(rng)})"
        for _ in range(rng.randrange(3, 7))
    ]
    reads.append("read (any pagesize=64 result=((guid name value live)))")
    return writes, reads


def _restore_request(dump_reply: str) -> str:
    assert dump_reply.startswith("ok ("), dump_reply
    return "restore " + dump_reply[3:].strip()


def run_roundtrip_reference(
    writes: list[str], reads: list[str]
) -> tuple[str, list[str]]:
    out1 = run_reference(writes + ["dump ()"])
    payload = out1[-1]
    out2 = run_reference([_restore_request(payload)] + reads)
    return payload, out2


def run_roundtrip_engine(
    spark, writes: list[str], reads: list[str],
    payload_override: str | None = None,
) -> tuple[str, list[str]]:
    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    for w in writes:
        gs.request(w)
    payload = gs.request("dump ()")
    gs2 = GraphSession(spark)
    replies = [gs2.request(_restore_request(payload_override or payload))]
    replies += [gs2.request(rd) for rd in reads]
    return payload, replies


def check_roundtrip_seed(spark, seed: int) -> list[str]:
    """Returns a list of divergence descriptions (empty = parity)."""
    writes, reads = gen_roundtrip(seed)
    ref_payload, ref_out = run_roundtrip_reference(writes, reads)
    got_payload, got_out = run_roundtrip_engine(spark, writes, reads)
    problems = []
    if got_payload != ref_payload:
        problems.append(
            f"dump payload differs:\n  got: {got_payload}\n"
            f"  exp: {ref_payload}"
        )
    if got_out != ref_out:
        problems.extend(
            f"post-restore reply differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got_out, ref_out) if g != w
        )
    # cross-restore: our engine consumes the reference's dump
    _, cross_out = run_roundtrip_engine(
        spark, [], reads, payload_override=ref_payload
    )
    if cross_out != ref_out:
        problems.extend(
            f"cross-restore reply differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(cross_out, ref_out) if g != w
        )
    return problems


@pytest.mark.parametrize("seed", list(range(8)))
def test_differential_roundtrip(spark, ref_bin, seed):
    problems = check_roundtrip_seed(spark, seed)
    assert not problems, "\n".join(problems)


# -- replica catch-up campaign --------------------------------------------
#
# Engine-only (the reference's replica protocol needs TCP daemons —
# the same server-ops surface as the 10 uncovered goldens): a master
# takes writes, a replica catches up via the replica-write feed
# (including an overlapping resend from a random horizon, which must
# verify-and-skip), then both answer a random read set identically.


def check_replica_seed(spark, seed: int) -> list[str]:
    from graphd_spark.api import GraphSession

    rng = random.Random(80_000 + seed)
    writes1 = [_gen_write(rng) for _ in range(rng.randrange(3, 8))]
    writes2 = [_gen_write(rng) for _ in range(rng.randrange(2, 6))]
    reads = [
        f"read ({_gen_constraint(rng)})"
        for _ in range(rng.randrange(3, 6))
    ]
    reads.append("read (any pagesize=64 result=((guid name value)))")

    master = GraphSession(spark)
    for w in writes1:
        master.request(w)
    problems = []
    r = master.request("replica (version=1 start-id=0)")
    if not r.startswith("rok"):
        problems.append(f"replica announce failed: {r}")
    replica = GraphSession(spark)
    for line in master.replica_feed(0):
        rr = replica.request(line)
        if rr != "ok":
            problems.append(f"catch-up write failed: {rr}")
    # master advances; replica resumes from a random horizon at or
    # below its own count (overlap = verify-and-skip)
    for w in writes2:
        master.request(w)
    h = rng.randrange(0, replica.store.next_id + 1)
    for line in master.replica_feed(h):
        rr = replica.request(line)
        if rr != "ok":
            problems.append(f"incremental catch-up failed: {rr}")
    for rd in reads:
        g, w = replica.request(rd), master.request(rd)
        if g != w:
            problems.append(
                f"replica read differs for {rd}:\n  got: {g}\n  exp: {w}"
            )
    # REPLICA-RESUMED cursors (round 8): a chain frozen on the master
    # thaws on the replica and vice versa — the signed envelope only
    # covers the constraint and store horizon, both identical after
    # catch-up, so ALTERNATING pages must replay the master-only
    # chain byte-for-byte
    import re as _re2

    cur_reads = [
        "read (pagesize=2 result=(cursor (guid value)) "
        + f"({_gen_constraint(rng)}))"
        for _ in range(2)
    ]
    cur_reads.append(
        'read (pagesize=2 sort=(value) result=(cursor (guid value)) '
        "(any))"
    )
    for rd in cur_reads:
        def chain(ask_seq):
            out, reply, hops = [], ask_seq[0](rd), 0
            out.append(reply)
            while hops < 5:
                m = _re2.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask_seq[(hops + 1) % len(ask_seq)](
                    rd.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor', 1,
                    )
                )
                out.append(reply)
                hops += 1
            return out

        solo = chain([master.request])
        alt = chain([master.request, replica.request])
        if solo != alt:
            problems.extend(
                f"replica-resumed page differs for {rd}:\n"
                f"  alternating: {g}\n  master-only: {w}"
                for g, w in zip(alt, solo) if g != w
            )
    return problems


@pytest.mark.parametrize("seed", list(range(8)))
def test_differential_replica(spark, seed):
    problems = check_replica_seed(spark, seed)
    assert not problems, "\n".join(problems)


# -- write-interleaved cursor chains (round 8) -----------------------------
#
# A write lands BETWEEN cursor pages in BOTH live sessions (identical
# schedule), probing what a paging client sees when the store grows
# under its feet: frozen horizons ([n:] pins mid-chain appends out of
# a running chain), iterator positions over indexes that gained
# elements, sorted-grid boundary keys against new candidates, and the
# engine's eval-cache invalidation on store growth.


def gen_interleave_writes(rng: random.Random, burst, n: int) -> list[str]:
    """Writes aimed at the same value/name pools the chain constraints
    select on, so appends actually intersect live chains: growing the
    link burst's masqueraded expansion, the sorted-thaw cluster, the
    nested cluster, or the plain value/name indexes."""
    link_burst = thaw_name = nest = None
    if burst is not None:
        link_burst, thaw_name, nest = burst
    out = []
    for _ in range(n):
        r = rng.random()
        if link_burst is not None and r < 0.3:
            arrow, v = link_burst
            out.append(
                f"write (value={_q(rng.choice(_VALUES))} "
                f"({arrow} value={_q(v)}))"
            )
        elif thaw_name is not None and r < 0.55:
            kids = "".join(
                f" (<-left value={_q(rng.choice(_VALUES))})"
                for _ in range(rng.randrange(1, 4))
            )
            out.append(
                f"write (name={_q(thaw_name)} "
                f"value={_q(rng.choice(_VALUES))}{kids})"
            )
        elif nest is not None and r < 0.7:
            nname, _deep = nest
            kids = "".join(
                f" (<-left value={_q(rng.choice(_VALUES))})"
                for _ in range(rng.randrange(1, 3))
            )
            out.append(
                f'write (value="{nname}gp{rng.randrange(2)}" '
                f"(<-left name={_q(nname)} "
                f"value={_q(rng.choice(_VALUES))}{kids}))"
            )
        else:
            out.append(_gen_write(rng))
    return out


def check_writepaged_seed(spark, seed: int) -> list[str]:
    """Returns a list of divergence descriptions (empty = parity)."""
    import re as _re
    import select
    import subprocess
    import tempfile

    rng = random.Random(30_000 + seed)
    lines, burst = gen_cursor_writes(rng)
    reads = gen_cursor_reads(rng, burst)
    # fixed schedule, drawn once: an optional write before each
    # (read, hop) resume — both sessions replay it identically
    pool = gen_interleave_writes(rng, burst, n=len(reads) * 5)
    sched = {}
    k = 0
    for i in range(len(reads)):
        for hop in range(5):
            if rng.random() < 0.55:
                sched[(i, hop)] = pool[k]
            k += 1

    def paginate(ask):
        out = []
        for i, read in enumerate(reads):
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 5:
                m = _re.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                w = sched.get((i, hops))
                if w is not None:
                    out.append(ask(w))
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(
                    read.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor',
                        1,
                    )
                )
                out.append(reply)
                hops += 1
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [REF_BIN, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            ref_writes = [ask_ref(ln) for ln in lines]
            ref_pages = paginate(ask_ref)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    got_writes = [gs.request(ln) for ln in lines]
    got_pages = paginate(gs.request)
    problems = []
    if got_writes != ref_writes:
        problems.extend(
            f"prologue write differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got_writes, ref_writes) if g != w
        )
    if got_pages != ref_pages:
        problems.append("script:\n  " + "\n  ".join(lines + reads))
        problems.extend(
            f"interleaved page differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got_pages, ref_pages) if g != w
        )
        if len(got_pages) != len(ref_pages):
            problems.append(
                f"(pages: got {len(got_pages)}, exp {len(ref_pages)})"
            )
    return problems


@pytest.mark.parametrize("seed", list(range(8)))
def test_differential_writepaged(spark, ref_bin, seed):
    problems = check_writepaged_seed(spark, seed)
    assert not problems, "\n".join(problems)


def check_writeasof_seed(spark, seed: int) -> list[str]:
    """Round-9 novelty dimension: asof'd cursor chains over a store
    that GROWS past the asof horizon mid-chain.  asof= pins the whole
    chain to the store state at the horizon (asof'd cursor envelopes
    omit [n:] — the asof IS the horizon), so interleaved writes,
    version bumps, and tombstones landing between pages must stay
    invisible to every later page, while the writes themselves
    succeed and allocate identical ids in both sessions."""
    import re as _re
    import select
    import subprocess
    import tempfile

    rng = random.Random(80_000 + seed)
    lines, burst = gen_cursor_writes(rng)
    reads0 = gen_cursor_reads(rng, burst)
    pool = gen_interleave_writes(rng, burst, n=len(reads0) * 5)
    sched = {}
    k = 0
    for i in range(len(reads0)):
        for hop in range(5):
            if rng.random() < 0.65:
                sched[(i, hop)] = pool[k]
            k += 1

    def paginate(ask, reads):
        out = []
        for i, read in enumerate(reads):
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 5:
                m = _re.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                w = sched.get((i, hops))
                if w is not None:
                    out.append(ask(w))
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(
                    read.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor',
                        1,
                    )
                )
                out.append(reply)
                hops += 1
        return out

    def asof_reads(writes_replies):
        # predictable mode: primitive id i carries timestamp
        # 1970-01-01T00:00:00.{i+1:04d} — an asof at the LAST
        # prologue id covers the prologue exactly and puts every
        # interleaved write past the horizon
        nids = sum(
            len(_re.findall(r"[0-9a-f]{32}", r))
            for r in writes_replies
        )
        ts = f"1970-01-01T00:00:00.{max(nids, 1):04d}"
        return [
            r if "asof=" in r
            else r.replace("read (", f"read (asof={ts} ", 1)
            for r in reads0
        ]

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [REF_BIN, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            ref_writes = [ask_ref(ln) for ln in lines]
            reads = asof_reads(ref_writes)
            ref_pages = paginate(ask_ref, reads)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    got_writes = [gs.request(ln) for ln in lines]
    got_pages = paginate(gs.request, reads)
    problems = []
    if got_writes != ref_writes:
        problems.extend(
            f"prologue write differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got_writes, ref_writes) if g != w
        )
    if got_pages != ref_pages:
        problems.append("script:\n  " + "\n  ".join(lines + reads))
        problems.extend(
            f"asof page differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got_pages, ref_pages) if g != w
        )
        if len(got_pages) != len(ref_pages):
            problems.append(
                f"(pages: got {len(got_pages)}, exp {len(ref_pages)})"
            )
    return problems


@pytest.mark.parametrize("seed", list(range(8)))
def test_differential_writeasof(spark, ref_bin, seed):
    problems = check_writeasof_seed(spark, seed)
    assert not problems, "\n".join(p[:500] for p in problems)


#: directed probes for the resumed UNSORTED or-branch sub cursor
#: model (round 9; fastread._cursub_pass1/_cursub_finalize): the
#: request-shared per-constraint 5-slot bad-id ring is poisoned by
#: every evaluated parent's branch check over the thawed set — the
#: pinned parent's chain can end a page early, a parent evaluated
#: FIRST can make a later pinned parent vanish, and an explicit
#: count>= at or below [o:] defers instantly, winning the branch
#:  with an empty ("null:") slot.  Each case pages to exhaustion
#: against the live reference binary.
_CURSUB_RING_CASES = [
    # (writes, read) — q1: sibling parent's drain poisons the ring
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3") (<-left value="k4"))',
      'write (name="p" value="C")'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '| value="C" })'),
    # C-first: the earlier parent drains before the pinned one runs
    (['write (name="p" value="C")',
      'write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3") (<-left value="k4"))'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '| value="C" })'),
    # explicit count>= <= [o:]: instant defer, ("null:") empty slot
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3") (<-left value="k4") (<-left value="k5"))',
      'write (name="p" value="C")'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" count>=2 pagesize=2 '
     'result=(cursor (guid value))) | value="C" })'),
    # no sibling candidacy: full-length chain, ring untouched
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3") (<-left value="k4"))',
      'write (name="p" value="C")'],
     'read (name="p" value="A" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '| value="zz" })'),
    # two parents matching the cursored branch: thaw pins to one
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3"))',
      'write (name="p" value="B" (<-left value="k4") (<-left value="k5")'
      ' (<-left value="k6"))'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '| value="zz" })'),
    # sibling matches the cursored branch too (own child): drains
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3"))',
      'write (name="p" value="C" (<-left value="k9"))'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '| value="C" })'),
    # || short-circuit variant
    (['write (name="p" value="A" (<-left value="k1") (<-left value="k2")'
      ' (<-left value="k3") (<-left value="k4"))',
      'write (name="p" value="C")'],
     'read (name="p" pagesize=4 result=((value contents)) '
     '{ (<-left value~="k*" pagesize=1 result=(cursor (guid value))) '
     '|| value="C" })'),
    # or-union root freeze: iterator-level bin/linksto union
    # (seeds 4160/4209 class — acceptance-rejected ids included)
    (['write (name="q" value="b" (<-right name="color" value="w1"))',
      'write (name="q" value="Apple")',
      'write (name="q" value="apple")',
      'write (value="b")',
      'write (value="+12")'],
     'read (pagesize=1 result=(cursor (guid value)) '
     '{ { (<-right name="color") | value="b" } | value="Apple" })'),
    # unused-result removal in the cursor SIGNATURE (seed 4323
    # class): an inner-branch cursor sub under a contents-LESS root
    # signs "result=()" + pagesize, not the cursor-bearing pattern
    # (gva_remove_unused_results runs before the signature)
    (['write (value="ax" (<-right name="label" value="w1")'
      ' (<-right name="label" value="w2"))',
      'write (value="aa")', 'write (value="+12")',
      'write (value="zz")'],
     'read (pagesize=1 result=(cursor (guid value)) '
     '{ { (<-right name="label" pagesize=1 '
     'result=(cursor (guid value))) | value="aa" } value~="a*" '
     '| value="+12" })'),
    # result-less sub under a CONTENTS root default-fills (signs
    # nothing), vs the "result=()" fallback under a plain root
    (['write (value="ax" (<-right name="label" value="w1")'
      ' (<-right name="label" value="w2"))',
      'write (value="aa")', 'write (value="+12")'],
     'read (pagesize=1 result=(cursor (guid value contents)) '
     '{ { (<-right name="label" pagesize=1) | value="aa" } '
     'value~="a*" | value="+12" })'),
    # depth-1 mixed branch (intrinsics + cursor sub) under contents
    (['write (value="ax" (<-right name="label" value="w1")'
      ' (<-right name="label" value="w2"))',
      'write (value="aa")', 'write (value="+12")'],
     'read (pagesize=1 result=(cursor (guid value contents)) '
     '{ (<-right name="label" pagesize=1 '
     'result=(cursor (guid value))) value~="a*" | value="+12" })'),
]


def test_ps0_checkcleared_refind(spark, ref_bin):
    """Cursor seed 4466, CLOSED round 9: pdb_iterator_check clears
    it_has_position (pdb.h:769), and a SINGLE-element thawed span
    under a SUB-SUB-bearing pagesize-0 probe gets checked against
    con_it — so the grsc's gmap clone RESETS to the span start
    (pdb-iterator-gmap.c:419-425) and the count-min probe re-finds
    the consumed element every page, [o:] growing with /pos/
    refrozen verbatim.  Probed discriminators: only sub-sub-bearing
    probes re-find (value!=, newest/oldest, prev=null, globs,
    equalities all end EMPTY like bare probes), and multi-element
    spans keep their position and drain to EMPTY.  Mirrored by
    FastReader._ps0_checkcleared_refind."""
    import re as _re

    writes = ['write (value="aa" (<-right value="kid"))',
              'write (value="ab")']
    rd = ('read (pagesize=2 value~="a*" result=((value contents)) '
          '(<-right (<-left count=0) pagesize=0 '
          'result=(cursor (guid value))))')

    def session(ask):
        out = [ask(w) for w in writes]
        reply = ask(rd)
        out.append(reply)
        hops = 0
        while hops < 3:
            m = _re.search(r'"(cursor:[^"]*)"', reply)
            if not m:
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = ask(rd.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1
            ))
            out.append(reply)
            hops += 1
        return out

    want = run_reference_session(session)
    from graphd_spark.api import GraphSession

    got = session(GraphSession(spark).request)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}" for g, w in zip(got, want) if g != w
    )


@pytest.mark.parametrize("case", range(len(_CURSUB_RING_CASES)))
def test_cursub_ring_model(spark, ref_bin, case):
    import re as _re

    writes, rd = _CURSUB_RING_CASES[case]

    def session(ask):
        out = [ask(w) for w in writes]
        reply = ask(rd)
        out.append(reply)
        hops = 0
        while hops < 8:
            m = _re.search(r'"((?:cursor|sort|position):[^"]*)"', reply)
            if not m or m.group(1) == "null:":
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = ask(rd.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1
            ))
            out.append(reply)
            hops += 1
        return out

    want = run_reference_session(session)
    from graphd_spark.api import GraphSession

    got = session(GraphSession(spark).request)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}" for g, w in zip(got, want) if g != w
    ) + f"\n(lines: got {len(got)}, exp {len(want)})"


# -- directed write-INTO-the-sorted-window chains (round 9) ----------------
#
# The seed-454 divergence class, generated on purpose instead of by
# accident: every interleaved write lands INSIDE a running chain's
# sorted window — hot-key child appends on the chain's own sort key
# (direct left= linkage to a delivered parent), tombstones of
# already-delivered parents and children (guid~= live=false), version
# bumps that move a row across the page boundary, and whole new
# top-level-matching parents (the exact seed-454 shape).  The frozen
# [n:H] horizon must pin ALL of it out of the running chain — the
# top-level page included — while the writes themselves succeed and
# the next uncursored read would see them.

_WINDOW_VALUES = ["apple", "Banana", "b", "cherry pie", "12", "zebra",
                  "aa", "ab", "x", "007"]
_WINDOW_SORTS = ["sort=name", "sort=value", "sort=(-value)",
                 "sort=(value -name)", "sort=(value guid)"]


def gen_writeinto_prologue(rng: random.Random):
    """Noise + a dense sorted cluster; returns
    (lines, pname, parent_slots) where parent_slots index the cluster
    parents' write lines (their replies carry parent + child guids)."""
    pname = "wnd" + str(rng.randrange(3))
    lines = [_gen_write(rng) for _ in range(rng.randrange(2, 6))]
    n_parents = rng.randrange(2, 5)
    first = len(lines)
    for _ in range(n_parents):
        kids = "".join(
            f" (<-left value={_q(rng.choice(_WINDOW_VALUES))})"
            for _ in range(rng.randrange(3, 7))
        )
        lines.append(
            f"write (name={_q(pname)} "
            f"value={_q(rng.choice(_WINDOW_VALUES))}{kids})"
        )
    return lines, pname, list(range(first, first + n_parents))


def _gen_window_action(rng: random.Random, pname: str, parent_slots):
    """One abstract mid-chain write, rendered per-session against the
    session's captured guids (identical across sessions — the write
    streams match)."""
    r = rng.random()
    pslot = rng.choice(parent_slots)
    v = rng.choice(_WINDOW_VALUES)
    if r < 0.3:
        # hot-key append: a new child of a DELIVERED parent, on the
        # chain's own sort key (the value pool the window sorts over)
        return ("append", pslot, v)
    if r < 0.45:
        return ("tomb_child", pslot, rng.randrange(6), None)
    if r < 0.6:
        # version bump moving a child across the sorted boundary
        return ("bump_child", pslot, rng.randrange(6), v)
    if r < 0.7:
        return ("tomb_parent", pslot, None, None)
    if r < 0.8:
        # bump the PARENT's sort key (top-level sorted chains)
        return ("bump_parent", pslot, None, v)
    # the seed-454 shape: a whole new top-level-matching parent
    kidvals = [rng.choice(_WINDOW_VALUES)
               for _ in range(rng.randrange(1, 4))]
    return ("new_parent", v, kidvals, None)


def check_writeinto_seed(spark, seed: int) -> list[str]:
    """Directed window-write chains; returns divergence descriptions."""
    import re as _re

    rng = random.Random(50_000 + seed)
    lines, pname, parent_slots = gen_writeinto_prologue(rng)
    reads = []
    for _ in range(rng.randrange(2, 4)):
        srt = rng.choice(_WINDOW_SORTS)
        ps = rng.randrange(1, 4)
        if rng.random() < 0.25:
            # TOP-level sorted chain over the cluster parents: parent
            # tombstones/bumps aim straight at its window
            reads.append(
                f"read (pagesize={ps} {srt} name={_q(pname)} "
                f"result=(cursor (guid value contents)) "
                f"(<-left result=((value))))"
            )
        else:
            reads.append(
                f"read (pagesize=2 name={_q(pname)} "
                f"result=((value contents)) "
                f"(<-left {srt} pagesize={ps} "
                f"result=(cursor (guid value))))"
            )
    sched = {}
    for i in range(len(reads)):
        for hop in range(6):
            if rng.random() < 0.8:
                sched[(i, hop)] = _gen_window_action(
                    rng, pname, parent_slots
                )

    def session(ask):
        out, guids = [], []
        for ln in lines:
            r = ask(ln)
            out.append(r)
            guids.append(_re.findall(r"[0-9a-f]{32}", r))

        def render(a):
            kind = a[0]
            if kind == "new_parent":
                kids = "".join(
                    f" (<-left value={_q(kv)})" for kv in a[2]
                )
                return (f"write (name={_q(pname)} "
                        f"value={_q(a[1])}{kids})")
            gl = guids[a[1]]
            if kind == "append":
                return f"write (value={_q(a[2])} left={gl[0]})"
            if kind == "tomb_parent":
                return f"write (guid~={gl[0]} live=false)"
            if kind == "bump_parent":
                return f"write (guid~={gl[0]} value={_q(a[3])})"
            cg = gl[1 + a[2] % max(1, len(gl) - 1)]
            if kind == "tomb_child":
                return f"write (guid~={cg} live=false)"
            return f"write (guid~={cg} value={_q(a[3])})"

        for i, read in enumerate(reads):
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 6:
                m = _re.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                a = sched.get((i, hops))
                if a is not None:
                    out.append(ask(render(a)))
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(
                    read.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor', 1,
                    )
                )
                out.append(reply)
                hops += 1
        return out

    want = run_reference_session(session)
    from graphd_spark.api import GraphSession

    got = session(GraphSession(spark).request)
    problems = []
    if got != want:
        problems.append("script:\n  " + "\n  ".join(lines + reads))
        problems.extend(
            f"window page differs:\n  got: {g}\n  exp: {w}"
            for g, w in zip(got, want) if g != w
        )
        if len(got) != len(want):
            problems.append(
                f"(lines: got {len(got)}, exp {len(want)})"
            )
    return problems


@pytest.mark.parametrize("seed", list(range(8)))
def test_differential_writeinto(spark, ref_bin, seed):
    problems = check_writeinto_seed(spark, seed)
    assert not problems, "\n".join(p[:500] for p in problems)


@pytest.mark.parametrize(
    "seed", [62, 71, 88, 123, 196, 224, 240, 242, 249, 253, 271, 301,
             454, 497]
)
def test_writeinto_vanished_boundary(spark, ref_bin, seed):
    """The 14 writeinto seeds the round-9 wide campaign caught, all
    one root cause: a sort cursor whose BOUNDARY element is
    tombstoned or versioned away between pages restarted at page 1
    (re-delivering everything) because the boundary lookup came back
    empty.  The reference repositions by COMPARING the frozen
    serialized sort keys (graphd-sort.c graphd_sort_cursor_set), so
    the element need not exist — fixed by reconstructing the key
    tuple from the cursor payload (sortsim.boundary_keys over
    freeze.frozen_sort_tuple, shared by both read paths) for the
    incremental sorter's grid and the key-offset resume."""
    problems = check_writeinto_seed(spark, seed)
    assert not problems, "\n".join(p[:500] for p in problems)


#: directed sub-cursor scenarios (round-6 probes): each is
#: (writes, reads); writes may reference {gN} = the first guid of the
#: N-th write/read reply, so versioning scripts stay id-stable.
_SUB_CURSOR_SCENARIOS = [
    # bare gmap freezes, multiple parents, thawed-gmap pinning
    (
        [
            'write (value="p%d" (<-left value="c%d1") '
            '(<-left value="c%d2") (<-left value="c%d3"))'
            % (i, i, i, i)
            for i in range(4)
        ],
        [
            'read (value="p1" result=((value contents)) '
            "(<-left pagesize=1 result=(cursor (value))))",
            'read (value="p2" result=((value contents)) '
            "(<-left pagesize=2 result=(cursor (value))))",
            "read (pagesize=2 result=((value contents)) "
            "(<-left pagesize=1 result=(cursor (value))))",
        ],
    ),
    # RAW producer positions: a versioned-away spoke stays in the
    # frozen gmap span and counts in /POS/; exhaustion drains the
    # lookahead (null: when only rejected raw elements remain)
    (
        [
            'write (value="p0" (<-left value="c01") '
            '(<-left value="c02") (<-left value="c03"))',
            'read (value="c01" result=((guid)))',
            'write (guid~={g1} value="c01v2" left=null)',
            'read (value="c03" result=((guid)))',
            'write (guid~={g3} value="c03v2" left=null)',
        ],
        [
            'read (value="p0" result=((value contents)) '
            "(<-left pagesize=1 result=(cursor (value))))",
        ],
    ),
    # fixed context = the iterator-level pre-evaluation over RAW
    # indexes: hmap-prefix members keep versioned-away ids, per
    # parent; value ranges and nested sub existence participate
    (
        [
            'write (value="p0" (<-left value="k1") (<-left value="x")'
            ' (<-left value="k2") (<-left value="k3"))',
            'read (value="k1" result=((guid)))',
            'write (guid~={g1} value="k1v2" left=null)',
            'write (value="p1" (<-left value="k4") '
            '(<-left value="k5"))',
        ],
        [
            'read (value="p0" result=((value contents)) '
            '(<-left value~="k*" pagesize=1 '
            "result=(cursor (value))))",
            'read (pagesize=2 result=((value contents)) value~="p*" '
            '(<-left value~="k*" pagesize=1 '
            "result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            '(<-left value<"k3" pagesize=1 '
            "result=(cursor (value))))",
        ],
    ),
    # nested sub existence folds into the pre-evaluated fixed set;
    # iam-side subs span one element per parent and freeze null:
    (
        [
            'write (value="p0" (<-left value="m1" '
            '(<-left value="n1")) (<-left value="m2") '
            '(<-left value="m3" (<-left value="n3")))',
            'write (value="l1" left->(value="t0"))',
            'write (value="l2" left->(value="t0"))',
        ],
        [
            'read (value="p0" result=((value contents)) '
            "(<-left pagesize=1 result=(cursor (value)) (<-left)))",
            'read (value="l1" result=((value contents)) '
            "left->(pagesize=1 result=(cursor (value))))",
            'read (pagesize=2 value~="l*" '
            "result=((value contents)) "
            "left->(pagesize=1 result=(cursor (value))))",
            # or-branch subs: the winning branch freezes its
            # per-parent iterator; losing branch slots render null
            'read (value="p0" result=((value contents)) '
            "{{ (<-left pagesize=1 result=(cursor (value))) | "
            "(<-right pagesize=1 result=(cursor (value))) }})",
            # pagesize=0 count-min probes: the freeze records the
            # first accepted element's raw producer position and the
            # chain ends in EMPTY once the probe finds nothing
            'read (value="p0" result=((value contents)) '
            "(<-left pagesize=0 result=(count cursor)))",
            'read (value="p0" result=((value contents)) '
            "(<-left sort=value pagesize=0 result=(cursor)))",
            'read (value="l1" result=((value contents)) '
            "left->(pagesize=0 result=(cursor (value))))",
        ],
    ),
    # typed subs freeze the (endpoint, typeguid) vip iterator with
    # the pre-evaluated fixed set nested; an extra indexed predicate
    # collapses it to a plain fixed
    (
        [
            'write (value="p0" (<-left value="t1" type="tt") '
            '(<-left value="u1" type="uu") '
            '(<-left value="t2" type="tt") '
            '(<-left value="t3" type="tt"))',
            'write (value="p1" (<-left value="t4" type="tt"))',
        ],
        [
            'read (value="p0" result=((value contents)) '
            '(<-left type="tt" pagesize=1 result=(cursor (value))))',
            'read (pagesize=2 result=((value contents)) value~="p*" '
            '(<-left type="tt" pagesize=1 result=(cursor (value))))',
            'read (value="p0" result=((value contents)) '
            '(<-left type="tt" value~="t*" pagesize=1 '
            "result=(cursor (value))))",
        ],
    ),
    # perfect-sorted subs (timestamp/guid first keys): ascending =
    # the plain iterator freezes, descending = the backward '~'
    # forms (gmap:~ / vip:~.../(fixed:~...) / fixed:~) with producer
    # positions counted from the top of the set
    (
        [
            'write (value="p0" (<-left value="cB") '
            '(<-left value="cA") (<-left value="cD") '
            '(<-left value="cC"))',
            'write (value="p1" (<-left value="t1" type="tt") '
            '(<-left value="t2" type="uu") '
            '(<-left value="t3" type="tt") '
            '(<-left value="t4" type="tt"))',
        ],
        [
            'read (value="p0" result=((value contents)) '
            "(<-left sort=timestamp pagesize=2 "
            "result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left sort=(-timestamp) pagesize=1 "
            "result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left sort=(-guid) pagesize=2 "
            "result=(cursor (value))))",
            'read (value="p1" result=((value contents)) '
            '(<-left type="tt" sort=(-timestamp) pagesize=1 '
            "result=(cursor (value))))",
            'read (value="p1" result=((value contents)) '
            '(<-left value~="t*" sort=(-timestamp) pagesize=2 '
            "result=(cursor (value))))",
        ],
    ),
    # value/name-sorted subs freeze per-parent sort: boundary-key
    # cursors replayed through the bounded incremental sorter (null
    # first keys truncate); a resumed read evaluating the thawed sub
    # under 2+ parents overrides the first parent's frozen cursor to
    # null: and runs later parents degraded (grid prefilter in
    # producer order, no sort)
    (
        [
            'write (value="p0" (<-left value="cD") '
            '(<-left value="cB") (<-left value="cA") '
            '(<-left value="cC"))',
            'write (value="p1" (<-left value="z2") '
            '(<-left value="z0") (<-left value="z1"))',
            'write (value="p2" (<-left name="nB" value="v1") '
            '(<-left value="v2") (<-left name="nA" value="v3") '
            '(<-left value="v4") (<-left name="nC" value="v5"))',
        ],
        [
            'read (value="p0" result=((value contents)) '
            "(<-left sort=value pagesize=1 "
            "result=(cursor (value))))",
            'read (value="p2" result=((value contents)) '
            "(<-left sort=name pagesize=1 "
            "result=(cursor (name value))))",
            'read (value="p2" result=((value contents)) '
            "(<-left sort=(-name) pagesize=1 "
            "result=(cursor (name value))))",
            'read (pagesize=2 value~="p*" '
            "result=((value contents)) "
            "(<-left sort=value pagesize=1 "
            "result=(count cursor (value))))",
            'read (pagesize=1 value~="p*" '
            "result=((value contents)) "
            "(<-left sort=value pagesize=1 "
            "result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left sort=value start=1 pagesize=1 "
            "result=(cursor (value))))",
        ],
    ),
    # asof'd sub cursors omit [n:] and sign the asof'd signature;
    # start= feeds [o:]; counts clamp at the implicit countlimit
    # across resumes; a bare `result=cursor` renders without contents
    (
        [
            'write (value="p0" (<-left value="cB") '
            '(<-left value="cA") (<-left value="cD") '
            '(<-left value="cC"))',
            'write (value="marker")',
        ],
        [
            "read asof={g1} (value=\"p0\" result=((value contents)) "
            "(<-left pagesize=1 result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left start=1 pagesize=1 result=(cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left pagesize=1 result=(count cursor (value))))",
            'read (value="p0" result=((value contents)) '
            "(<-left pagesize=1 result=cursor))",
        ],
    ),
]


@pytest.mark.parametrize("scenario", range(len(_SUB_CURSOR_SCENARIOS)))
def test_differential_sub_cursors(spark, ref_bin, scenario):
    """Sub-level cursor patterns (a `cursor` result inside a
    subconstraint), round-6 probes pinned: bare-linkage subs freeze
    the PARENT's own gmap iterator over the RAW index (versioned-away
    spokes keep their slots and count in /POS/), typed subs freeze
    the (endpoint, typeguid) vip combined index, predicate subs
    pre-evaluate the per-parent iterator-level fixed set, a thawed
    iterator pins the whole sub to that parent, exhaustion drains the
    producer lookahead, and asof'd freezes omit [n:] (ref
    graphd-read-set-cursor.c:33-87, libpdb/pdb-vip.c).  Paged to
    exhaustion in both engines, byte-compared."""
    import re as _re
    import select

    lines, reads = _SUB_CURSOR_SCENARIOS[scenario]

    def drive(ask):
        env: dict = {}
        for i, ln in enumerate(lines):
            r = ask(ln.format(**env))
            m = _re.search(r"\(+([0-9a-f]{32})", r)
            if m:
                env[f"g{i}"] = m.group(1)
        out = []
        for read in reads:
            read = read.format(**env)
            opener = (
                "left->(" if "left->(" in read else "(<-left "
            )
            r = ask(read)
            out.append(r)
            hops = 0
            while hops < 8:
                m = _re.search(r'"(cursor:[^"]*|null:)"', r)
                if not m or m.group(1) == "null:":
                    break
                r = ask(read.replace(
                    opener, f'{opener}cursor="{m.group(1)}" ', 1
                ))
                out.append(r)
                hops += 1
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            select.select([proc.stdout], [], [], 30)
            return proc.stdout.readline().rstrip("\n")

        try:
            ref_pages = drive(ask_ref)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    got_pages = drive(gs.request)
    assert got_pages == ref_pages, "\n".join(
        f"  got: {g}\n  exp: {w}"
        for g, w in zip(got_pages, ref_pages)
        if g != w
    )


@pytest.mark.parametrize("n", [150, 639, 640, 700])
def test_differential_and_cursors(spark, ref_bin, n):
    """Large multi-linkage intersections: the pre-evaluation cost
    crossover (639 ids freeze fixed:, 640 flip to the and: form), the
    [pp:] >=5 producer positions with their crossing resource stamps,
    [psz:] persistence on gmap-led resumes, and the backward and:-
    freeze under sort=(-timestamp) — all paged through both engines
    and compared byte-for-byte (round-5 probes)."""
    import re as _re
    import select

    lines = ['write (value="h0")', 'write (value="h1")'] + [
        f'write (value="{i}" left=00000012400034568000000000000000 '
        f'right=00000012400034568000000000000001)'
        for i in range(n)
    ]

    def q(sort, ps=2):
        return (
            f'read (left=00000012400034568000000000000000 '
            f'right=00000012400034568000000000000001 {sort}'
            f'pagesize={ps} result=(cursor (value)))'
        )

    chains = [(q(""), 8), (q("sort=(-timestamp) "), 8), (q("", 5), 4)]

    def drive(ask, read, pages):
        out = [ask(read)]
        for _ in range(pages):
            m = _re.search(r'"((?:cursor|sort|position):[^"]*)"', out[-1])
            if not m or m.group(1) == "null:":
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            out.append(ask(read.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1
            )))
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 120)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            [ask_ref(ln) for ln in lines]
            want = [drive(ask_ref, r, p) for r, p in chains]
        finally:
            proc.stdin.close()
            proc.wait(timeout=60)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    for ln in lines:
        gs.request(ln)
    got = [drive(gs.request, r, p) for r, p in chains]
    assert got == want


def test_iam_probe_n_pins(spark, ref_bin):
    """Directed parity for the iam pagesize=0 probe's [n:] family
    (cursor fuzz seed 2120; 11 probe shapes vs the binary):
    single-element value/name/prefix-bin roots pin the parent id,
    any other single-MATCH root pins target+1 (wide bins with one
    survivor, versioned-away bin entries, gmap/guid roots, sub-join
    rejections), and 2+ matches keep the store horizon even when
    pagesize renders only one parent."""
    G = "000000124000345680000000%08x".__mod__
    scripts = [
        # single-element value bin -> parent id; target far below
        (['write (value="a0")', 'write (value="f1")',
          'write (value="f2")',
          'write (value="b-two" left=%s)' % G(0)],
         ['read (value="b-two" pagesize=2 result=((value contents)) '
          'left->(value~="a*" pagesize=0 result=(cursor (guid value))))']),
        # bare iam + word-prefix single bin -> parent id
        (['write (value="a0")',
          'write (value="b-one" left=%s)' % G(0)],
         ['read (value~="b-o*" pagesize=2 result=((value contents)) '
          'left->(pagesize=0 result=(cursor (guid value))))']),
        # two-element bin, one survivor via versioning -> target+1
        (['write (value="a0")', 'write (value="b-one")',
          'write (guid~=%s value="b-one" left=%s)' % (G(1), G(0)),
          'write (value="f")'],
         ['read (value="b-one" pagesize=2 result=((value contents)) '
          'left->(value~="a*" pagesize=0 result=(cursor (guid value))))']),
        # two-element prefix bin, one survivor via sub join -> target+1
        (['write (value="a0")',
          'write (value="b-one" left=%s)' % G(0),
          'write (value="b-two")'],
         ['read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(pagesize=0 result=(cursor (guid value))))']),
        # gmap / guid-equality roots -> target+1 (NOT parent id)
        (['write (value="a0")', 'write (value="f")',
          'write (value="b-one" left=%s)' % G(0)],
         ['read (left=%s pagesize=2 result=((value contents)) '
          'left->(value~="a*" pagesize=0 result=(cursor (guid value))))'
          % G(0),
          'read (guid=%s pagesize=2 result=((value contents)) '
          'left->(value~="a*" pagesize=0 result=(cursor (guid value))))'
          % G(2)]),
        # two matches at pagesize=1: store horizon, not target+1
        (['write (value="a0")', 'write (value="a1")',
          'write (value="b-one" left=%s)' % G(0),
          'write (value="b-two" left=%s)' % G(1),
          'write (value="f")'],
         ['read (value~="b*" pagesize=1 result=((value contents)) '
          'left->(value~="a*" pagesize=0 result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(pagesize=0 result=(cursor (guid value))))']),
        # a VALUE-first sort whose result renders per-element values
        # keeps its sort-root VRANGE producer -> [n:] stays the store
        # horizon, overriding the tighter pins (round 7, cursor fuzz
        # seed 991 + directed probes: asc/desc value keys, eq-bin
        # subs, hmap1 roots, my-form, octet comparator, (value guid)
        # keys; name/timestamp first keys have no vrange -> tight)
        (['write (value="a0")', 'write (value="f1")',
          'write (value="b-one" left=%s)' % G(0),
          'write (value="f2")'],
         ['read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=(-value) pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=value pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value="a0" sort=(-value) pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value="b-one" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=(-value) pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=(value guid) pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort-comparator="octet" sort=(-value) '
          'pagesize=0 result=(cursor (guid value))))',
          # cursor-only result: the sort context drops -> tight pin
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=(-value) pagesize=0 '
          'result=(cursor)))',
          # name/timestamp first keys: no vrange -> tight pins keep
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=name pagesize=0 '
          'result=(cursor (guid value))))',
          'read (value~="b*" pagesize=2 result=((value contents)) '
          'left->(value~="a*" sort=timestamp pagesize=0 '
          'result=(cursor (guid value))))',
          # my-form value-sorted probe under a single-match root
          'read (value="b-one" pagesize=2 result=((value contents)) '
          '(<-left value~="f*" sort=(-value) pagesize=0 '
          'result=(cursor (guid value))))']),
    ]
    for writes, reads in scripts:
        want = run_reference(writes + reads)
        got = run_engine(spark, writes + reads)
        assert got == want, (writes, reads)


def test_branch_probe_subs(spark, ref_bin):
    """pagesize=0 probe subs inside or-branches probe exactly like
    root-level ones, MY-form included (cursor fuzz seed 612 corrected
    the earlier count-0 reading, which had been fit to stores whose
    branch subs had no candidates at all).  These stores pin the
    EMPTY-producer outcomes — optional/count=0 branches over kid-less
    parents, explicit countlimit, start= minima — and the IAM-form
    [n:] pin at the parent id when exactly one parent won the branch
    (store horizon for 2+; the root-level target+1 tier does not
    apply in branches)."""
    G = "000000124000345680000000%08x".__mod__
    w1 = [
        'write (value="a0")', 'write (value="a1")',
        'write (value="b-one" left=%s right=%s)' % (G(0), G(1)),
        'write (value="b-two" left=%s)' % G(1),
        'write (value="filler")',
    ]
    w2 = w1[:3] + ['write (value="b-two")', 'write (value="filler")']
    P = 'read (value~="b*" pagesize=2 result=((value contents)) %s)'
    shapes = [
        P % '{(<-left value~="a*" pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{name="zz"} | {(<-left pagesize=0 result=(cursor (guid '
            'value)))}',
        'read (value="b-two" pagesize=2 result=((value contents)) '
        '{left->(value~="a*" pagesize=0 result=(cursor (guid '
        'value)))} | {name="zz"})',
        P % '{(<-left optional pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{(<-left count=0 pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{(<-left countlimit=2 pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{(<-left start=1 pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{(<-left pagesize=0 result=(cursor (guid value)))} | '
            '{value~="b*"}',
        P % '{name="zz"} | {left->(pagesize=0 result=(cursor (guid '
            'value)))}',
        P % '{left->(start=1 pagesize=0 result=(cursor (guid '
            'value)))} | {name="zz"}',
        P % '{(<-left optional pagesize=0 result=(count cursor))} | '
            '{name="zz"}',
    ]
    for writes in (w1, w2):
        want = run_reference(writes + shapes)
        got = run_engine(spark, writes + shapes)
        assert got == want


# -- thawed sorted-cursor subs: the exact sort-root model -----------------
#
# A thawed value/name-sorted cursor sub flips the reference's producer
# to a GLOBAL scan (value hmap in bin order / the all-scan for name
# keys), checks the linkage via graphd_match, and feeds every match
# rejection into the constraint's shared 5-slot bad-id ring
# (graphd-bad-cache.c) — so page contents depend on ring evictions and
# on the verify/defer/resume evaluation order (graphd-read-set.c
# grsc_are_we_done "defer results", graphd-read-set-defer.c).
# fastread._ThawScan simulates this exactly; these chains page dense
# multi-parent configurations (several parents, each with more
# children than the page) to exhaustion through both engines.

def _thaw_config(n_par, kids, P, key="value"):
    ws = []
    for m in range(n_par):
        ws.append(f'write (value="mid{m:02d}" name="m")')
    for s in range(n_par):
        for l in range(kids):
            if key == "value":
                ws.append(
                    f'write (value="leaf{s:02d}x{l}" '
                    f'left={"%032x" % (0x00000012400034568000000000000000 + s)})'
                )
            else:
                ws.append(
                    f'write (name="nm{s:02d}x{l}" value="v" '
                    f'left={"%032x" % (0x00000012400034568000000000000000 + s)})'
                )
    srt = "sort=value" if key == "value" else "sort=name"
    out = "(guid value)" if key == "value" else "(guid name)"
    read = (
        f'read (pagesize=2 name="m" result=((value contents)) '
        f'(<-left {srt} pagesize={P} result=(cursor {out})))'
    )
    return ws, read


def _thaw_config_shuffled(seed, srt):
    """Multi-BIN kid values in shuffled id order: distinguishes the
    vrange (bin, id) producer order from the all-scan, exercises the
    backward bin walk and the median-gated sort-window exit."""
    rng = random.Random(seed)
    n_par = rng.randrange(2, 5)
    kids = rng.randrange(2, 6)
    ws = [f'write (value="mid{m:02d}" name="m")' for m in range(n_par)]
    slots = [(s, l) for s in range(n_par) for l in range(kids)]
    rng.shuffle(slots)
    for s, _l in slots:
        v = f"{rng.choice('abcdefkmz')}{rng.randrange(4)}"
        ws.append(
            f'write (value="{v}" '
            f'left={"%032x" % (0x00000012400034568000000000000000 + s)})'
        )
    read = (
        f'read (pagesize=2 name="m" result=((value contents)) '
        f'(<-left {srt} pagesize={rng.randrange(1, 4)} '
        f'result=(cursor (guid value))))'
    )
    return ws, read


@pytest.mark.parametrize(
    "n_par,kids,P,key",
    [
        (2, 4, 2, "value"),   # ring keeps both resumes at one element
        (3, 4, 2, "value"),   # ring eviction lets the 2nd parent fill
        (3, 3, 2, "value"),
        (4, 5, 3, "value"),
        (6, 4, 2, "value"),   # the long chain incl. exhaustion tail
        (3, 4, 2, "name"),    # name first key: the all-scan producer
        (3, 5, 1, "value"),   # tight pages
    ],
)
def test_differential_thawed_sort_subs(spark, ref_bin, n_par, kids, P,
                                       key):
    import re as _re
    import select

    ws, read = _thaw_config(n_par, kids, P, key)

    def drive(ask):
        out = []
        reply = ask(read)
        out.append(reply)
        hops = 0
        while hops < 12:
            m = _re.search(r'"((?:cursor|sort|position):[^"]*)"', reply)
            if not m or m.group(1) == "null:":
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = ask(read.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1
            ))
            out.append(reply)
            hops += 1
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 60)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        for w in ws:
            ask_ref(w)
        ref_pages = drive(ask_ref)
        proc.stdin.close()
        proc.terminate()

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    for w in ws:
        gs.request(w)
    eng_pages = drive(gs.request)

    assert len(ref_pages) == len(eng_pages)
    for i, (a, b) in enumerate(zip(ref_pages, eng_pages)):
        assert a == b, f"page {i}: ref={a!r} eng={b!r}"


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
@pytest.mark.parametrize(
    "srt", ["sort=value", "sort=(-value)", "sort=(value -name)"]
)
def test_differential_thawed_sort_multibin(spark, ref_bin, seed, srt):
    """Shuffled multi-bin stores: pins the (bin, id) vrange producer
    order (forward and backward) and the median-gated sort-window
    exit of the thawed sorted-sub model."""
    import re as _re
    import select

    ws, read = _thaw_config_shuffled(seed, srt)

    def drive(ask):
        out = []
        reply = ask(read)
        out.append(reply)
        hops = 0
        while hops < 12:
            m = _re.search(r'"((?:cursor|sort|position):[^"]*)"', reply)
            if not m or m.group(1) == "null:":
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = ask(read.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1
            ))
            out.append(reply)
            hops += 1
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 60)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        for w in ws:
            ask_ref(w)
        ref_pages = drive(ask_ref)
        proc.stdin.close()
        proc.terminate()

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    for w in ws:
        gs.request(w)
    eng_pages = drive(gs.request)

    assert len(ref_pages) == len(eng_pages)
    for i, (a, b) in enumerate(zip(ref_pages, eng_pages)):
        assert a == b, f"page {i}: ref={a!r} eng={b!r}"


def test_residual_forms(spark, ref_bin):
    """Round-7 closure of the residual fallback forms (VERDICT r6
    item 3): cursor-valued assignments ($c=cursor inlines as an
    alias and the assignment never signs), nested intrinsic
    or-chains (fold as recursive disjunctions — the pre-round-7
    Spark path silently ignored them and matched everything), and
    or-chains on a cursor-freezing sub (branch intrinsics never
    sign; branch subs reparent onto the owner's parent and sign as
    ordinary subs — graphd-constraint-or.c:86).  Paged to
    exhaustion in both engines."""
    import re as _re

    writes = [
        'write (value="p0" (<-left value="k1") (<-left value="k2") '
        '(<-left value="k3"))',
        'write (value="p1" (<-left value="z1"))',
    ]
    reads = [
        'read (value="p0" $c=cursor result=($c))',
        'read (value="p0" result=((value contents)) '
        '(<-left pagesize=1 $c=cursor result=($c (value))))',
        'read (value="p0" { value="p0" | { name="x" | value="k1" } } '
        "result=((value)))",
        'read ({ { value="p0" | value="k1" } | name="x" } '
        "result=((value)))",
        'read (value="p0" (<-left { value="k1" | value="k2" } '
        "pagesize=1 result=(cursor (value))))",
        'read (value="p0" (<-left { timestamp>1970 | value="k2" } '
        "pagesize=1 result=(cursor (value))))",
        'read (value="p0" (<-left { value="k1" | } '
        "pagesize=1 result=(cursor (value))))",
        'read (value="p0" result=($v (contents)) '
        '(<-left $v=value pagesize=1 result=(cursor (value))))',
        'read (value="p0" (<-left $v=value pagesize=1 '
        "result=(cursor $v)))",
    ]

    def paginate(ask):
        out = []
        for read in reads:
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 5 and "result=(cursor" in read:
                m = _re.search(r'"((?:cursor|sort):[^"]*)"', reply)
                if not m or m.group(1) == "null:":
                    break
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(read.replace(
                    "result=(cursor",
                    f'cursor="{esc}" result=(cursor', 1,
                ))
                out.append(reply)
                hops += 1
        return out

    import select

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            ref_writes = [ask_ref(ln) for ln in writes]
            ref_pages = paginate(ask_ref)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    got_writes = [gs.request(ln) for ln in writes]
    got_pages = paginate(gs.request)
    assert got_writes == ref_writes
    assert got_pages == ref_pages, "\n".join(
        f"  got: {g}\n  exp: {w}"
        for g, w in zip(got_pages, ref_pages)
        if g != w
    )


def test_number_sort_root_keep(spark, ref_bin):
    """Directed parity for the NUMBERS sort-root drop's short-circuit
    family (sortcursor fuzz seed 866 + 12 probes): a 1-element raw
    NAME bin anywhere in the mandatory my-form closure pre-evaluates
    the and-iterator before the number vrange spins, so non-number
    values survive the number-comparator sort; value=/type= bins,
    iam-form and optional subs, and 2-element bins do not."""
    shapes = [
        (['write (value="2006-01-02" (<-right name="label" value="L1"))',
          'write (value="apple")'],
         ['read (pagesize=5 sort=(-value) sort-comparator="number" '
          'result=((guid value)) (<-right name="label"))',
          'read (pagesize=5 sort=(-value) sort-comparator="number" '
          'value~="2*" result=((guid value)) (<-right name="label"))',
          'read (pagesize=5 sort=(-value) sort-comparator="number" '
          'timestamp>=1970 result=((guid value)) '
          '(<-right name="label"))',
          'read (pagesize=5 sort=(-value) sort-comparator="number" '
          'result=((guid value)) (<-right optional name="label"))']),
        (['write (value="2006-01-02" name="only")',
          'write (value="apple")'],
         ['read (pagesize=5 sort=(-value) sort-comparator="number" '
          'name="only" value~="2*" result=((guid value)))',
          'read (pagesize=5 sort=(-value) sort-comparator="number" '
          'name="only" value="2006-01-02" result=((guid value)))']),
        (['write (value="2006-01-02" (<-right value="m" '
          '(<-right name="label" value="L1")))',
          'write (value="apple")'],
         ['read (pagesize=5 sort=(-value) sort-comparator="number" '
          'result=((guid value)) (<-right value="m" '
          '(<-right name="label")))']),
        (['write (value="2006-01-02" (<-right value="uniq1"))',
          'write (value="apple")'],
         ['read (pagesize=5 sort=(-value) sort-comparator="number" '
          'result=((guid value)) (<-right value="uniq1"))']),
        (['write (value="2006-01-02" (<-right name="two" value="A"))',
          'write (value="x" (<-right name="two" value="B"))'],
         ['read (pagesize=5 sort=(-value) sort-comparator="number" '
          'result=((guid value)) (<-right name="two"))']),
    ]
    for writes, reads in shapes:
        want = run_reference(writes + reads)
        got = run_engine(spark, writes + reads)
        assert got == want, (writes, reads)


def test_iam_probe_value_family_pins(spark, ref_bin):
    """Round-7 disambiguation of the iam ps0 [n:] tiers (cursor fuzz
    seed 2218): a VALUE-family root (value= bucket or value~= glob,
    any wildcard position) with exactly one accepted match pins the
    PARENT's own id whatever the bin size; a value-RANGE root keeps
    the store horizon (string vrange producer); name=/guid=/gmap
    roots pin target+1.  Every round-6 probe of these tiers had
    parent id == target+1, so the old reading fit either."""
    G = "000000124000345680000000%08x".__mod__
    P = ('pagesize=2 result=((value contents)) '
         'left->(pagesize=0 result=(cursor (guid value)))')
    w1 = ['write (value="a0")', 'write (value="f1")',
          'write (value="f2")',
          'write (value="b-one" left=%s)' % G(0),
          'write (value="b-two")', 'write (value="f3")']
    w2 = ['write (value="t0")', 'write (value="f1")',
          'write (value="f2")',
          'write (value="vx" name="nm1" left=%s)' % G(0),
          'write (value="f3")']
    w3 = ['write (value="t0")', 'write (value="f1")',
          'write (value="f2")',
          'write (value="vx" left=%s)' % G(0), 'write (value="f3")']
    shapes = [
        (w1, [f'read (value="b-one" {P})', f'read (value~="b-*" {P})',
              'read (guid=%s %s)' % (G(3), P),
              'read (left=%s %s)' % (G(0), P)]),
        (w2, [f'read (name="nm1" {P})']),
        (w3, [f'read (value~="*x" {P})', f'read (value~="v*x" {P})',
              f'read (value>"v" {P})',
              f'read (value<="vx" value>"v" {P})']),
    ]
    for writes, reads in shapes:
        want = run_reference(writes + reads)
        got = run_engine(spark, writes + reads)
        assert got == want, (writes, reads)


def test_my_probe_fixed_pins(spark, ref_bin):
    """Round-7 my-form ps0 pins (cursor fuzz seed 3092, fixed by the
    mode gate differential seed 16 re-pinned): a my-form probe whose
    sub pre-evaluates to a FIXED set (predicate subs), under a
    non-value-family root with one accepted match, pins the probed
    element + 1; bare gmap probes keep the raw iterator's horizon,
    value-family roots keep the horizon, 2+ accepted matches keep
    the horizon."""
    P0 = ('(<-left pagesize=0 result=(cursor (guid value)))')
    PF = ('(<-left value~="b*" pagesize=0 result=(cursor (guid value)))')
    shapes = [
        (['write (value="pad")',
          'write (value="under_score" name="size" (<-left value="B"))',
          'write (value="x" name="size")', 'write (value="pad2")'],
         [f'read (pagesize=2 name="size" result=((value contents)) {P0})',
          f'read (pagesize=2 name="size" result=((value contents)) {PF})']),
        (['write (value="pad0")',
          'write (value="aav" (<-left value="+12") (<-left value="B"))',
          'write (value="b-other")', 'write (value="pad1")'],
         [f'read (pagesize=2 value="aav" result=((value contents)) {PF})']),
        (['write (value="pad0")',
          'write (value="aa" name="rank" (<-left value="B"))',
          'write (value="zz" name="rank" (<-left value="b2"))',
          'write (value="pad1")'],
         [f'read (pagesize=3 name="rank" result=((value contents)) {PF})']),
    ]
    for writes, reads in shapes:
        want = run_reference(writes + reads)
        got = run_engine(spark, writes + reads)
        assert got == want, (writes, reads)


# -- nested or-chain flatten (round 8) -------------------------------------
#
# A bare ``{...}`` branch holding one chain splices into the enclosing
# chain at parse (gql/parser.py parse_con._is_bare_chain) — the
# reference's own normalization: nested and flat spellings produce
# byte-identical replies INCLUDING cursor checksums.  This pins the
# probe matrix that established it: sub-bearing inner branches,
# winner-slot contents, $var bindings, || splices in both directions,
# depth-3 nesting, sibling subs next to the chain, root cursors, and
# SUB-level cursors inside nested branches.

_NESTED_FLATTEN_WRITES = [
    'write (value="p1" (<-left value="c1"))',
    'write (value="p2" (<-right value="c2"))',
    'write (value="p3" timestamp=1970-01-01T00:00:00.0099Z)',
    'write (value="p4")',
    'write (value="p5" (<-left value="c1") (<-right value="c2"))',
]

_NESTED_FLATTEN_READS = [
    'read (pagesize=8 result=((guid value contents)) '
    '{ { (<-left value="c1" result=((guid value))) | value="p4" } '
    '| value="p2" })',
    'read (pagesize=8 result=((guid value contents)) '
    '{ { (<-left value="c1" result=((value))) '
    '| (<-right value="c2" result=((value))) } | value="p4" })',
    'read (pagesize=8 result=((guid value)) '
    '{ { value="p1" || (<-left value="c1") } | value="p4" })',
    'read (pagesize=8 result=((guid value $v)) '
    '{ { (<-left value="c1" $v=value) | value="p4" } | value="p2" })',
    'read (pagesize=2 result=(cursor (guid value)) '
    '{ { (<-left value="c1") | value="p4" } | value="p2" })',
    'read (pagesize=8 result=((guid value)) '
    '{ value="p3" || { (<-left value="c1") | value="p4" } })',
    'read (pagesize=8 result=((guid value)) '
    '{ { { (<-left value="c1") | value="p3" } | value="p4" } '
    '| value="p2" })',
    'read (pagesize=8 result=((guid value contents)) '
    '{ { (<-left value="c1" result=((value))) | value="p4" } '
    '(<-right value="c2" result=((value))) })',
    'read (pagesize=1 result=(cursor (guid value contents)) '
    '{ { (<-left value="c1" result=(cursor (value))) | value="p4" } '
    '| value="p2" })',
]


def test_nested_chain_flatten(spark, ref_bin):
    lines = _NESTED_FLATTEN_WRITES + _NESTED_FLATTEN_READS
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}"
        for g, w in zip(got, want) if g != w
    )


# -- expanded sub-cursor clause families (round 8) -------------------------
#
# The reference's frozen sub-cursor shape is decided by ITERATOR-level
# clauses only: non-iterator clauses (counted sub-subs, newest/oldest,
# the prev=null -> oldest=0 conversion, value!=, prefix-less globs)
# ride as acceptance checks over the bare gmap/vip/fixed forms; bin
# predicates (equalities, word prefixes, ranges at BIN-span
# granularity) pre-evaluate — including or-chain branches and their
# subs' existence.  This pins the probe matrix that established it.

_SUBSHAPE_WRITES = [
    'write (value="P"'
    ' (<-left value="a" (<-left value="k"))'
    ' (<-left value="a" type="knows")'
    ' (<-left value="a")'
    ' (<-left value="b" type="knows" (<-left value="k"))'
    ' (<-left value="c" type="knows")'
    ' (<-left value="ax") (<-left value="ban") (<-left value="d"))',
    'write (value="Q" (<-left value="a") (<-left value="e"))',
]

_SUBSHAPE_READS = [
    'read (value="P" result=((value contents)) (<-left '
    '{ value="a" | value="c" | value="d" } pagesize=1 '
    'result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left pagesize=1 '
    'result=(cursor (guid value)) (<-left count=0)))',
    'read (value="P" result=((value contents)) (<-left newest=0 '
    'pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value~="*" '
    'pagesize=1 result=(cursor (guid value)) (<-left count=0)))',
    'read (value="P" result=((value contents)) (<-left type="knows" '
    'pagesize=1 result=(cursor (guid value)) (<-left count=0)))',
    'read (value="P" result=((value contents)) (<-left value="a" '
    'newest=0 pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value="a" '
    'oldest=0 pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value="a" '
    'prev=null pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left type="knows" '
    '{ value="a" | value="b" } pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left '
    '{ value="a" | name="zz" } pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left '
    '{ value="a" | (<-left value="zz") } pagesize=2 '
    'result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left '
    '{ value="a" | value="b" } pagesize=1 result=(cursor (guid value)) '
    '(<-left count=0)))',
    'read (value="P" result=((value contents)) (<-left type="knows" '
    'newest=0 pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value="a" '
    'pagesize=1 result=(cursor (guid value)) (<-left count=0)))',
    'read (value="P" result=((value contents)) (<-left '
    '{ value="zz" | (<-left value="k") } pagesize=1 '
    'result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value="a" '
    'pagesize=1 result=(cursor (guid value)) (<-left value="k")))',
    'read (value="P" result=((value contents)) (<-left sort=value '
    'pagesize=1 result=(cursor (guid value)) (<-left count=0)))',
    'read (value="P" result=((guid value contents)) (<-left value!="a" '
    'pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value<"b" '
    'pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left value~="*an*" '
    'pagesize=1 result=(cursor (guid value))))',
    'read (value="P" result=((value contents)) (<-left '
    '{ value="a" | value="c" } pagesize=0 result=(cursor count)))',
    'read (value="P" result=((value contents)) (<-left '
    'sort=(-timestamp) { value="a" | value="c" | value="d" } pagesize=1 '
    'result=(cursor (guid value))))',
]


def test_sub_cursor_clause_families(spark, ref_bin):
    """Page every expanded-family sub cursor chain to exhaustion in
    both engines (byte equality incl. checksums)."""
    import re as _re
    import select
    import subprocess
    import tempfile

    def chain_all(ask):
        out = []
        for read in _SUBSHAPE_READS:
            reply = ask(read)
            out.append(reply)
            hops = 0
            while hops < 6:
                m = _re.search(
                    r'"((?:cursor|sort|position):[^"]*)"', reply
                )
                if not m or m.group(1) == "null:":
                    break
                esc = m.group(1).replace("\\", "\\\\").replace(
                    '"', '\\"'
                )
                reply = ask(
                    read.replace(
                        "result=(cursor",
                        f'cursor="{esc}" result=(cursor', 1,
                    )
                )
                out.append(reply)
                hops += 1
        return out

    with tempfile.TemporaryDirectory(prefix="gdref_") as db:
        proc = subprocess.Popen(
            [ref_bin, "-d", os.path.join(db, "db"), "-bty"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1, cwd=db,
        )

        def ask_ref(req):
            proc.stdin.write(req + "\n")
            proc.stdin.flush()
            ready, _, _ = select.select([proc.stdout], [], [], 30)
            if not ready:
                raise TimeoutError(req)
            return proc.stdout.readline().rstrip("\n")

        try:
            for ln in _SUBSHAPE_WRITES:
                ask_ref(ln)
            want = chain_all(ask_ref)
        finally:
            proc.stdin.close()
            proc.wait(timeout=30)

    from graphd_spark.api import GraphSession

    gs = GraphSession(spark)
    for ln in _SUBSHAPE_WRITES:
        gs.request(ln)
    got = chain_all(gs.request)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}"
        for g, w in zip(got, want) if g != w
    ) + f"\n(pages: got {len(got)}, exp {len(want)})"


# -- mixed or-branches (round 8) -------------------------------------------
#
# A branch CONJOINING clauses is a plain conjunction: intrinsics AND
# nested-chain disjunction AND subs (my- and iam-form both constrain,
# render slots, and bind $vars).  Everything here serves; the ONE
# refused residual is a branch conjoining a nested chain whose INNER
# branches carry subs with other clauses (read 9-style shapes), whose
# inner slot machinery this engine does not model.

_MIXED_BRANCH_WRITES = [
    'write (value="A" (<-left value="k"))',
    'write (value="B" right->(value="t1"))',
    'write (value="C" (<-left value="m"))',
    'write (value="D")',
]

_MIXED_BRANCH_READS = [
    'read (pagesize=8 result=((guid value)) '
    '{ { value="A" | value="B" } (<-left value="k") | value="C" })',
    'read (pagesize=8 result=((guid value)) '
    '{{ { value="A" | value="B" } (<-left value="k") }} | {{ value="C" }})',
    'read (pagesize=8 result=((guid value)) '
    '{{ value="A" | value="B" } (<-left value="k")} | {value="C"})',
    'read (pagesize=8 result=((guid value contents)) '
    '{{ value="A" | value="B" } (<-left value="k" result=((value)))} '
    '| {value="C"})',
    'read (pagesize=8 result=((guid value)) '
    '{{ value="A" | value="B" } (<-left value="zz")} | {value="C"})',
    'read (pagesize=8 result=((guid value)) '
    '{{ value="A" | value="B" } timestamp>1970} | {value="C"})',
    'read (pagesize=8 result=((guid value)) '
    '{value="A" right->(value="zz")} | {value="C"})',
    'read (pagesize=8 result=((guid value $t)) '
    '{value="B" right->(value="t1" $t=value)} | {value="C"})',
    'read (pagesize=8 result=((guid value $t)) '
    '{{ value="A" | value="B" } (<-left value="k" $t=value) $t=name} '
    '| {value="C"})',
]


def test_mixed_branch_conjunction(spark, ref_bin):
    lines = _MIXED_BRANCH_WRITES + _MIXED_BRANCH_READS
    want = run_reference(lines)
    got = run_engine(spark, lines)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}"
        for g, w in zip(got, want) if g != w
    )


def test_writepaged_seed_454_open(spark, ref_bin):
    """Round 8's one open divergence, CLOSED round 9: a name-sorted
    sub chain frozen at [n:80] dropped its final page after a parent
    matching the TOP-level constraint was written between pages.  The
    root cause was the frozen horizon's scope: the reference thaws
    EVERY iterator in the request at the sub cursor's [n:H] (spew:
    top-level producer ``all[0...50]`` for [n:80]), so the phantom
    parent is never scanned — while this engine scanned it, and that
    scan's rejection tail re-ringed the real parent's last child into
    the shared 5-slot bad-id ring between the parent's verify stop
    and its deferred resume, silently skipping the child.  Fixed by
    clamping the request horizon to min [n:H] over ALL cursors in the
    tree (cursor.chain_horizon; fastread.run + Compiler.run)."""
    problems = check_writepaged_seed(spark, 454)
    assert not problems, "\n".join(p[:300] for p in problems)


def test_subcursor_horizon_bounds_toplevel(spark, ref_bin):
    """Directed pin for the seed-454 class: a sub chain frozen at
    [n:H], then a NEW top-level-matching parent (with a matching
    child) written before the next page — the resumed pages must not
    render the new parent, and the chain must end exactly where the
    reference's does."""
    import re as _re

    writes = [
        'write (name="pin" value="p1" (<-left value="a") '
        '(<-left value="b") (<-left value="c"))',
        'write (value="noise1")',
        'write (value="noise2")',
    ]
    rd = ('read (pagesize=4 name="pin" result=((value contents)) '
          '(<-left sort=name pagesize=1 result=(cursor (guid value))))')
    mid = 'write (name="pin" value="p2" (<-left value="z"))'

    def chain(ask):
        out = [ask(w) for w in writes]
        reply = ask(rd)
        out.append(reply)
        hops = 0
        while hops < 6:
            m = _re.search(r'"((?:cursor|sort|position):[^"]*)"', reply)
            if not m or m.group(1) == "null:":
                break
            if hops == 0:
                out.append(ask(mid))
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = ask(rd.replace(
                "result=(cursor", f'cursor="{esc}" result=(cursor', 1))
            out.append(reply)
            hops += 1
        return out

    want = run_reference_session(chain)
    from graphd_spark.api import GraphSession

    got = chain(GraphSession(spark).request)
    assert got == want, "\n".join(
        f"  got: {g}\n  exp: {w}" for g, w in zip(got, want) if g != w
    ) + f"\n(lines: got {len(got)}, exp {len(want)})"
