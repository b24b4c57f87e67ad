"""Driver-side serving fast path for template reads.

The reference is a serving engine: simple template reads are answered
from in-process indexes at thousands of queries/second/core
(doc/a-brief-tour-of-graphd.md:196-199).  Spark schedules per action,
so a point read through a Spark action pays ~100ms of fixed cost.
:class:`FastReader` answers the reads whose working set the driver
mirror holds straight from the store's point indexes, with NO Spark
job, and produces the exact (plan, rows, total) triple
``Compiler.run`` would, feeding the same ``Assembler``.  The read plan
(readplan.py), the intrinsic match (match.py), the root page, count
and cursor policy (cursor.py) and the iterator freeze and thaw
(freeze.py) are shared with the compiler; this module is the driver
data plane under them.

Safety model: :class:`FastReader` first walks the constraint tree and
raises :class:`Unsupported` for any shape outside its model; the
caller then falls back to the Spark compiler.  Modeled: literal
template reads with linkage subconstraints, sorts, globs, value
ranges (including the value-bin scan order of unsorted range reads),
variables, or-chains (branch subconstraints, first-match bindings,
contents slots), number-comparator value sorts (the NUMBERS-binset
drop), datelines, asof time travel, every root cursor form freeze.py
freezes plus sorted-page ``sort:`` cursors, and the sub-level cursor
family (per-parent gmap / vip / pre-evaluated fixed / iam freezes,
per-parent ``sort:`` boundary keys, pagesize-0 count-min probes,
or-branch subs).  Thawed sorted cursor subs at any depth run the
reference's sorter model (:class:`_ThawScan`: the sort-root producer,
the per-constraint bad-id ring, the verify/defer/resume order and the
median-gated window exit), nested ones with their deferred sets
(``_resume_deferred_set``).

Scale stance: this is the hot-working-set path.  Reads whose working
set exceeds the driver mirror, or that use an analytical feature,
take the Spark path.
"""

from __future__ import annotations

import bisect
from contextlib import contextmanager
from typing import Iterable, Optional

from graphd_spark.comparators import (
    _ascii_lower,
    datetime_scan_order,
    delimited_match,
    fuzzy_key,
    literal_key,
    number_scan_order,
    number_sort_key,
    resolve_comparator,
    string_bin_order,
    value_norm_key,
)
from graphd_spark import freeze
from graphd_spark.compiler import PRIM_ELEM_FIELDS
from graphd_spark.cursor import (
    asof_horizon,
    count_root_set,
    cursor_high_bounds,
    emit_root_cursor,
    needs_total,
    scan_prefix,
    thaw_envelope,
)
from graphd_spark.freeze import (
    GMAP_COLS,
    _FIXED_MATERIALIZE_MAX,
    _prefix_pattern,
    _prefix_rollup,
)
from graphd_spark.glob import glob_match
from graphd_spark import match
from graphd_spark.match import bind, guid_sets
from graphd_spark.readplan import (
    _OPS,
    SetPlan,
    SubPlan,
    bind_plan,
    counts_ok,
)
from graphd_spark.gql.ir import Constraint
from graphd_spark.model import (
    Primitive,
    guid_compose,
    guid_serial,
)
from graphd_spark.sortsim import (
    _full_cmp,
    number_sort_drops,
    range_scan_order,
    result_pagesize,
    resume_offset,
    simulate,
    sort_components,
    sort_keys,
    sort_production,
    sorter_run,
)
from graphd_spark.wordhash import prefix_bins
from graphd_spark.pattern import GraphdError, default_read_pattern


class Unsupported(Exception):
    """Query uses a feature the fast path doesn't mirror: fall back."""


#: sentinel: candidate failed the constraint (vs a None row, which is
#: a legitimate "no payload needed" match)
_NO_MATCH = object()


class _SubSortState:
    """Per-request state of a value/name-sorted sub's incremental
    sorter (one instance per sub constraint; see _sub_sort_page)."""

    __slots__ = ("P", "keyfns", "specs", "grid", "offset", "ended",
                 "consumed", "sim", "evals", "first_key", "thaw")

    def __init__(self, P, keyfns, specs, grid, offset, ended):
        self.P = P
        self.keyfns = keyfns          # [(fn, desc, comp, kind)]
        self.specs = specs            # [(desc, preable)]
        self.grid = grid              # thawed boundary key tuple | None
        self.offset = offset          # thawed [o:]
        self.ended = ended            # thawed "END" marker
        self.consumed = False         # grid handed to the 1st parent yet?
        self.sim = {}                 # id(child_rows) -> (trailing, P)
        self.evals = []               # grid-mode eval log: accepted bools
        self.first_key = None         # id(child_rows) of the 1st parent
        self.thaw = None              # _ThawScan (exact thaw model)


class _BadRing:
    """graphd's per-constraint bad-id cache: a FIFO ring of 5 ids
    that failed graphd_match or a sub-tree check (ref
    graphd-bad-cache.c GRAPHD_BAD_CACHE_N=5; consulted in grsc_next
    graphd-read-set.c:1576, fed at :1629 and :2096)."""

    __slots__ = ("ids", "n")

    def __init__(self):
        self.ids = [None] * 5
        self.n = 0

    def member(self, i):
        return i in self.ids

    def add(self, i):
        self.ids[self.n] = i
        self.n = (self.n + 1) % 5


class _ThawScan:
    """Thawed value/name-sorted cursor sub: exact simulation of the
    reference's evaluation, derived from spew traces of the binary
    (grsc_next / graphd_sort_accept / grsc_are_we_done) and pinned by
    the directed probes in tests/test_fastread_cursors.py plus the
    differential cursor campaigns:

    - the producer flips from the per-parent pre-evaluated fixed set
      to a GLOBAL scan: the value hmap in (bin, id) order for value
      first keys (the vrange iterator), the all-scan in id order for
      name first keys (no name-ordered index exists — observed
      ``all[0...n]`` in the trace);
    - parent linkage becomes a graphd_match CHECK, and every match or
      sub-tree rejection feeds the constraint's shared 5-slot bad-id
      ring, consulted BEFORE matching — one parent's rejections make
      the other parents skip those ids, so exact page contents depend
      on ring evictions;
    - each parent's set evaluates in two phases: a VERIFY scan from
      the producer start that defers as soon as the count minimum is
      provably met (grsc_are_we_done "defer results": one accepted
      element when count-min permits), and a RESUME to exhaustion
      that runs only for parents actually RENDERED, in render order
      (graphd-read-set-defer.c grsc_deferred_push) — which is why a
      resumed chain's intermediate parents render a single element
      with cursor ``null:`` while ring-eviction survivors replay
      full pages;
    - the grid (boundary key) prefilters candidates <= the boundary
      silently — grid rejections never enter the ring."""

    __slots__ = ("reader", "sub", "keyfns", "specs", "grid", "P",
                 "offset", "thawed_n", "count_min", "ring", "order",
                 "state", "binfn", "comp0", "desc0")

    def __init__(self, reader, sub, keyfns, specs, grid, P, offset,
                 thawed_n, count_min, order, binfn=None,
                 comp0="default", desc0=False):
        self.reader = reader
        self.sub = sub
        self.keyfns = keyfns
        self.specs = specs
        self.grid = grid
        self.P = P
        self.offset = offset
        self.thawed_n = thawed_n
        self.count_min = count_min
        self.ring = _BadRing()
        self.order = order            # producer-ordered Primitives
        self.state = {}               # parent id -> [pos, entries]
        #: producer walk-position of a primitive's first-key bin, or
        #: None (the all-scan for name keys is NOT ordered).  An
        #: ordered producer lets the sorter END the scan once a
        #: too-large candidate arrives AND the comparator's
        #: value_in_range verdict says the scan position is beyond
        #: the cutoff's value (graphd_sort_accept_prefilter's
        #: sort_root_value_beyond + gsc_ended;
        #: comparators.vrange_value_beyond) — later ids are then
        #: never consumed, so they never feed the bad-id ring.
        self.binfn = binfn
        self.comp0 = comp0
        self.desc0 = desc0

    def _scan(self, p, ss, st, stop_early: bool):
        reader = self.reader
        sub = self.sub
        lk = sub.linkage[1]
        horizon = reader.horizon
        n_bound = self.thawed_n
        ring = self.ring
        order = self.order
        pos, entries = st[0], st[1]
        from graphd_spark.sortsim import _pre_cmp

        while pos < len(order):
            c = order[pos]
            pos += 1
            if horizon is not None and c.id > horizon:
                continue  # asof bound: producer-level, no ring
            if n_bound is not None and c.id >= n_bound:
                continue  # thawed [n:] bound: producer-level
            if ring.member(c.id):
                continue  # known-bad: skipped before any match
            crow = _NO_MATCH
            if getattr(c, lk) == p.guid:
                crow = reader._row_for(c, ss.plan, build_row=True)
            if crow is _NO_MATCH:
                ring.add(c.id)
                continue
            keys = tuple(
                f(c, crow) for f, _d, _c2, _k in self.keyfns
            ) + (c.id,)
            if self.grid is not None:
                r, known = _pre_cmp(keys, self.grid, self.specs)
                if known and r <= 0:
                    continue  # cursor cut-off: silent, never ringed
            if self.binfn is not None and len(entries) >= 2 * self.P:
                # ordered-producer sort-window exit: once the sorter
                # has a MEDIAN (first condense at 2P accepted), a
                # too-large candidate whose FIRST key decides
                # (which==0) triggers the comparator's value_in_range
                # verdict on the cutoff value vs the producer's
                # previous bin boundary; a True verdict ends the
                # set's scan (graphd_sort_accept_prefilter:
                # gsc_have_median + sort_root_value_beyond +
                # gsc_ended; too-large rejections themselves stay
                # silent — prefilter-side)
                from graphd_spark.comparators import (
                    vrange_value_beyond,
                )

                arr, _a, _t = simulate(
                    list(entries), self.P, self.specs, grid=self.grid
                )
                if len(arr) == self.P:
                    r2, known2 = _pre_cmp(
                        keys, arr[-1][0], self.specs
                    )
                    r0, known0 = _pre_cmp(
                        keys[:1], arr[-1][0][:1], self.specs[:1]
                    )
                    if known2 and r2 > 0 and known0 and r0 > 0:
                        cand_order = self.binfn(c)
                        cutoff_val = arr[-1][1][0].value
                        if vrange_value_beyond(
                            cutoff_val, cand_order,
                            self.comp0, self.desc0,
                        ):
                            # the exit candidate was "too large to
                            # store": have_trailing is set even
                            # though it is never appended
                            st[2] = True
                            pos = len(order)  # ended: stop consuming
                            break
            entries.append((keys, (c, crow)))
            if (
                stop_early
                and len(entries) + self.offset >= self.count_min
            ):
                break  # verify defer (grsc_are_we_done)
        st[0] = pos

    def _page(self, ss, st):
        arr, accepted, trailing = simulate(
            list(st[1]), self.P, self.specs, grid=self.grid
        )
        page = [pl for _k, pl in arr]
        rows = [r for _c, r in page[ss.lo:ss.lo + ss.rps]]
        return accepted, rows, trailing or st[2]

    def verify(self, p, ss):
        """Verify-phase scan for one parent; returns (n, child_rows).
        child_rows is finalized in :meth:`resume` (mutated in place)
        for parents that actually render."""
        st = self.state.get(p.id)
        if st is None:
            st = self.state[p.id] = [0, [], False]
            if not self.reader._child_ids(p, self.sub):
                # a parent with NO linkage children gets a NULL
                # iterator from the and-contest — no scan happens at
                # all, so its rejection never feeds the bad-id ring
                # (probed: cursor fuzz seed 920, where kid-less roots
                # must not churn ids out of the ring)
                st[0] = len(self.order)
            else:
                self._scan(p, ss, st, stop_early=True)
        n, rows, trailing = self._page(ss, st)
        ss.ssim.sim[id(rows)] = (trailing, self.P)
        return n, rows

    def resume(self, p, ss, rows_list):
        """Deferred-value resume: continue this parent's scan to
        exhaustion and finalize its rendered page + cursor state."""
        st = self.state.get(p.id)
        if st is None:
            return
        self._scan(p, ss, st, stop_early=False)
        n, rows, trailing = self._page(ss, st)
        rows_list[:] = rows
        ss.ssim.sim[id(rows_list)] = (trailing, self.P)
        return n


def _thaw_pred(t: freeze.Thaw):
    """freeze.thaw's restriction ``t`` as a test over a primitive,
    built once per request; None restricts nothing.  A fixed set
    tests one set membership."""
    lo, hi = t.lo, t.hi
    if t.ids is not None and not t.eq:
        allowed = {i for i in t.ids if lo <= i and (hi is None or i < hi)}
        return lambda c: c.id in allowed
    if not (lo or t.eq) and hi is None and t.ids is None:
        return None
    hi = float("inf") if hi is None else hi
    allowed = None if t.ids is None else set(t.ids)
    return lambda c: (
        lo <= c.id < hi
        and (allowed is None or c.id in allowed)
        and all(getattr(c, col) == v for col, v in t.eq)
    )


def _field(field, p):
    """A match.bind field's value on a primitive (None when null)."""
    if type(field) is str:
        return getattr(p, field)
    v = getattr(p, field[1])
    if v is None:
        return None
    # ("lower", field) or ("key", field, comparator)
    return v.lower() if field[0] == "lower" else literal_key(v, field[2])


def _check(node, p, maxgen) -> bool:
    """Does primitive ``p`` pass the ``match.bind`` tree ``node``?
    ``maxgen(p)`` is the newest generation of p's lineage.  The tree
    is interpreted: a serving read checks one to a few candidates per
    constraint, fewer than would pay for compiling it to closures."""
    t = type(node)
    if t is match.In:
        v = _field(node.field, p)
        return node.null if v is None else v in node.values
    if t is match.And:
        for x in node.parts:
            if not _check(x, p, maxgen):
                return False
        return True
    if t is match.Newest:
        return _OPS[node.op](maxgen(p) - p.generation, node.n)
    if t is match.Or:
        return any(_check(x, p, maxgen) for x in node.parts)
    if t is match.Not:
        return not _check(node.part, p, maxgen)
    if t is match.Const:
        return node.value
    v = _field(node.field, p)
    if t is match.Cmp:
        return node.null if v is None else _OPS[node.op](v, node.lit)
    if t is match.Bin:
        o = match.SCAN_ORDERS[node.order](v)
        return o is not None and (
            node.op is None or _OPS[node.op](o, node.bound)
        )
    if t is match.Glob:
        return glob_match(node.pattern, v, node.case_sensitive)
    return delimited_match(node.pattern, v)


#: graphd_value_compare's cross-type rank (graphd-value.c fall-through
#: ``a->val_type - b->val_type``; enum graphd.h:1666-1678)
_KIND_RANK = {
    "value": b"1", "name": b"1", "type": b"1", "literal": b"1",
    "generation": b"3", "valuetype": b"3", "count": b"3",
    "guid": b"4", "left": b"4", "right": b"4", "typeguid": b"4",
    "scope": b"4", "previous": b"4", "next": b"4",
    "timestamp": b"7", "live": b"8", "archival": b"8",
    "datatype": b"9",
}


def _mixed_var_key(kind, v, comparator: str) -> bytes:
    """Mirror of Compiler._mixed_var_sort_key, over native values."""
    rank = _KIND_RANK.get(kind, b"9")
    if rank == b"1":
        return rank + literal_key(str(v), comparator)
    if rank in (b"3", b"7", b"9"):
        return rank + str(int(v)).rjust(20, "0").encode()
    if rank == b"8":
        return rank + (b"true" if v in (True, "true") else b"false")
    return rank + str(v).encode()  # guid hex


def _walk_patterns(con: Constraint):
    for node in con.walk():
        if node.result is not None:
            yield from node.result.walk()
        for _var, pat in node.assignments:
            yield from pat.walk()


def _wants_cursor(con: Constraint) -> bool:
    pat = con.result if con.result is not None else default_read_pattern()
    return any(p.kind == "cursor" for p in pat.walk())


def shape_flags(con: Constraint) -> dict:
    """Shape-constant serving-prologue verdicts, memoized on the
    constraint tree itself.  The prepared-shape cache
    (gql/prepared.py) rebinds STRING LITERAL VALUES into one shared
    patch-target tree per shape; structure, pattern kinds, and
    numeric fields (pagesize/count/start) are all part of the shape
    key, and every verdict below depends only on those — so a memo
    computed on the first request of a shape stays valid for every
    rebound request after it.  None of the verdicts read the store:
    a template's store context (mirror growth, asof horizon) cannot
    stale them.  An Unsupported verdict memoizes too (the Spark
    fallback re-raises without re-walking)."""
    memo = con.fr_memo
    if memo is None:
        memo = {}
        try:
            check_supported(con)
        except Unsupported as e:
            memo["unsupported"] = e.args[0] if e.args else ""
        pat = (
            con.result if con.result is not None
            else default_read_pattern()
        )
        kinds = {p.kind for p in pat.walk()}
        memo["wants_cursor"] = "cursor" in kinds
        memo["count_kind"] = bool(
            kinds & {"count", "estimate", "estimate-count"}
        )
        memo["wants_estimate"] = bool(
            kinds & {"estimate", "estimate-count"}
        )
        # cursor PRESENCE is structural (a cursor= token in the
        # shape), so it memoizes: rebinding only swaps string
        # contents, never None-ness — lets the cursorless hot path
        # skip the [n:H] bounds walk entirely
        memo["any_cursor"] = any(
            c.cursor is not None for c in con.walk()
        )
        con.fr_memo = memo
    if "unsupported" in memo:
        raise Unsupported(memo["unsupported"])
    return memo


def check_supported(con: Constraint) -> None:
    """Raise Unsupported unless every feature of the tree is mirrored."""
    from graphd_spark.compiler import effective_sub_cursor_mode

    def _walk(node, in_branch, depth, cdepth=0):
        if node is not con:
            wants = (
                node.cursor is not None
                or (node.result is not None and any(
                    p.kind == "cursor" for p in node.result.walk()
                ))
            )
            if wants:
                mode = effective_sub_cursor_mode(node)
                if mode is None:
                    raise Unsupported("sub-cursor-shape")
                # nested (depth >= 2) sorted cursor subs are allowed:
                # the reference applies the SAME per-parent machinery
                # at every depth (probed: a depth-2 chain over a
                # 3-mid cluster store is byte-identical to the
                # depth-1 chain over the mids as root parents), with
                # resumes walking rendered parents recursively in
                # render order (_eval_set).  Thawed nested grids that
                # fall outside the exact _ThawScan family raise in
                # _sub_sort_setup instead of riding the legacy
                # one-shot model unprobed.
        for chain in node.or_chains:
            for b in chain:
                # sub-bearing nested chains recurse since round 9
                # (readplan.bind_plan / _eval_branch)
                _walk(b, True, depth + 1, cdepth + 1)
        for _var, pat in node.assignments:
            if any(p.kind == "cursor" for p in pat.walk()):
                raise Unsupported("cursor-assignment")
        for s in node.subs:
            _walk(s, in_branch, depth + 1, cdepth)

    _walk(con, False, 0)


def _id_key(p, row):
    return p.id


def _put_page(row, sp: SubPlan, n, rows, keep_empty: bool = False) -> None:
    """One parent's count and page of agg sub ``sp`` into ``row``: no
    match under an outer sub is the left join's null (unless
    ``keep_empty``), and the sub's scalar variables sample the first
    paged row."""
    if n == 0 and sp.outer and not keep_empty:
        n = rows = None
    row[sp.cnt_col] = n
    row[sp.arr_col] = rows
    first = rows[0] if rows else None
    for newcol, src in sp.imports:
        row[newcol] = None if first is None else first.get(src)


def _ssims(plan: SetPlan):
    """The sorted-sub sorters anywhere in ``plan``'s tree."""
    for sp in (*plan.sub_plans, *plan.or_sub_plans):
        if sp.ssim is not None:
            yield sp.ssim
        yield from _ssims(sp.plan)


def _first_winners(branches, results, won: set) -> None:
    """The first flagged branch of a chain into ``won``, and the
    winners of its nested chains."""
    for bp, (flag, inner) in zip(branches, results):
        if flag:
            won.add(bp)
            for ibs, ires in inner:
                _first_winners(ibs, ires, won)
            return


class FastReader:
    """Mirror of Compiler.run for the supported subset (see module
    docstring).  Construction is cheap; one instance per request."""

    def __init__(self, store, types, asof: Optional[str] = None,
                 eval_cache: Optional[dict] = None,
                 cache_key: Optional[str] = None):
        self.store = store
        self.types = types
        self.asof = asof
        #: thawed sorted-cursor-sub simulation (see _ThawScan): set
        #: during _build_specs; _eval_set then consumes candidates
        #: lazily and resumes rendered parents in render order
        self._thaw_active = False
        self._thaw_by_row: dict = {}   # id(parent row) -> thaw resumes
        self._defer_by_row: dict = {}  # id(parent row) -> set resumes
        #: round 9: resumed UNSORTED or-branch sub cursors — the
        #: request-shared per-constraint 5-slot bad-id ring
        #: (graphd-bad-cache.c) and the deferred pass-2 records
        #: (graphd-read-set.c "defer results"); see _cursub_pass1
        self._cursub_ring: dict = {}   # id(sub con) -> [slots*5, idx]
        self._cursub_defer: list = []
        self._spec_depth = 0
        #: bound intrinsic tests (_matcher), keyed by (constraint
        #: identity, in_branch, iter_level, generation): a check runs
        #: once per CANDIDATE, but its tests depend only on the node's
        #: (rebound-per-request) constraints — constant within one
        #: reader, which lives for exactly one request
        self._matchers: dict = {}
        #: store-level (plan, matches) cache for repeated template
        #: shapes — the serving analog of the reference's iterator
        #: resource cache (graphd-iterator-resource.c): a cursor chain
        #: re-evaluates the same candidate set page after page, so
        #: caching the eval turns an O(n) page into an O(page) one.
        #: Keyed by the caller (request line sans cursor= + store
        #: version + asof); rows are never mutated after evaluation
        self._eval_cache = eval_cache
        self._cache_key = cache_key
        # asof= binds to an id horizon (cursor.asof_horizon, shared
        # with Compiler): candidates, traversal children, and
        # newest-ness all evaluate within it.  A thawed cursor's [n:H]
        # later NARROWS self.horizon the same way (run: the chain
        # lives at the store horizon it froze at), but only asof_mode
        # switches the asof FORMATS ([n:]-omission, dateline maxima)
        self.asof_mode: bool = asof is not None
        self.horizon: Optional[int] = (
            None if asof is None else asof_horizon(store, asof)
        )
        #: generational horizon: newest/live and lineage-pointer
        #: evaluation clamp here.  asof= sets it (time travel really
        #: rewinds the lineage view) — but a thawed chain's [n:H]
        #: does NOT: the reference bounds only the CANDIDATE id sets
        #: at the frozen horizon and evaluates newest-ness against
        #: the LIVE generation index, so a tombstone or version bump
        #: landing between pages drops the old row from a running
        #: chain (directed write-into-window fuzz, round 9; ref
        #: graphd_match -> pdb_generation checks read the current
        #: gmap, while thawed iterators carry frozen high bounds)
        self.gen_horizon: Optional[int] = self.horizon
        #: per-node EXCLUSIVE high bounds from cursor [n:H] envelopes
        #: (cursor.cursor_high_bounds; bound in run())
        self._node_high: dict = {}
        #: the bound of the node whose candidate set / frozen state
        #: is CURRENTLY being (re)generated (see _helper_high)
        self._cur_high = None

    # -- public ----------------------------------------------------------

    def run(self, con: Constraint):
        """Compiler.run's (plan, rows, total) from the driver mirror:
        the data plane is list slices of the matches, the page, count
        and cursor policy is cursor.py's (count_root_set,
        emit_root_cursor).  Raises Unsupported for shapes it leaves
        to the compiler."""
        flags = shape_flags(con)  # raises Unsupported; memoized
        wants_cursor = flags["wants_cursor"]
        cstate, resume, horizon, resume_guid, sort_body, sort_o = (
            thaw_envelope(con, self.types.resolve, self.asof_mode)
        )
        if cstate is not None and cstate.form not in (
            "all", "without", "fixed", "gmap", "hmap",
            "and_it", "or_it", "isa_it", "fixed_masq",
        ):
            raise Unsupported("cursor-form")
        # per-node candidate high bounds from every cursor [n:H] in
        # the tree, propagated exactly like the reference's
        # set_boundary (a primitive only points at smaller ids):
        # ancestors of a cursored 'my' sub get bounded — writepaged
        # seed 454's top-level producer thaws as all[0...H] — while
        # 'my' subs of a cursored node stay OPEN: a hot-key child
        # appended between pages still renders in contents (directed
        # write-into-window fuzz, round 9).  self.horizon itself
        # stays asof-only; chain bounds are per node.
        if flags["any_cursor"]:
            self._node_high = cursor_high_bounds(con)
            root_high = self._node_high.get(id(con))
        else:
            # no cursor= anywhere in the tree (shape-constant): no
            # [n:H] envelopes exist, so the bounds walk is skipped
            if self._node_high:
                self._node_high = {}
            root_high = None
        if horizon is not None and (
            root_high is None or horizon < root_high
        ):
            root_high = horizon
        ck = None
        if self._eval_cache is not None and self._cache_key is not None:
            # chain bounds narrow evaluation, so they key the eval
            # cache too (a fresh chain at the same store count must
            # not inherit a clamped candidate set); the fingerprint
            # walks the tree in deterministic parse order
            nh = self._node_high
            bounds_fp = tuple(
                (i, nh[id(n)])
                for i, n in enumerate(con.walk())
                if id(n) in nh
            ) if nh else ()
            ck = (self._cache_key, self.store._version,
                  self.store.count(), self.horizon, bounds_fp)
        hit = self._eval_cache.get(ck) if ck is not None else None
        if hit is not None:
            # shallow-copy the cached plan: cursor/cursor_ctx/countlimit
            # are (re)assigned per request below, and the cached object
            # must stay pristine for the next hit
            plan, matches = hit[0].__copy__(), list(hit[1])
        else:
            plan, matches = self._eval_set(con, exists_only=False)
            if ck is not None:
                # store a pristine copy — `plan` itself is mutated
                # below (cursor/countlimit) while serving this request
                self._eval_cache.put(ck, (plan.__copy__(), list(matches)))
        if root_high is not None:
            matches = [
                (p, r) for p, r in matches if p.id < root_high
            ]
        # a modeled iterator freeze resumes by iterator position, a
        # masqueraded fixed set by offset unless its raw array is
        # recovered (freeze.thaw)
        masq_raw = False
        if cstate is not None:
            t = freeze.thaw(self, con, cstate)
            masq_raw = cstate.form == "fixed_masq" and t.ids is not None
            if masq_raw:
                resume = 0
            keep = _thaw_pred(t)
            if keep is not None:
                matches = [(p, r) for p, r in matches if keep(p)]
        if number_sort_drops(con, self.store):
            matches = [
                (p, row) for p, row in matches
                if p.value is not None
                and number_sort_key(p.value) < b"\x02"
            ]
        skipped = backward = simulated = False
        if con.sort:
            skipped, backward, simulated = sort_production(con)
        sim_info = None
        rps = result_pagesize(con)
        if skipped:
            if backward:
                matches = matches[::-1]
        elif simulated and con.start + rps > 0:
            # real sort over id-ordered production: the reference's
            # bounded incremental sorter (sortsim.py) — tight pages
            # whose candidates interleave null keys truncate exactly
            # like graphd-sort.c, and cursor resumes replay the grid
            # rules (the round-5 null-class model is its special case)
            comps = sort_components(self, con, plan)
            entries = [
                (tuple(f(p, r) for f, _d, _p in comps), (p, r))
                for p, r in matches
            ]
            arr, accepted, trailing = sorter_run(
                self, con, plan, comps, entries, con.start + rps,
                resume_guid, sort_body,
            )
            matches = [payload for _k, payload in arr]
            resume = 0
            sim_info = (accepted, trailing)
        else:
            self._apply_sort(con, plan, matches)
        if resume_guid is not None and sim_info is None:
            resume, matches = resume_offset(
                self, matches, con, plan, resume_guid, sort_body
            )
        start = con.start + resume
        limit = start + rps
        # under the incremental-sorter sim, the set count is the
        # ACCEPTED count — prefilter-rejected candidates are invisible
        # (grsc_one_deliver_count_success fires on accept only)
        if sim_info is not None:
            full, trailing = sim_info
        else:
            full, trailing, sort_o = len(matches), None, None
        rows = [row for _p, row in matches[start:limit]] if rps > 0 else []
        need_total = needs_total(
            con, wants_cursor or flags["count_kind"]
        )
        total, shown = count_root_set(
            self, matches, full, con, plan,
            cstate=cstate, masq_raw=masq_raw, sort_o=sort_o,
            resume=resume, rps=rps, start=start, limit=limit,
            n_prefix=min(full, limit), need_total=need_total,
            wants_estimate=flags["wants_estimate"],
        )
        # one-shot sort-cursor thaw (sorted cursor subs): when the
        # reference's root scan evaluates the thawed sub under TWO OR
        # MORE parents, the first parent's frozen sort: cursor is
        # overridden to null: while its page CONTENT keeps the full
        # grid-replayed sort (probed round 6; graphd-read-set-cursor.c
        # "we'll later override the cursors we're setting right now
        # with empty ones"; later parents run degraded, see
        # _sub_sort_page).  The scan window mirrors the reference's
        # lazy consumption: it stops at the page-filling accept unless
        # counting forces a full scan.
        for sp in plan.sub_plans:
            ctx = getattr(sp.plan, "cursor_ctx", None)
            if ctx is not None:
                # iam-probe [n:] pins — see the probe notes on
                # _eval_set's plan._root_hmap1 / _root_matches
                ctx["root_vfam"] = getattr(plan, "_root_vfam", None)
                ctx["root_matches"] = getattr(
                    plan, "_root_matches", None
                )
                ctx["root_cands"] = getattr(
                    plan, "_root_cands", None
                )
        for ssim in getattr(plan, "_root_ssims", ()):
            if ssim.grid is None or ssim.first_key is None:
                continue
            accepts = 0
            for acc in ssim.evals:
                if acc:
                    accepts += 1
                    if not need_total and accepts >= limit:
                        break
            # the one-shot override counts ACCEPTED parents: a parent
            # the thawed grid rejects (its remaining kids fall at or
            # before the boundary, count-min fails) renders no sub
            # slot and leaves the first parent's cursor intact
            # (cursor fuzz seed 3134; the r6 probes that established
            # the override had every parent accepted)
            if accepts >= 2:
                ssim.sim.pop(ssim.first_key, None)
        if wants_cursor:
            emit_root_cursor(
                self, matches, con, plan,
                cstate=cstate, rows=rows,
                page=[p for p, _r in matches[start:limit]],
                resume=resume, start=start, limit=limit, total=total,
                horizon=horizon, sort_o=sort_o, trailing=trailing,
                skipped=skipped, backward=backward,
            )
        return plan, rows, shown

    # -- the data-plane steps of cursor.emit_root_cursor ------------------

    # -- the steps of sortsim.resume_offset -------------------------------

    _id_key = staticmethod(_id_key)

    @staticmethod
    def _boundary_keys(matches, comps, bid: int):
        for p, r in matches:
            if p.id == bid:
                return tuple(f(p, r) for f, _d, _p in comps)
        return None

    @staticmethod
    def _null_class(matches, fn, null: bool):
        return [(p, r) for p, r in matches if (fn(p, r) is None) == null]

    @staticmethod
    def _count_before(matches, comps, keys) -> int:
        specs = [(d, pre) for _f, d, pre in comps]
        return sum(
            1 for p, r in matches
            if _full_cmp(tuple(f(p, r) for f, _d, _p in comps), keys,
                         specs) < 0
        )

    def _more_than(self, matches, limit: int) -> bool:
        return len(matches) > limit

    def _probe_cursor(self, con, cstate, matches, total, delivered,
                      backward):
        # the count-min probe consumes `total` elements — the count
        # scan's consumption (probed: pagesize=0 countlimit=9 freezes
        # [o:3] all:0-3/3/), forward even under a backward sort; the
        # last one positions the cursor
        asc = matches[::-1] if backward else matches
        probe = [p for p, _r in asc[:total][-1:]]
        if not probe:
            return None
        return freeze._iterator_cursor(
            self, con, cstate, probe, matches, delivered
        )

    @contextmanager
    def _thaw_scope(self, horizon):
        """freeze.thaw's probes see the indexes at the asof horizon and
        the thawed cursor's own [n:H] (_helper_high)."""
        prev, self._cur_high = self._cur_high, horizon
        try:
            yield
        finally:
            self._cur_high = prev

    def _thaw_boundary(self, cstate) -> Optional[int]:
        """freeze.thaw's probe: the id of the cstate.pos-th element of
        the thawed gmap/hmap index within [low, high), in scan order
        (from the top for backward scans), or None."""
        st = self.store
        if cstate.form == "gmap":
            ids = self._gmap_index_ids(cstate.lk, cstate.src)
        else:
            if cstate.lk == "value":
                # the thawed key IS the stored normalization (case
                # preserved) — only case-fold it; re-normalizing is NOT
                # idempotent ("12e1" re-parses as the number 120 -> "12e2")
                ids = st._vnorm_ids.get(_ascii_lower(cstate.masq), ())
            else:
                ids = st._name_ids.get(cstate.masq.lower(), ())
            hb = self._helper_high()
            ids = sorted(i for i in ids if hb is None or i < hb)
        ids = [
            i for i in ids
            if cstate.low <= i and (cstate.high is None or i < cstate.high)
        ]
        if not ids:
            return None
        if cstate.backward:
            return ids[-cstate.pos:][0]
        return ids[:cstate.pos][-1]

    # -- the index probes of freeze._iterator_cursor ----------------------

    @contextmanager
    def _freeze_scope(self, con, cstate):
        """A refrozen iterator regenerates its provenance (expansions,
        producer positions, masquerades) within the bound it lives at —
        the incoming [n:H] / the node's propagated bound — never the
        grown live store (write-interleaved chains re-freeze the
        original fixed-isa provenance verbatim)."""
        prev = self._cur_high
        bounds = [
            b for b in (
                prev,
                cstate.horizon if cstate is not None else None,
                self._node_high.get(id(con)) if self._node_high else None,
            )
            if b is not None
        ]
        if bounds:
            self._cur_high = min(bounds)
        try:
            yield
        finally:
            self._cur_high = prev

    def _frozen_count(self, con, cstate) -> int:
        # the asof id horizon, a resumed chain's frozen [n:H] and the
        # node's propagated bound clamp every frozen bound
        count = self.store.count()
        for b in (
            None if self.horizon is None else self.horizon + 1,
            cstate.horizon if cstate is not None else None,
            self._node_high.get(id(con)) if self._node_high else None,
        ):
            if b is not None:
                count = min(count, b)
        return count

    def _row_id(self, p: Primitive) -> int:
        return p.id

    def _first_ids(self, matches, n: int) -> list[int]:
        return sorted(p.id for p, _r in matches)[:n]

    def _gmap_index_ids(self, lk: str, src: int) -> list[int]:
        """The linkage index set's ids (index order == id order),
        clamped at the helper bound."""
        g = guid_compose(self.store.db_id, src)
        ids = list(self.store._ptr_ids.get((GMAP_COLS[lk], g), ()))
        _hb = self._helper_high()
        if _hb is not None:
            ids = [i for i in ids if i < _hb]
        return ids

    def _gmap_stats(self, lk: str, src: int, last_id: int):
        ids = self._gmap_index_ids(lk, src)
        if not ids:
            return None, None, None
        return ids[0], ids[-1] + 1, bisect.bisect_right(ids, last_id)

    def _gmap_tail(self, lk: str, src: int, last_id: int) -> Optional[int]:
        ids = self._gmap_index_ids(lk, src)
        if last_id not in ids:
            return None
        return len(ids) - ids.index(last_id)

    def _and_producer_pos(self, member, boundary_id, backward):
        ids = self._gmap_index_ids(member["letter"], member["src"])
        if not ids:
            return None
        if backward:
            return len(ids) - bisect.bisect_right(ids, boundary_id - 1)
        return bisect.bisect_right(ids, boundary_id)

    def _hmap_bin(self, tname: str, key: str) -> Optional[tuple]:
        # the value hash buckets by pdb_hmap_value_normalize, i.e. the
        # stored value_norm column ("12"/"12.0"/"+12" share one bin,
        # and so do "2006-01-02"/"2006-1-2"; cursor-fuzz seed 81); the
        # set string carries the normalized key
        from graphd_spark.comparators import normalize_value

        st = self.store
        if tname == "name":
            ids = list(st._name_ids.get(key.lower(), ()))
        else:
            ids = sorted(st._vnorm_ids.get(value_norm_key(key), ()))
            key = normalize_value(key)
        _hb = self._helper_high()
        if _hb is not None:
            ids = [i for i in ids if i < _hb]
        if not ids:
            return None
        return tname, key, ids[0], ids[-1] + 1, len(ids), ids

    def _bin_rank(self, ids, last_id: int) -> int:
        return bisect.bisect_right(ids, last_id)

    def _live_sources(self, lk: str, hm) -> list[int]:
        return [i for i in hm[5] if self._gmap_index_ids(lk[0], i)]

    def _linksto_span(self, lk: str, hm) -> Optional[tuple]:
        st = self.store
        tgt: set[int] = set()
        for i in hm[5]:
            tgt.update(st._ptr_ids.get((lk, st.rows[i - st._base].guid), ()))
        if not tgt:
            return None
        return min(tgt), max(tgt) + 1, tgt

    def _endpoint_span(self, pairs) -> Optional[tuple]:
        ptr = self.store._ptr_ids
        span = set(ptr.get(pairs[0], ()))
        for key in pairs[1:]:
            span &= set(ptr.get(key, ()))
        if not span:
            return None
        return min(span), max(span) + 1

    def _sub_single_id(self, sub: Constraint) -> Optional[int]:
        try:
            _plan, sm = self._eval_set(sub, exists_only=True)
        except GraphdError:
            return None
        if len(sm) != 1:
            return None
        return sm[0][0].id

    def _sub_targets(self, sub, lk: str, n: int) -> Optional[list]:
        try:
            _plan, sm = self._eval_set(sub, exists_only=True)
        except GraphdError:
            return None
        return [getattr(p, lk) for p, _r in sm[:n]]

    def _prefix_bin_ids(self, prefix: str) -> list[int]:
        """Ascending ids in the word-index bins a prefix scan for
        ``prefix`` enumerates (libpdb/pdb-prefix.c candidate arrays,
        hash-bucket membership rather than true matches)."""
        ids: set[int] = set()
        for lst in prefix_bins(self.store._word_ids, prefix):
            ids.update(lst)
        _hb = self._helper_high()
        if _hb is not None:
            # asof/chain: bins only hold ids under the bound
            ids = {i for i in ids if i < _hb}
        return sorted(ids)[: _FIXED_MATERIALIZE_MAX + 1]

    def _prefix_stats(self, prefix: str):
        bins = [
            (len(lst), min(lst))
            for lst in prefix_bins(self.store._word_ids, prefix)
            if lst
        ]
        return _prefix_rollup(prefix, bins, self.store.count())

    def _member_intersection(self, members, bi) -> list[int]:
        """Sorted id intersection of the and-members' candidate sets
        (prefix bins keep their hash false positives)."""
        sets = []
        for m in members:
            if m["kind"] == "gmap":
                sets.append(set(self._gmap_index_ids(m["letter"], m["src"])))
            elif m["kind"] == "prefix":
                sets.append(set(self._prefix_bin_ids(m["prefix"])))
            else:
                sets.append(set(m["index"]))
        return sorted(set.intersection(*sets))

    def _isa_expansion_ids(self, con, sh=None) -> Optional[list]:
        """The RAW materialized target set of an hmap-sub expansion
        (bin false positives and later-rejected targets included — the
        reference's fixed iterator bounds and /POS/ count them)."""
        sh = sh or freeze._isa_sub_hmap(self, con)
        if sh is None:
            return None
        sub, hm = sh
        lk = sub.linkage[1]
        out = set()
        for i in hm[5]:
            p = self.store.get(guid_compose(self.store.db_id, i))
            if p is None:
                continue
            g = getattr(p, lk)
            if g is not None:
                out.add(guid_serial(g))
        return sorted(out)

    def _linksto_expansion_ids(self, con) -> Optional[list]:
        """RAW candidate set of an IAM-form value/name-bin expansion:
        every pointer whose linkage hits the sub's NORM-HASH bucket —
        hash-collision false positives included, exactly the set the
        reference's linksto pre-evaluation materializes (probed:
        sortcursor fuzz seed 1402, where three bucket collisions the
        checks later reject still occupy frozen positions)."""
        ls = freeze._lone_sub(con, "iam")
        if ls is None:
            return None
        sub, lk = ls
        hm = freeze._hmap_source(self, sub)
        if hm is None:
            return None
        st = self.store
        out: set = set()
        for i in hm[5]:
            g = st.rows[i - st._base].guid
            out.update(st._ptr_ids.get((lk, g), ()))
        _hb = self._helper_high()
        if _hb is not None:
            out = {i for i in out if i < _hb}
        return sorted(out) or None

    def _or_union_ids(self, con) -> Optional[list]:
        """Iterator-level pre-evaluated candidate ids of an or-chain
        ROOT (ascending, deduped): the union over branches of each
        branch's iterator — hmap bins for value=/name= equalities
        (normalization collisions included), gmap spans for type=,
        linksto/fan-in expansions for branch subs, intersections for
        conjoined clauses, recursion for nested chains (ref
        graphd-constraint-iterator.c or-union; graphd-iterator-or.c).
        None when the root shape or a branch clause falls outside the
        modeled family, or the union exceeds the materialization cap
        — callers keep their existing fallbacks."""
        if len(con.or_chains) != 1 or con.subs:
            return None
        if con.sort is not None:
            # a PERFECT leading timestamp/guid key rides the union's
            # id order (graphd_sort_needed false — writepaged seed
            # 39); real sorts route through the sorter (unmodeled)
            first0 = con.sort[0]
            if first0.pattern.kind not in ("timestamp", "guid") \
                    or first0.descending:
                return None

        def raw_bin(tname, key):
            # UNCLAMPED bin members: the frozen pre-evaluated set is
            # the raw index content — an asof read's acceptance
            # filter does NOT narrow the frozen union (seed 4160:
            # the reference freezes ids past the asof horizon)
            if tname == "name":
                return set(self.store._name_ids.get(key.lower(), ()))
            from graphd_spark.comparators import value_norm_key

            return set(
                self.store._vnorm_ids.get(value_norm_key(key), ())
            )
        if (
            con.value_strcons or con.name_strcons or con.type_strcons
            or con.guid or con.links or con.next or con.prev
        ):
            return None  # conjoined root predicates: and-iterator
        st = self.store

        def sub_parent_ids(sub) -> Optional[set]:
            # linksto/fan-in expansions run under the request's asof
            # id horizon (the pdb iterators carry con_high), while
            # raw hmap BINS keep their beyond-horizon members
            # (cursor seeds 4449 vs 4160)
            _ah = self.horizon
            kind, lk = sub.linkage or (None, None)
            if kind not in ("my", "iam") or lk == "bi":
                return None
            if sub.subs or sub.or_chains or sub.guid:
                return None
            child_ids: Optional[set] = None
            for tname, scs in (
                ("value", sub.value_strcons),
                ("name", sub.name_strcons),
            ):
                for sc in scs:
                    if sc.op != "=" or len(sc.values) != 1 \
                            or not sc.values[0]:
                        return None
                    b = raw_bin(tname, sc.values[0])
                    child_ids = b if child_ids is None \
                        else (child_ids & b)
            if sub.type_strcons:
                return None
            if child_ids is not None and _ah is not None:
                child_ids = {c for c in child_ids if c <= _ah}
            if kind == "my":
                if child_ids is None:
                    # bare linkage: every pointed-at parent
                    out = {
                        st.by_guid[g].id
                        for (l, g) in st._ptr_ids
                        if l == lk and g in st.by_guid
                    }
                else:
                    out = set()
                    for cid in child_ids:
                        g = getattr(st.rows[cid - st._base], lk, None)
                        t = st.by_guid.get(g) if g is not None else None
                        if t is not None:
                            out.add(t.id)
            else:
                # iam: parent.lk == child.guid
                if child_ids is None:
                    return None  # bare iam: every linking primitive
                out = set()
                for cid in child_ids:
                    g = st.rows[cid - st._base].guid
                    out.update(st._ptr_ids.get((lk, g), ()))
            if _ah is not None:
                out = {i for i in out if i <= _ah}
            return out

        def branch_ids(b) -> Optional[set]:
            if b.false:
                return set()
            if (
                b.guid or b.links or b.next or b.prev
                or b.assignments
            ):
                return None
            sets: list = []
            for tname, scs in (
                ("value", b.value_strcons), ("name", b.name_strcons)
            ):
                for sc in scs:
                    if sc.op != "=" or len(sc.values) != 1 \
                            or not sc.values[0]:
                        return None
                    sets.append(raw_bin(tname, sc.values[0]))
            if b.type_strcons:
                return None
            for sub in b.subs:
                sp_ids = sub_parent_ids(sub)
                if sp_ids is None:
                    return None
                sets.append(sp_ids)
            for ch in b.or_chains:
                u: set = set()
                for x in ch:
                    xi = branch_ids(x)
                    if xi is None:
                        return None
                    u |= xi
                sets.append(u)
            if b.timestamps:
                return None
            if not sets:
                return None  # unconstrained branch matches all
            out = sets[0]
            for s in sets[1:]:
                out &= s
            return out

        union: set = set()
        for b in con.or_chains[0]:
            bi = branch_ids(b)
            if bi is None:
                return None
            union |= bi
            if len(union) > _FIXED_MATERIALIZE_MAX:
                return None
        ids = sorted(
            i for i in union if st._base <= i < st.next_id
        )
        return ids or None

    # -- sorting (one key function per _sort_key column) ------------------

    def _apply_sort(self, con: Constraint, plan: SetPlan, matches) -> None:
        """In-place multi-key sort, id tiebreak last, null placement as
        asc_nulls_last / desc_nulls_first (the comparator sort keys
        are the Python functions the Spark path wraps in pandas UDFs,
        so byte order is identical).  An unsorted read a value range
        produces surfaces in that range's scan order."""
        if con.sort is None:
            scan = range_scan_order(con)
            if scan is not None:
                def key(m):
                    k = scan(m[0].value)
                    return (k is None, 0 if k is None else k, m[0].id)

                matches.sort(key=key)
            return
        # stable passes from the least-significant key up
        for fn, desc, _p in reversed(sort_components(self, con, plan)):
            def key(m, fn=fn):
                k = fn(m[0], m[1])
                return (k is None, 0 if k is None else k)
            matches.sort(key=key, reverse=desc)

    def _sort_key(self, pat, con, plan: SetPlan, comparator: str):
        """sortsim's key step: the ``(primitive, row)`` function one
        sort key orders by, None when the plan has none."""
        k = pat.kind
        if k == "value" and comparator == "default":
            return lambda p, row: p.value_fkey
        if k in ("value", "name"):
            return lambda p, row, c=comparator, f=k: (
                None
                if getattr(p, f) is None
                else literal_key(getattr(p, f), c)
            )
        if k == "guid":
            return lambda p, row: p.id
        if k in ("timestamp", "generation", "datatype"):
            return lambda p, row, f=k: getattr(p, f)
        if k == "valuetype":
            return lambda p, row: p.datatype
        if k in ("left", "right", "typeguid", "scope"):
            return lambda p, row, f=k: getattr(p, f)
        if k == "type":
            return lambda p, row: p.typeguid
        if k in ("live", "archival"):
            return lambda p, row, f=k: getattr(p, f)
        if k == "previous":
            return lambda p, row: p.prev
        if k == "next":
            return lambda p, row: self.store.successor(p.guid)
        if k == "meta":
            return lambda p, row: 1 if p.left is None else 2
        if k == "contents":
            for sp in plan.sub_plans:
                if sp.mode == "agg":
                    def ckey(p, row, col=sp.arr_col):
                        arr = None if row is None else row.get(col)
                        if arr is None:
                            return None
                        return b"".join(
                            (fuzzy_key(e["value"]) or b"") + b"\x00"
                            for e in arr
                        )
                    return ckey
            return None
        if k == "variable":
            vcol = plan.var_cols.get(pat.var)
            if vcol is not None:
                kcol = plan.var_kind_cols.get(pat.var)
                if kcol is not None:
                    # mixed-kind or-variable: rank byte + per-type key
                    # (byte-identical to _mixed_var_sort_key)
                    return lambda p, row, c=comparator, v=vcol, kc=kcol: (
                        None
                        if row is None or row.get(v) is None
                        else _mixed_var_key(row[kc], row[v], c)
                    )
                kind = plan.var_kinds.get(pat.var)
                if kind in ("value", "name", "type", "literal"):
                    return lambda p, row, c=comparator, v=vcol: (
                        None
                        if row is None or row.get(v) is None
                        else literal_key(row[v], c)
                    )
                return lambda p, row, v=vcol: (
                    None if row is None else row.get(v)
                )
            entry = plan.var_patterns.get(pat.var)
            if entry is not None:
                _sp, acol, ccol, vpat = entry
                if any(pp.kind == "count" for pp in vpat.walk()):
                    # $v=count: order by the child-set count
                    return lambda p, row, cc=ccol: (
                        0
                        if row is None or row.get(cc) is None
                        else row[cc]
                    )
                field = None
                for pp in vpat.walk():
                    if pp.kind in ("value", "name"):
                        field = pp.kind
                        break
                    if pp.kind == "guid":
                        field = "guid"
                        break
                if field is not None:
                    def vkey(p, row, a=acol, f=field):
                        arr = None if row is None else row.get(a)
                        if arr is None:
                            return None
                        return b"".join(
                            (fuzzy_key(e[f]) or b"") + b"\x00"
                            for e in arr
                        )
                    return vkey
            return None
        raise GraphdError("SEMANTICS", f"unsupported sort key {k!r}")

    # -- set evaluation ---------------------------------------------------
    #
    # The plan tree (readplan.bind_plan) is bound ONCE per request, the
    # plan the compiler renders, so every child row in an aggregated
    # array carries the compiled frame's nested column names.

    def _build_specs(self, con: Constraint, exists_only: bool) -> SetPlan:
        """``con``'s bound read plan with this request's data-plane
        state attached to its agg subs."""
        plan = bind_plan(con, exists_only)
        self._attach_state(plan)
        return plan

    def _attach_state(self, plan: SetPlan) -> None:
        """Each agg sub's thawed cursor state, child restriction and
        sorted-sub sorter (_sub_cursor_setup_f), children first; and,
        for root subs, whether a live sorted-cursor thaw sits strictly
        below (its set evaluation defers, see _agg_step)."""
        if not plan.sub_plans and not plan.or_sub_plans:
            return
        self._spec_depth += 1
        try:
            for sp in plan.sub_plans:
                self._attach_state(sp.plan)
                if sp.mode == "agg":
                    sp.cstate, sp.cfilter, sp.ssim = (
                        self._sub_cursor_setup_f(sp)
                    )
            for sp in plan.sub_plans:
                sp.has_thaw = any(
                    c.has_thaw
                    or (c.ssim is not None and c.ssim.thaw is not None)
                    for c in sp.plan.sub_plans
                )
            for sp in plan.or_sub_plans:
                self._attach_state(sp.plan)
                sp.cstate, sp.cfilter, sp.ssim = self._sub_cursor_setup_f(sp)
        finally:
            self._spec_depth -= 1

    def _resume_deferred_set(self, entry):
        """Continue a count-min-deferred ancestor set to its page
        bound (lo + rps accepted, or candidate exhaustion) at render-
        resume time.  Each newly accepted candidate's subtree runs its
        own nested thaw verify here, which is exactly when the
        reference runs it (graphd-read-set-defer.c); the parent row's
        count/array columns are finalized in place."""
        p, sp, kids, cand_ids, ci, row = entry
        stop = sp.lo + sp.rps
        while ci < len(cand_ids) and len(kids) < stop:
            cid = cand_ids[ci]
            ci += 1
            c = self.store.rows[cid - self.store._base]
            if sp.cfilter is not None and not sp.cfilter(c):
                continue
            crow = self._row_for(c, sp.plan, build_row=True)
            if crow is not _NO_MATCH:
                kids.append((c, crow))
        _put_page(row, sp, len(kids), [r for _c, r in kids[sp.lo:stop]])

    def _eval_set(self, con: Constraint, exists_only: bool):
        """Scope wrapper: the node's cursor [n:] bound applies to its
        candidate/index generation (see _helper_high)."""
        prev = self._cur_high
        self._cur_high = (
            self._node_high.get(id(con)) if self._node_high else None
        )
        try:
            return self._eval_set_inner(con, exists_only)
        finally:
            self._cur_high = prev

    def _eval_set_inner(self, con: Constraint, exists_only: bool):
        """The bound plan evaluated over the mirror: returns
        (SetPlan, matches) with matches an id-ordered list of
        (prim, rowdict)."""
        plan = self._build_specs(con, exists_only)
        plan._root_ssims = list(_ssims(plan))
        # thawed sorted cursor sub: the shared bad-id ring makes
        # evaluation ORDER-DEPENDENT, so the root scan must consume
        # candidates exactly as far as the reference's lazy traversal
        # (start + pagesize accepted parents; the reference's +1
        # lookahead only applies when the ROOT wants a cursor, which
        # is gated out here), and the deferred sub evaluations resume
        # only for parents actually rendered, in render order.
        stop_at = None
        if self._thaw_active:
            if (
                exists_only
                or con.sort is not None
                or con.cursor is not None
                # (the IMPLICIT countlimit start+pagesize is always
                # set on paged reads; with no count pattern rendered
                # it never changes scan behavior, so it is allowed)
                or con.count_eq is not None
                or con.count_max is not None
                or (con.count_min or 0) > 1
                or (con.result is not None and any(
                    pat.kind in (
                        "count", "estimate", "estimate-count", "cursor",
                    )
                    for pat in con.result.walk()
                ))
            ):
                raise Unsupported("thaw-sort-root-shape")
            rps = result_pagesize(con)
            stop_at = (con.start or 0) + rps
        matches = []
        ncand = 0
        # the node's propagated cursor [n:] bound applies DURING the
        # scan, not as a post-filter: an out-of-bound candidate must
        # never run its sub verify (its rejections would churn the
        # shared bad-id ring — writepaged seed 454)
        _nb = self._node_high.get(id(con))
        for p in self._candidates(con):
            if self.horizon is not None and p.id > self.horizon:
                continue
            if _nb is not None and p.id >= _nb:
                continue
            ncand += 1
            row = self._row_for(p, plan, build_row=not exists_only)
            if row is not _NO_MATCH:
                matches.append((p, row))
                if stop_at is not None and len(matches) >= stop_at:
                    break
        if self._cursub_defer:
            # pass 2 of the resumed branch-sub cursor model: rendered
            # parents' deferred evals continue in parent order (ring
            # state as poisoned by every pass 1 above)
            rendered: set = set()

            def _collect_rows(rws):
                for r in rws:
                    if isinstance(r, dict):
                        rendered.add(id(r))
                        for v in r.values():
                            if isinstance(v, list):
                                _collect_rows(v)

            _collect_rows([r for _p, r in matches if r is not None])
            self._cursub_finalize(rendered)
        if self._thaw_active and (self._thaw_by_row or self._defer_by_row):
            lo = con.start or 0

            def _resume_walk(row, node: SetPlan):
                # render order (spew-trace-derived): subs in parse
                # order, or-branch subs after them; a sub's deferred
                # SET continuation completes first (evaluating
                # remaining candidates, each running its nested thaw
                # verify), then the sub's own deferred thaw resumes,
                # then its rendered page recurses — registries are
                # consulted LIVE because a set resume registers fresh
                # entries for the rows it creates
                rid = id(row)
                for sp in (*node.sub_plans, *node.or_sub_plans):
                    if sp.arr_col is None:
                        continue
                    for entry in list(self._defer_by_row.get(rid, ())):
                        if entry[1] is sp:
                            self._resume_deferred_set(entry)
                    for p2, sp2, rows_list, prow in self._thaw_by_row.get(
                        rid, ()
                    ):
                        if sp2 is not sp:
                            continue
                        n = sp.ssim.thaw.resume(p2, sp, rows_list)
                        if n and prow.get(sp.cnt_col):
                            # final accepted count: the render-side
                            # exhaustion check (delivered >=
                            # accepted -> null:) must see the
                            # completed evaluation
                            prow[sp.cnt_col] = n
                    for krow in list(row.get(sp.arr_col) or ()):
                        if isinstance(krow, dict):
                            _resume_walk(krow, sp.plan)

            for _pr, row in matches[lo:]:
                if row is not None:
                    _resume_walk(row, plan)
        # iam pagesize=0 probe [n:] pins (probed round 6, 11 probe
        # shapes vs the binary; cursor fuzz seed 2120):
        # - a single-element value/name hmap (or word-prefix) bin
        #   root pins [n:] at the PARENT id;
        # - any other root whose total accepted match count is 1
        #   (single-candidate gmap/guid roots, wide bins with one
        #   survivor, sub-join rejections included) pins [n:] at the
        #   TARGET id + 1 — the per-parent pre-evaluated fixed set's
        #   natural high bound;
        # - 2+ accepted matches keep the store horizon even when
        #   only one parent renders (pagesize=1 probed).
        plan._root_vfam = self._root_value_family(con)
        plan._root_matches = len(matches)
        plan._root_cands = ncand
        return plan, matches

    def _root_value_family(self, con: Constraint):
        """Which VALUE-side producer the contest gives this root —
        decides an iam ps0 probe's [n:] pin (probed round 7; cursor
        fuzz seed 2218 + 9 directed shapes):

        - "hmap":  value= equality buckets and value~= globs (any
          wildcard position) pin the PARENT's own id when exactly
          one root match is accepted;
        - "vrange": value range predicates keep the string vrange,
          which spans the store — [n:] stays the horizon even for a
          single accepted match;
        - None: guid includes, name=/type= producers, and everything
          else — the target+1 / horizon tiers apply.

        Mirrors the contest order in _candidates: guid include, then
        value= buckets, then name=, then type=, then globs/ranges.
        Every round-6 probe of the name/value families had parent id
        == target+1, so the old single-tier reading fit either."""
        if self._guid_include_ids(con) is not None:
            return None
        comp = resolve_comparator(con.value_comparator or con.comparator)
        eqs = [sc for sc in con.value_strcons if sc.op == "="]
        if eqs and comp in ("default", "case", "octet"):
            lits = [v for v in eqs[0].values if v is not None]
            if lits and "" not in lits and not any(
                v is None for v in eqs[0].values
            ):
                return "hmap"
        if any(sc.op == "=" for sc in con.name_strcons):
            return None
        teqs = [sc for sc in con.type_strcons if sc.op == "="]
        if teqs and not any(v is None for v in teqs[0].values):
            return None
        if any(
            sc.op == "~=" and len(sc.values) == 1 and sc.values[0]
            for sc in con.value_strcons
        ):
            return "hmap"
        if comp in ("default", "case", "octet") and any(
            sc.op in ("<", "<=", ">", ">=")
            for sc in con.value_strcons
        ):
            return "vrange"
        return None

    def _sub_cursor_setup_f(self, sp: SubPlan):
        """Subconstraint cursors (ref graphd-read-set-cursor.c;
        test/unit/cursor6.sh): freeze.thaw_sub's restriction as a
        per-parent child filter (returned with the cstate, applied in
        _row_for's candidate loop), and when the sub's result wants a
        cursor the cursor_ctx the shared assembler freezes from (see
        compiler.sub_cursor_mode for the probed family)."""
        sub, sub_plan = sp.sub, sp.plan
        cstate, t, ctx = freeze.thaw_sub(self, sub)
        cfilter = _thaw_pred(t)
        if ctx is None:
            return cstate, cfilter, None
        from graphd_spark.compiler import effective_sub_cursor_mode

        mode = effective_sub_cursor_mode(sub)
        if mode is None:
            raise Unsupported("sub-cursor-shape")
        if mode == "sort":
            # value/name sorted sub: per-parent incremental sorter
            # with a raw-value grid thawed from the sort: cursor
            ssim, thawed_n = self._sub_sort_setup(sp)
            sort_cfilter = None
            if thawed_n is not None:
                sort_cfilter = lambda c, _n=thawed_n: c.id < _n
                if self.horizon is None:
                    ctx["horizon"] = thawed_n
            ctx.update(mode="sort", offset=ssim.offset, sim=ssim.sim)
            sub_plan.cursor_ctx = ctx
            return None, sort_cfilter, ssim
        rps0 = result_pagesize(sub)
        if rps0 == 0 and (
            sub.value_comparator or sub.comparator
        ) is None:
            # pagesize-0 probes: a value=/name= equality whose hmap
            # bin holds exactly ONE raw element pre-evaluates to a
            # bounded fixed iterator, pinning [n:] at element+1
            # (probed: single bins bound, wider bins keep the store
            # horizon; cursor fuzz seed 1885)
            ph = None
            for sc in sub.value_strcons:
                if (
                    sc.op == "=" and len(sc.values) == 1
                    and sc.values[0] is not None
                ):
                    b = self.store._vnorm_ids.get(
                        value_norm_key(sc.values[0]), ()
                    )
                    if len(b) == 1:
                        hb = b[0] + 1
                        ph = hb if ph is None else min(ph, hb)
            for sc in sub.name_strcons:
                if (
                    sc.op == "=" and len(sc.values) == 1
                    and sc.values[0] is not None
                ):
                    b = self.store._name_ids.get(
                        sc.values[0].lower(), ()
                    )
                    if len(b) == 1:
                        hb = b[0] + 1
                        ph = hb if ph is None else min(ph, hb)
            # single-element word-PREFIX bins bound the same way
            # (probed: my-subs and iam subs both pin element+1; the
            # prefix-bin bound outranks the iam parent-id pin —
            # cursor fuzz seed 2120's root shape)
            pfx = _prefix_pattern(sub)
            if pfx is not None:
                b = self._prefix_bin_ids(pfx)
                if len(b) == 1:
                    hb = b[0] + 1
                    ph = hb if ph is None else min(ph, hb)
            if ph is not None:
                ctx["probe_high"] = ph
        ctx.update(self.sub_cursor_index(sub, mode, cstate))
        sub_plan.cursor_ctx = ctx
        return cstate, cfilter, None

    def _sub_sort_setup(self, sp: SubPlan):
        """Build the per-sub incremental-sorter state (_SubSortState)
        for a value/name-sorted cursor sub, thawing a ``sort:`` resume
        into the raw-value boundary grid.

        Probed thaw semantics (round 6): the grid is built from the
        cursor's SERIALIZED values directly — no candidate lookup, so
        a boundary foreign to a parent's child set still prefilters it
        (a parent whose children all compare <= the boundary loses its
        contents and drops if the sub is mandatory).  Only the FIRST
        parent evaluated gets the full grid-resumed sorter; later
        parents in the same resumed read apply the grid prefilter in
        producer order WITHOUT sorting and freeze ``null:`` (the
        reference's one-shot sort-cursor thaw; graphd-read-set.c
        grsc_initialize_sort + graphd-sort.c graphd_sort_cursor_set)."""
        sub, sub_plan = sp.sub, sp.plan
        keyfns = []
        for pat, comp, desc in sort_keys(sub):
            fn = self._sort_key(pat, sub, sub_plan, comp)
            if fn is None:
                raise Unsupported("sub-sort-key")
            keyfns.append((fn, desc, comp, pat.kind))
        P = (sub.start or 0) + result_pagesize(sub)
        if P <= 0:
            raise Unsupported("sub-sort-pagesize0")
        specs = [(d, True) for _f, d, _c, _k in keyfns]
        specs.append((False, True))  # id tiebreak
        grid = None
        offset = 0
        ended = False
        thawed_n = None
        cur = sub.cursor
        if cur is not None:
            if cur == "null:":
                ended = True
            elif cur.lower().startswith("sort:"):
                offset, thawed_n, body = scan_prefix(cur[5:])
                offset = offset or 0
                if body == "END":
                    ended = True
                elif body == "START":
                    pass
                else:
                    vals, bguid = freeze.deserialize_sort_values(body)
                    if vals is None:
                        raise Unsupported("sub-sort-cursor")
                    grid = self._sort_grid_keys(keyfns, vals, bguid)
                    if grid is None:
                        raise Unsupported("sub-sort-grid")
            else:
                # an iterator-form cursor pasted into a sorted sub —
                # unmodeled interplay
                raise Unsupported("sub-sort-cursor-form")
        sims = [(d, pre) for d, pre in specs]
        ssim = _SubSortState(P, keyfns, sims, grid, offset, ended)
        if grid is not None and not ended:
            ssim.thaw = self._make_thaw_scan(
                sp, keyfns, sims, grid, P, offset, thawed_n
            )
            if ssim.thaw is not None:
                self._thaw_active = True
            elif self._spec_depth > 1:
                # a NESTED thawed grid outside the exact _ThawScan
                # family would ride the legacy one-shot model, which
                # is only probed at depth 1 — fall back to Spark
                raise Unsupported("nested-sort-legacy-thaw")
        return ssim, thawed_n

    def _make_thaw_scan(self, sp: SubPlan, keyfns, specs, grid, P, offset,
                        thawed_n):
        """Build the exact thaw simulation (_ThawScan) when the shape
        is inside the probed family; None falls back to the legacy
        one-shot grid model (descending first keys, non-bin
        comparators — unprobed).  Depth is NOT a gate: the reference
        runs the identical global-producer scan for nested sorted
        subs (probed depth-2 chains match depth-1 byte-for-byte);
        nested shapes that would fall to the LEGACY model raise
        Unsupported in _sub_sort_setup instead."""
        sub = sp.sub
        sk0 = sub.sort[0]
        if sub.subs or sub.or_chains:
            return None  # nested checks inside the scan: unprobed
        if sub.count_eq is not None or sub.count_max is not None:
            return None  # exact-count demands disable the verify defer
        if sub.result is not None and any(
            pat.kind in ("count", "estimate", "estimate-count")
            for pat in sub.result.walk()
        ):
            return None  # rendered counts force full scans
        kind = sk0.pattern.kind
        comp = keyfns[0][2]
        rows = self.store.rows
        binfn = None
        if kind == "name":
            # no name-ordered index: the reference runs the all-scan
            # in id order (observed: ``all[0...n]`` producer) — an
            # UNORDERED producer, so no sort-window exit
            if sk0.descending:
                return None  # backward name thaw: unprobed
            order = list(rows)
        elif kind == "value":
            if comp == "default":
                ofn = string_bin_order
            elif comp == "number" and not sk0.descending:
                ofn = number_scan_order
            elif comp == "datetime" and not sk0.descending:
                ofn = datetime_scan_order
            else:
                # octet/case bins, and the backward NUMBERS/datetime
                # bin walks, are unprobed
                return None
            order = [p for p in rows if p.value is not None]
            # vrange order: bins in comparator order, ids ASCENDING
            # within each bin; a backward vrange reverses the BIN
            # walk but keeps within-bin id order (probed: a thawed
            # (-value) chain over multi-bin values scans high bins
            # first, each in ascending id order)
            desc = sk0.descending

            def _bin_key(p):
                k = ofn(p.value)
                if k is None:
                    return (1, 0, p.id)
                return (0, -k if desc else k, p.id)

            try:
                order.sort(key=_bin_key)
            except TypeError:
                return None  # unorderable bin keys: fall back
            # the vrange null tail: null-VALUED primitives ride at
            # the END of the bin walk in id order — which for the
            # BACKWARD walk means they come FIRST (observed: the
            # forward scan yields them ascending after the last bin;
            # the backward scan visits the same end first)
            nulls = [p for p in rows if p.value is None]
            order = nulls + order if desc else order + nulls

            def binfn(p, _ofn=ofn):
                # RAW producer scan order (vrange_value_beyond
                # decodes per comparator; direction rides desc0)
                if p.value is None:
                    return None
                return _ofn(p.value)
        else:
            return None
        return _ThawScan(
            self, sub, keyfns, specs, grid, P, offset, thawed_n,
            sp.count_min, order, binfn=binfn,
            comp0=comp, desc0=sk0.descending,
        )

    def _sort_grid_keys(self, keyfns, vals, bguid):
        """Map the deserialized boundary VALUES onto the comparator
        sort keys the simulator compares (a trailing guid tiebreak
        always closes)."""
        keys = []
        for (_fn, _d, comp, kind), (tag, raw) in zip(keyfns, vals):
            k = freeze.frozen_sort_key(kind, comp, tag, raw)
            if k is freeze.UNKEYED or (kind == "guid" and k is None):
                return None
            keys.append(k)
            if kind == "guid":
                # the keys end at the first guid key, as the
                # serializer's do
                return tuple(keys) + (k,)
        if len(vals) != len(keyfns) + 1:
            return None
        return tuple(keys) + (bguid,)

    def _sub_sort_page(self, ss, kids):
        """One parent's page of a value/name-sorted cursor sub: the
        reference's bounded incremental sorter over the ACCEPTED kids
        in producer order, grid-resumed (sortsim.simulate); later
        parents of a resumed read get the degraded producer-order
        grid filter.  Returns (n, page_kids, trailing)."""
        from graphd_spark.sortsim import _pre_cmp

        ssim = ss.ssim
        if ssim.ended:
            return 0, [], False
        entries = [
            (
                tuple(f(c, r) for f, _d, _c, _k in ssim.keyfns)
                + (c.id,),
                (c, r),
            )
            for c, r in kids
        ]
        if ssim.grid is not None and ssim.consumed:
            kept = []
            for keys, payload in entries:
                r, known = _pre_cmp(keys, ssim.grid, ssim.specs)
                if known and r <= 0:
                    continue
                kept.append(payload)
            return len(kept), kept, False
        ssim.consumed = True
        arr, accepted, trailing = simulate(
            entries, ssim.P, ssim.specs, grid=ssim.grid
        )
        if ssim.grid is not None and accepted == 0:
            # a parent the thawed grid REJECTS (every remaining kid at
            # or before the boundary) never consumes the one-shot: the
            # exact replay stays live for the next parent in scan
            # order, and the rejected parent renders nothing (probed:
            # cursor fuzz seed 3134 — the cursor's own parent keeps
            # the full grid semantics behind a rejected sibling)
            ssim.consumed = False
        return accepted, [p for _k, p in arr], trailing

    def sub_cursor_index(self, sub, mode, cstate):
        """Per-parent producer index for a cursor-rendering sub — the
        set the reference's frozen iterator spans (RAW index order,
        no generational filtering; probed round 6).  Shared by both
        execution paths: the compiler builds its cursor_ctx through
        this when the store's index mirror is current, so frozen
        cursors are byte-identical."""
        ptr = self.store._ptr_ids
        hz = self.horizon
        lkname = sub.linkage[1]
        if mode == "iam":
            # at most one element per parent: a rendered page always
            # exhausts, so the assembler's delivered>=accepted check
            # freezes null: before any index is consulted (probed)
            return {"mode": "iam"}
        if mode == "gmap":
            def index(pg, _ptr=ptr, _lk=lkname, _hz=hz):
                ids = [
                    i for i in _ptr.get((_lk, pg), ())
                    if _hz is None or i <= _hz
                ]
                ids.sort()
                return ids

            return {"mode": "gmap", "lk": lkname, "index": index}
        if mode == "vip":
            tg = self.types.resolve(sub.type_strcons[0].values[0])
            if tg is None:
                # unknown type: the intrinsic match errors before any
                # candidate renders, so the index is never consulted
                return {"mode": "vip", "lk": lkname, "tg": "",
                        "index": lambda pg: []}
            if cstate is not None and cstate.form == "vip":
                # a thawed vip IS the iterator: re-freeze its set
                ids0 = list(cstate.fixed_ids)
                return {"mode": "vip", "lk": lkname, "tg": tg,
                        "index": lambda pg: ids0}

            def index(pg, _ptr=ptr, _lk=lkname, _tg=tg, _hz=hz):
                tids = set(_ptr.get(("typeguid", _tg), ()))
                ids = [
                    i for i in _ptr.get((_lk, pg), ())
                    if i in tids and (_hz is None or i <= _hz)
                ]
                ids.sort()
                return ids

            return {"mode": "vip", "lk": lkname, "tg": tg,
                    "index": index}
        # fixed: the pre-evaluated intersection of the parent's raw
        # linkage index with the sub's iterator-level predicates
        # (graphd-iterator-and pre-evaluation; newest/live checks
        # excluded — probed: versioned-away children stay in the set
        # and count in /POS/)
        if cstate is not None and cstate.form in ("fixed", "vip"):
            ids0 = list(cstate.fixed_ids)
            return {"mode": "fixed", "lk": lkname,
                    "index": lambda pg: ids0}

        def index(pg, _ptr=ptr, _lk=lkname, _hz=hz, _sub=sub):
            out = []
            for i in sorted(_ptr.get((_lk, pg), ())):
                if _hz is not None and i > _hz:
                    continue
                c = self.store.rows[i - self.store._base]
                if self._iter_match(c, _sub):
                    out.append(i)
                    if len(out) > _FIXED_MATERIALIZE_MAX:
                        return None  # unmodeled scale: -> null:
            return out

        return {"mode": "fixed", "lk": lkname, "index": index}

    def _ps0_checkcleared_refind(self, p, ss, build_row):
        """Cursor seed 4466, spew-derived: ``pdb_iterator_check``
        clears ``it_has_position`` (pdb.h:769), and a SINGLE-element
        thawed span under a SUB-SUB-bearing pagesize-0 probe gets
        checked against con_it (the sub-sub forces acceptance-level
        checks; single-id spans also take the optimizer's check
        shortcut) — so the grsc's gmap clone RESETS to the span start
        (pdb-iterator-gmap.c:419-425) and the count-min probe
        re-finds the already-consumed element every page, [o:]
        growing with /pos/ refrozen verbatim.  Multi-element spans
        keep their position and drain to EMPTY (probed: 1-kid vs
        2-kid matrices; only sub-sub-bearing shapes re-find).
        Returns the re-found (prim, row) or None."""
        cst = ss.cstate
        sub = ss.sub
        if (
            cst is None
            or ss.rps != 0
            or not sub.subs
            or getattr(cst, "backward", False)
        ):
            return None
        if cst.form == "gmap":
            if cst.src is None:
                return None
            from graphd_spark.model import guid_compose

            g = guid_compose(self.store.db_id, cst.src)
            span = [
                i
                for i in self.store._ptr_ids.get(
                    (GMAP_COLS[cst.lk], g), ()
                )
                if i >= (cst.low or 0)
                and (cst.high is None or i < cst.high)
            ]
        elif cst.form in ("fixed", "vip"):
            span = list(cst.fixed_ids or ())
        else:
            return None
        if len(span) != 1 or (cst.pos or 0) < 1:
            return None
        cid = span[0]
        if not (self.store._base <= cid < self.store.next_id):
            return None
        c = self.store.rows[cid - self.store._base]
        kind, lk = sub.linkage or (None, None)
        if kind == "my" and getattr(c, lk, None) != p.guid:
            return None
        crow = self._row_for(c, ss.plan, build_row=build_row)
        if crow is _NO_MATCH:
            return None
        return (c, crow)

    def _row_for(self, p: Primitive, plan: SetPlan, build_row: bool):
        """Rowdict for one candidate of ``plan``'s constraint, or
        _NO_MATCH: its intrinsic match, or-chains, subs (the compiled
        joins' semantics) and own assignments."""
        con = plan.con
        if not self._match_intrinsic(p, con):
            return _NO_MATCH
        row = (
            {f: getattr(p, f) for f in PRIM_ELEM_FIELDS}
            if build_row
            else None
        )
        for chain, cp in zip(con.or_chains, plan.chains):
            if cp is None:
                # pure-intrinsic chain: disjunctive filter fold
                if not any(self._match_branch(p, b) for b in chain):
                    return _NO_MATCH
            elif not self._eval_or_chain(p, cp, row):
                return _NO_MATCH
        for sp in plan.sub_plans:
            if sp.mode == "skip":
                continue
            if sp.mode != "agg":
                if self._sub_exists(p, sp) != (sp.mode == "semi"):
                    return _NO_MATCH
                continue
            if not self._agg_step(p, sp, row):
                return _NO_MATCH
        if row is not None:
            for vcol, fld, lit in plan.assigns:
                row[vcol] = lit if fld is None else getattr(p, fld)
        return row

    def _agg_step(self, p: Primitive, sp: SubPlan, row,
                  siblings=()) -> bool:
        """One parent's per-parent count and ordered page of agg sub
        ``sp`` (the compiled aggregate), written into ``row``; returns
        whether the sub's count bounds hold.  An or-branch sub's
        verdict feeds its branch's flag; ``siblings`` are the chain's
        other branch constraints (root-candidacy of the resumed
        branch-sub cursor model, rule 4)."""
        sub = sp.sub
        if sp.cstate is not None and sp.ssim is None:
            rem = self._cursub_remainder(sp)
            if rem is not None:
                # resumed unsorted sub cursor: the two-pass ring model
                # (see the round-9 block above _cursub_remainder).  A
                # root count>=0 sub evaluates (and drains) for every
                # root candidate, so an earlier parent's pass poisons
                # a later pinned parent's resume (cursor seed 321);
                # mandatory subs restrict the root to linked parents
                # (no drain for the rest).  A branch sub's parent is a
                # root candidate through a sibling branch's
                # iterator-level intrinsics (the reference's union
                # runs pre-generation-filter).
                mandatory = not sp.branch and (
                    not sub.is_optional
                    and sub.count_eq != 0
                    and (sub.count_min is None or sub.count_min > 0)
                )
                rec = self._cursub_pass1(
                    p, sp, rem,
                    build_row=row is not None,
                    sibling_candidacy=(lambda: any(
                        self._iter_intrinsic(
                            p, b2, in_branch=True, iter_level=True
                        )
                        for b2 in siblings
                    )) if sp.branch else (lambda: not mandatory),
                )
                if rec is None or not rec["flag"]:
                    if row is not None:
                        _put_page(row, sp, None, None)
                    return not sp.branch and (not mandatory or sp.outer)
                rec["prow"] = row
                if row is not None:
                    # the deferred slot RENDERS even when empty
                    # (("null:") — probe atleast2); pass 2 finalizes
                    # cnt/arr and the keep/null verdict
                    _put_page(row, sp, rec["n"], rec["rows"], True)
                return True
        thaw = sp.ssim.thaw if sp.ssim is not None else None
        if thaw is not None:
            # thawed sorted cursor sub: exact reference model —
            # verify phase here, resume (for rendered parents, in
            # render order) in _eval_set.  Bypasses the per-parent
            # kids loop entirely: the producer is global and the
            # shared bad-id ring makes evaluation order-dependent
            # (see _ThawScan).
            if sp.imports:
                raise Unsupported("thaw-sort-vars")
            n, child_rows = thaw.verify(p, sp)
            if row is not None:
                # registered for render-resume; a parent whose row is
                # never built cannot render, so its scan stays
                # deferred forever (reference: resume runs only for
                # parents actually rendered)
                self._thaw_by_row.setdefault(id(row), []).append(
                    (p, sp, child_rows, row)
                )
                _put_page(row, sp, n, child_rows)
            # count bounds: the verify defer guarantees the minimum via
            # the absolute count (offset included); count_eq/count_max
            # shapes never build a _ThawScan
            if sp.branch:
                return n >= sp.count_min
            return sp.outer or (n > 0 and n + thaw.offset >= sp.count_min)
        stop_kids = None
        defer_set = False
        if self._thaw_active and not sp.branch:
            stop_kids, defer_set = self._thaw_discipline(sp)
        _hb = self._sub_high(sub)
        cand_ids = [
            cid for cid in self._child_ids(p, sub)
            if _hb is None or cid < _hb
        ]
        kids = []
        ci = 0
        while ci < len(cand_ids):
            if stop_kids is not None and len(kids) >= stop_kids:
                break  # count_min 0: defer before any candidate
            cid = cand_ids[ci]
            ci += 1
            c = self.store.rows[cid - self.store._base]
            if sp.cfilter is not None and not sp.cfilter(c):
                continue  # thawed sub-cursor restriction
            crow = self._row_for(c, sp.plan, build_row=True)
            if crow is _NO_MATCH:
                continue
            kids.append((c, crow))
            if stop_kids is not None and len(kids) >= stop_kids:
                break
        ssim = sp.ssim
        if ssim is not None:
            # value/name sorted cursor sub: the incremental sorter per
            # parent (see _sub_sort_page); n is the ACCEPTED count —
            # prefilter-rejected kids are invisible to count, like
            # root sorted sets
            first = not ssim.consumed
            if ssim.grid is not None and not cand_ids:
                # a parent with NO linkage children gets a NULL
                # iterator — the thawed one-shot is never consumed and
                # the parent logs no eval (mirror of _ThawScan.verify's
                # kid-less rule; cursor fuzz seed 3134: a kid-less
                # sibling must not trip the multi-parent cursor
                # override)
                n, child_rows = 0, []
                ssim.sim[id(child_rows)] = (False, ssim.P)
            else:
                n, page_kids, trailing = self._sub_sort_page(sp, kids)
                child_rows = [r for _c, r in page_kids[sp.lo:sp.lo + sp.rps]]
                ssim.sim[id(child_rows)] = (trailing, ssim.P)
                if ssim.grid is not None:
                    # grid-mode bookkeeping for the one-shot thaw
                    # override (see FastReader.run): log this parent's
                    # sub-level acceptance in scan order
                    ssim.evals.append(
                        (n > 0 or sp.outer) and counts_ok(sp.bounds, n)
                    )
                    if first:
                        ssim.first_key = id(child_rows)
        else:
            if sp.rps == 0 and not kids:
                refound = self._ps0_checkcleared_refind(
                    p, sp, build_row=True
                )
                if refound is not None:
                    kids.append(refound)
            n = len(kids)
            # pagesize=0 count-min probe: consumes max(1, start)
            # accepted kids in PRODUCER order (the sort context is
            # dropped at resultpagesize 0) — capture the k-th accepted
            # kid before any sort reorders the list; start >= n
            # exhausts the skip and freezes null: (probed: versioned
            # spokes still count in /POS/; or-branch subs probe
            # exactly like root-level ones, my-form included — cursor
            # fuzz seed 612)
            probe_entry = None
            if sp.rps == 0 and kids and sp.lo < n:
                k = max(1, sp.lo)
                # a descending timestamp/guid sort runs the BACKWARD
                # producer, so the probe consumes from the top (the
                # frozen '~' forms; probed round 7)
                ki = n - k if freeze.sub_sort_backward(sub) else k - 1
                probe_entry = (kids[ki][0].id, p.guid, k)
            if sub.sort is not None:
                self._apply_sort(sub, sp.plan, kids)
            child_rows = [r for _c, r in kids[sp.lo:sp.lo + sp.rps]]
            if probe_entry is not None and sp.plan.cursor_ctx is not None:
                sp.plan.cursor_ctx.setdefault("probe", {})[
                    id(child_rows)
                ] = probe_entry
            if defer_set and row is not None:
                # deferred-set continuation: the remaining candidates
                # evaluate at render-resume (only if this parent
                # actually renders), each running its own nested thaw
                # verify at that point
                self._defer_by_row.setdefault(id(row), []).append(
                    (p, sp, kids, cand_ids, ci, row)
                )
        if row is not None:
            _put_page(row, sp, n, child_rows)
        # a THAWED root sub chain verifies its count bounds in the
        # ABSOLUTE frame: the cursor's [o:] offset counts already-
        # consumed elements, so a drained remainder still passes
        # (probed round 8, writepaged seed 211: a start=1 chain's
        # exhausted page renders the parent with a null: sub);
        # or-branch subs count the local frame
        off = 0 if sp.branch else self._sub_thaw_offset(p, sp)
        return counts_ok(sp.bounds, n + off)

    def _thaw_discipline(self, sp: SubPlan):
        """(stop_kids, defer_set) of a root agg sub while a thawed
        sorted cursor sub is live somewhere in the request."""
        sub = sp.sub
        stop_kids = None
        if sp.rps != 0:
            # every OTHER set must consume candidates exactly as far
            # as the reference's lazy traversal, because the subtree
            # below may run thaw verifies whose shared bad-id ring is
            # order-dependent.  The reference stops a set at
            # start+pagesize accepted elements (+1 lookahead when it
            # wants a cursor), or at the count minimum if that is
            # larger; exact-count demands (count=, count<=) scan in
            # full there too, so those keep the full loop.
            if sub.result is not None and any(
                pat.kind in ("count", "estimate", "estimate-count")
                for pat in sub.result.walk()
            ):
                raise Unsupported("thaw-sort-sibling-count")
            wants_cur = sp.plan.cursor_ctx is not None
            if wants_cur and sp.ssim is not None:
                # a second, legacy-model sorted cursor sub mixed with
                # the exact thaw model: incoherent
                raise Unsupported("thaw-sort-mixed-cursor")
            if (
                sub.count_eq is None
                and sub.count_max is None
                # a (legacy) sorted sub needs its full candidate set —
                # its own sorter window applies, not ours
                and sp.ssim is None
                and sub.sort is None
            ):
                stop_kids = max(
                    sp.lo + sp.rps + (1 if wants_cur else 0),
                    sp.count_min,
                )
        if not sp.has_thaw:
            return stop_kids, False
        # ancestor set of a live thaw: the reference's verify defers
        # this set at its COUNT MINIMUM and evaluates the remaining
        # candidates at render-resume, so the nested thaw verifies
        # interleave with the leaf resumes in render order (spew-
        # trace-derived; the shared bad-id ring makes the order
        # observable)
        if (
            sub.count_eq is not None
            or sub.count_max is not None
            or sub.sort is not None
            or sp.ssim is not None
            or sp.rps == 0
        ):
            # exact counts force full scans, sorted ancestor sets
            # suspend through the sorter, pagesize-0 probes drop sort
            # context — all unprobed above a live thaw
            raise Unsupported("thaw-ancestor-shape")
        return sp.count_min, True

    def _sub_thaw_offset(self, p: Primitive, ss) -> int:
        """The thawed sub cursor's consumed [o:] offset, attributed
        ONLY to the parent the cursor was frozen for (a thawed
        iterator pins the whole sub to its parent; other parents'
        counts stay in the local frame).  Used by the count-bound
        checks: a thawed chain verifies count minima in the ABSOLUTE
        frame, so a drained remainder still passes (probed round 8,
        writepaged seed 211)."""
        cst = ss.cstate
        if cst is None or not cst.offset:
            return 0
        if ss.rps == 0:
            # pagesize-0 probes re-consume on every page: an
            # exhausted probe fails the count minimum and the chain
            # ends in EMPTY (round-6 rule) — no absolute frame
            return 0
        from graphd_spark.model import guid_serial

        if cst.form in ("gmap", "vip") and cst.src is not None:
            return (
                cst.offset
                if guid_serial(p.guid) == cst.src
                else 0
            )
        if cst.form == "fixed" and cst.fixed_ids:
            if set(self._child_ids(p, ss.sub)) & set(cst.fixed_ids):
                return cst.offset
            return 0
        return 0

    # -- resumed unsorted or-branch sub cursors (round 9) -----------------
    #
    # Spew-trace-derived model of the reference's resumed page for an
    # or-BRANCH subconstraint carrying an UNSORTED cursor (ref
    # graphd-read-set.c grsc_next/grsc_are_we_done "(defer results)",
    # graphd-read-set-cursor.c, graphd-bad-cache.c, and
    # graphd-read-set.c:2208 grsc_subconstraint_iterator's cursor
    # branch — `clone(con_it)` for EVERY parent, no per-parent
    # fan-in):
    #
    # 1. Every EVALUATED parent iterates a clone of the thawed frozen
    #    set from /pos/; rejected candidates enter the request-shared
    #    per-CONSTRAINT 5-slot bad-id ring; ring members reject
    #    instantly on later encounters (cache poisoning across
    #    parents is observable and mirrored: probe q1 — the pinned
    #    parent's chain ends a page early because another parent's
    #    branch check drained the set first).
    # 2. countcon_min defaults to [o:]+1 when no explicit count>=
    #    (graphd-constraint-cursor.c:48-50); count bounds compare the
    #    ABSOLUTE frame (count + o) for every parent.
    # 3. A parent's sub eval DEFERS once absolute >= countcon_min
    #    (instantly at zero accepts when o >= an explicit minimum —
    #    the parent then "wins" the branch with an empty ("null:")
    #    slot, probe atleast2); EOF before the minimum fails the
    #    branch.  Deferred evals continue at render time, in parent
    #    order, consulting the ring as poisoned by every later
    #    parent's pass 1 — the continuation delivers up to
    #    start+pagesize rendered accepts plus ONE lookahead; EOF
    #    before the lookahead clears the cursor to null:.
    # 4. Parents never produced by the reference's root union
    #    (not linked from the remainder, no other branch candidacy)
    #    are NEVER evaluated and must not drain the ring (probe
    #    two-parents: the root iterator on the resumed page was
    #    fixed[1: A] — parent B vanished without touching the set).

    def _cursub_remainder(self, ss):
        """Raw remaining candidate ids (ascending) of an unsorted
        thawed branch-sub cursor, or None when the shape is outside
        the modeled family (legacy path)."""
        cst = ss.cstate
        if (
            cst is None
            or getattr(cst, "backward", False)
            or ss.ssim is not None
            or ss.rps == 0
            or ss.sub.sort is not None
            or ss.sub.count_eq is not None
            or ss.sub.count_max is not None
            # a live _ThawScan elsewhere imposes its own global
            # consumption discipline — keep the legacy ordering-aware
            # path there
            or self._thaw_active
        ):
            return None
        kind, lk = ss.sub.linkage or (None, None)
        if kind != "my" or lk == "bi":
            return None
        if ss.sub.result is not None and any(
            pat.kind in ("count", "estimate", "estimate-count")
            for pat in ss.sub.result.walk()
        ):
            return None  # count demands disable the defer; unmodeled
        if cst.form == "fixed":
            ids = list(cst.fixed_ids or ())
            pos = cst.pos or 0
        elif cst.form == "vip":
            ids = list(cst.fixed_ids or ())
            pos = cst.inner_pos or 0
        elif cst.form == "gmap":
            if cst.src is None:
                return None
            # the frozen span bounds itself (gmap:LO-HI); the scoped
            # _cur_high refreeze clamp must NOT narrow the remainder
            from graphd_spark.model import guid_compose

            g = guid_compose(self.store.db_id, cst.src)
            ids = [
                i
                for i in self.store._ptr_ids.get(
                    (GMAP_COLS[cst.lk], g), ()
                )
                if i >= (cst.low or 0)
                and (cst.high is None or i < cst.high)
            ]
            pos = cst.pos or 0
        else:
            return None
        _hb = self._sub_high(ss.sub)
        rem = [
            i for i in ids[pos:]
            if (_hb is None or i < _hb)
            and self.store._base <= i < self.store.next_id
        ]
        return rem

    def _cursub_ring_check(self, sub, cid) -> bool:
        ent = self._cursub_ring.get(id(sub))
        return ent is not None and cid in ent[0]

    def _cursub_ring_add(self, sub, cid) -> None:
        ent = self._cursub_ring.setdefault(id(sub), [[None] * 5, 0])
        ent[0][ent[1]] = cid
        ent[1] = (ent[1] + 1) % 5

    def _cursub_pass1(self, p: Primitive, ss, rem, build_row,
                      sibling_candidacy):
        """Match-phase evaluation for one parent; returns the record
        dict (flag/n/child_rows + deferred state) or None when this
        parent is not a root candidate at all (no drain — rule 4)."""
        sub = ss.sub
        _kind, lk = sub.linkage
        linked = any(
            getattr(self.store.rows[cid - self.store._base], lk, None)
            == p.guid
            for cid in rem
        )
        if not linked and not sibling_candidacy():
            return None
        o = ss.cstate.offset or 0
        count_min = (
            sub.count_min if sub.count_min is not None else o + 1
        )
        accepts: list = []
        child_rows: list = []
        i = 0
        deferred = o >= count_min  # instant defer (explicit count<=o)
        while not deferred and i < len(rem):
            cid = rem[i]
            i += 1
            if self._cursub_ring_check(sub, cid):
                continue
            c = self.store.rows[cid - self.store._base]
            if getattr(c, lk, None) != p.guid:
                self._cursub_ring_add(sub, cid)
                continue
            crow = self._row_for(c, ss.plan, build_row=build_row)
            if crow is _NO_MATCH:
                self._cursub_ring_add(sub, cid)
                continue
            accepts.append((c, crow))
            if len(accepts) + o >= count_min:
                deferred = True
        if not deferred:
            return {"flag": False, "n": 0, "rows": child_rows,
                    "done": True, "ss": ss, "p": p, "idx": i,
                    "rem": rem, "accepts": accepts}
        for _c, r in accepts[ss.lo:ss.lo + ss.rps]:
            child_rows.append(r)
        rec = {
            "flag": True, "n": len(accepts), "rows": child_rows,
            "done": False, "ss": ss, "p": p, "idx": i, "rem": rem,
            "accepts": accepts, "build_row": build_row,
        }
        self._cursub_defer.append(rec)
        return rec

    def _cursub_finalize(self, rendered_rows: set) -> None:
        """Render-phase continuation (pass 2), in parent order: each
        deferred record whose parent row actually rendered continues
        its clone to the page bound plus one lookahead; EOF first
        clears the cursor to null: (ctx["resumed"] verdicts consumed
        by Assembler._sub_cursor)."""
        for rec in self._cursub_defer:
            if rec["done"]:
                continue
            rec["done"] = True
            prow = rec.get("prow")
            if prow is None or id(prow) not in rendered_rows:
                continue
            ss, p, rem = rec["ss"], rec["p"], rec["rem"]
            sub = ss.sub
            _kind, lk = sub.linkage
            accepts = rec["accepts"]
            i = rec["idx"]
            stop = ss.lo + ss.rps + 1  # the +1 = cursor lookahead
            while i < len(rem) and len(accepts) < stop:
                cid = rem[i]
                i += 1
                if self._cursub_ring_check(sub, cid):
                    continue
                c = self.store.rows[cid - self.store._base]
                if getattr(c, lk, None) != p.guid:
                    self._cursub_ring_add(sub, cid)
                    continue
                crow = self._row_for(c, ss.plan, build_row=rec["build_row"])
                if crow is _NO_MATCH:
                    self._cursub_ring_add(sub, cid)
                    continue
                accepts.append((c, crow))
            child_rows = rec["rows"]
            del child_rows[:]
            for _c, r in accepts[ss.lo:ss.lo + ss.rps]:
                child_rows.append(r)
            prow[ss.cnt_col] = len(accepts)
            prow[ss.arr_col] = child_rows
            keep = len(accepts) >= stop
            ctx = ss.plan.cursor_ctx
            if ctx is not None:
                ctx.setdefault("resumed", {})[id(child_rows)] = keep

    def _eval_or_chain(self, p: Primitive, cp, row) -> bool:
        """The compiled or-chain over one candidate: every branch's
        sub aggregates land in the row, a branch's flag ANDs its
        intrinsics with its subs' count bounds and one matching branch
        per nested sub-bearing chain, and the chain requires one flag.
        Two phases: _eval_branch computes flags and slot contents at
        every depth, then the first-match commit binds the winning
        path's columns (inner slots of a losing outer branch stay
        null, probed against the reference)."""
        results = [
            self._eval_branch(
                p, bp, row, [x.con for x in cp.branches if x is not bp]
            )
            for bp in cp.branches
        ]
        if row is not None:
            self._commit_or_chain(p, row, cp, results)
        return any(flag for flag, _inner in results)

    def _eval_branch(self, p: Primitive, bp, row, siblings):
        """Phase 1 for one branch: (flag, [(nested branches, their
        results)]).  Slot contents (cnt/arr cols) are written into
        `row` unconditionally — the commit's first-match flags gate
        their rendering."""
        flag = self._match_branch(p, bp.con, bp.chains)
        for sp in bp.subs:
            if not self._agg_step(p, sp, row, siblings):
                flag = False
        inner = []
        for ibs in bp.chains:
            if ibs is None:
                continue
            ires = [
                self._eval_branch(
                    p, x, row, [y.con for y in ibs if y is not x]
                )
                for x in ibs
            ]
            flag = flag and any(f for f, _i in ires)
            inner.append((ibs, ires))
        return flag, inner

    def _commit_or_chain(self, p: Primitive, row, cp, results) -> None:
        """First-match commit: the first flagged branch of each chain
        on the winning path wins; the plan's guard columns and case
        table bind for the winners (a case binds when its path's last
        branch won, so every branch above it won too), and every other
        output column of the chain stays null or false."""
        won: set = set()
        _first_winners(cp.branches, results, won)
        for bp in won:
            for sp in bp.subs:
                # winning-branch tally: an iam probe's [n:] pins the
                # parent id when exactly one parent won this branch,
                # the store horizon for 2+ (probed; see
                # _sub_probe_cursor)
                ctx = sp.plan.cursor_ctx
                if ctx is not None:
                    ctx["branch_winners"] = ctx.get("branch_winners", 0) + 1
        for path, col, arr in cp.guards:
            if arr is None:
                row[col] = path[-1] in won
            else:
                row[col] = row.get(arr) if path[-1] in won else None
        for vcol, kcol, cases in cp.cases.values():
            case = next((c for c in cases if c.path[-1] in won), None)
            if case is None:
                v = None
            elif case.sp is not None:
                kids = row.get(case.sp.arr_col)
                v = kids[0].get(case.col) if kids else None
            else:
                v = case.lit if case.col is None else getattr(p, case.col)
            row[vcol] = v
            if kcol is not None:
                row[kcol] = None if case is None else case.kind

    def _sub_exists(self, p: Primitive, sp: SubPlan) -> bool:
        sub = sp.sub
        _hb = self._sub_high(sub)
        for cid in self._child_ids(p, sub):
            if _hb is not None and cid >= _hb:
                continue
            c = self.store.rows[cid - self.store._base]
            if self._row_for(c, sp.plan, build_row=False) is not _NO_MATCH:
                return True
        return False

    def _child_ids(self, p: Primitive, sub: Constraint) -> list[int]:
        """Candidate child ids for one parent, via the linkage indexes
        (the compiled join's RAW-guid keys — see the probe notes on
        Compiler._attach_sub).  'bi' keeps per-endpoint multiplicity like the
        exploded join does."""
        kind, lk = sub.linkage
        st = self.store
        if kind == "my" and lk == "bi":
            ids = list(st._ptr_ids.get(("left", p.guid), ()))
            ids += st._ptr_ids.get(("right", p.guid), ())
            ids.sort()
            return ids
        if kind == "my":
            return st._ptr_ids.get((lk, p.guid), [])
        # iam: parent.{lk} == child.guid — a raw point lookup
        key = getattr(p, lk)
        if key is None:
            return []
        c = st.by_guid.get(key)
        return [c.id] if c is not None else []

    # -- candidate sources -------------------------------------------------

    def _candidates(self, con: Constraint) -> Iterable[Primitive]:
        """Id-ordered candidate superset via the cheapest point index
        (mirror of the reference's iterator source selection; falls
        back to the full mirror scan)."""
        st = self.store
        # guid= include set pins candidates exactly
        ids = self._guid_include_ids(con)
        if ids is not None:
            return [
                st.rows[i - st._base]
                for i in sorted(ids)
                if st._base <= i < st.next_id
            ]
        # value= under default/case/octet comparators: norm-hash bucket
        comp = resolve_comparator(con.value_comparator or con.comparator)
        eqs = [sc for sc in con.value_strcons if sc.op == "="]
        if eqs and comp in ("default", "case", "octet"):
            lits = [v for v in eqs[0].values if v is not None]
            # "" also matches null-valued datatype-2 primitives, which
            # no value index holds: full scan for that literal
            if lits and "" not in lits and not any(
                v is None for v in eqs[0].values
            ):
                ids = []
                seen = set()
                for v in lits:
                    if comp == "default":
                        bucket = st._vnorm_ids.get(value_norm_key(v), ())
                    else:
                        bucket = st._value_ids.get(v.lower(), ())
                    for i in bucket:
                        if i not in seen:
                            seen.add(i)
                            ids.append(i)
                ids.sort()
                return [st.rows[i - st._base] for i in ids]
        neqs = [sc for sc in con.name_strcons if sc.op == "="]
        if neqs:
            lits = [v for v in neqs[0].values if v is not None]
            if lits and not any(v is None for v in neqs[0].values):
                ids = sorted(
                    {
                        i
                        for v in lits
                        for i in st._name_ids.get(v.lower(), ())
                    }
                )
                return [st.rows[i - st._base] for i in ids]
        teqs = [sc for sc in con.type_strcons if sc.op == "="]
        if teqs and not any(v is None for v in teqs[0].values):
            lineages = []
            for nm in teqs[0].values:
                g = self.types.resolve(nm)
                if g is None:
                    continue
                tp = st.get(g)
                lineages.append(tp.lineage if tp is not None else g)
            ids = sorted(
                {
                    i
                    for lin in lineages
                    for i in st._lin_ids.get(("typeguid_lin", lin), ())
                }
            )
            return [st.rows[i - st._base] for i in ids]
        # pure word-prefix glob: the word-index bins for value~="P*"
        # are the reference's candidate array (libpdb/pdb-prefix.c) —
        # a superset (hash false positives), re-checked by the glob
        for sc in con.value_strcons:
            if sc.op != "~=" or len(sc.values) != 1 or not sc.values[0]:
                continue
            body = sc.values[0]
            body = body[1:] if body.startswith("^") else body
            if not body.endswith("*"):
                continue
            pfx = body[:-1]
            if not pfx or not pfx.isalnum() or not pfx.isascii():
                continue
            ids = sorted(
                {
                    i
                    for lst in prefix_bins(st._word_ids, pfx.lower())
                    for i in lst
                }
            )
            return [st.rows[i - st._base] for i in ids]
        # linkage equality: left=G / typeguid=G ... -> the pointer gmap
        # bin IS the candidate set (raw-guid match, like the join)
        for lk in ("typeguid", "left", "right", "scope"):
            for gc in con.links.get(lk, []):
                if (
                    gc.op == "="
                    and gc.guids
                    and all(g is not None for g in gc.guids)
                ):
                    ids = sorted(
                        {
                            i
                            for g in gc.guids
                            for i in st._ptr_ids.get((lk, g), ())
                        }
                    )
                    return [st.rows[i - st._base] for i in ids]
        # a mandatory linkage sub bounds the root set: root candidates
        # are the primitives its candidate SUPERSET links to/from (the
        # reference's producer contest picks the same index;
        # graphd-constraint-iterator.c).  Everything is still checked
        # by _row_for, so a superset is all we need — the sub's own
        # _candidates (no sub evaluation).
        for sub in con.subs:
            if sub.linkage is None or sub.is_optional:
                continue
            if sub.count_eq == 0 or sub.count_max == 0:
                continue
            kind, lk = sub.linkage
            sc_list = self._candidates(sub)
            if sc_list is st.rows or len(sc_list) > 512:
                continue  # sub is no narrower than a scan
            ids: set[int] = set()
            if kind == "iam" and lk in (
                "typeguid", "left", "right", "scope"
            ):
                # parent.lk == child.guid
                for c in sc_list:
                    ids.update(st._ptr_ids.get((lk, c.guid), ()))
            elif kind == "my":
                # child.lk == parent.guid
                lks = ("left", "right") if lk == "bi" else (lk,)
                for c in sc_list:
                    for L in lks:
                        g = getattr(c, L)
                        if g is not None:
                            p = st.by_guid.get(g)
                            if p is not None:
                                ids.add(p.id)
            else:
                continue
            return [
                st.rows[i - st._base]
                for i in sorted(ids)
                if st._base <= i < st.next_id
            ]
        return st.rows

    def _guid_include_ids(self, con: Constraint) -> Optional[set]:
        """Resolved id set when guid constraints pin an include set
        (guid_sets' include before any '!=' subtracts from it; None =
        no pinning include set)."""
        include = guid_sets(
            self.store, [gc for gc in con.guid if gc.op in ("=", "~=")]
        )[0]
        if include is None:
            return None
        out = set()
        for g in include:
            if g is None:
                continue
            p = self.store.get(g)
            if p is not None:
                out.add(p.id)
        return out

    # -- intrinsic matcher (match.bind rendered as a Python check) --------

    def _matcher(self, con: Constraint, in_branch: bool = False,
                 iter_level: bool = False, generation: bool = True):
        """``con``'s bound intrinsic tests (match.bind), bound once per
        request."""
        key = (id(con), in_branch, iter_level, generation)
        tree = self._matchers.get(key)
        if tree is None:
            tree = self._matchers[key] = bind(
                self.store, self.types, con, in_branch, iter_level,
                generation,
            )
        return tree

    def _match_branch(self, p: Primitive, b: Constraint,
                      inner=()) -> bool:
        """An or-BRANCH's match including its recursively-intrinsic
        NESTED chains (probed: `{ { A | B } | C }` matches A|B|C
        row-wise).  ``inner`` is the branch plan's per-chain list: a
        chain with BranchPlans there is sub-bearing and evaluates in
        _eval_branch instead."""
        if not self._match_intrinsic(p, b, in_branch=True):
            return False
        for i, chain in enumerate(b.or_chains):
            if i < len(inner) and inner[i] is not None:
                continue
            if not any(self._match_branch(p, x) for x in chain):
                return False
        return True

    def _match_intrinsic(self, p: Primitive, con: Constraint,
                         in_branch: bool = False) -> bool:
        """``con``'s intrinsic match, generation test included."""
        return self._iter_intrinsic(p, con, in_branch, generation=True)

    def _iter_match(self, p: Primitive, con: Constraint) -> bool:
        """Iterator-level match: the predicates the reference compiles
        into a constraint's iterator tree — everything in
        _match_intrinsic EXCEPT the generational newest test (which
        runs above the iterator), prev/next lineage pointers, and
        check-only string constraints (value!=, prefix-less globs —
        all acceptance-level, probed round 8), plus raw existence for
        mandatory subconstraints (their linkage joins are linksto/isa
        iterators) and for or-chain BRANCH subs.  Used to
        pre-evaluate frozen sub-cursor sets (probed: a versioned-away
        child stays in the frozen fixed set and still counts in
        /POS/; sub-sub existence and value-range checks are applied;
        graphd-read-set-cursor.c)."""
        if not self._iter_intrinsic(p, con, iter_level=True):
            return False
        return self._iter_subs_exist(p, con)

    def _iter_subs_exist(self, p: Primitive, con: Constraint) -> bool:
        """Existence of every mandatory subconstraint at the iterator
        level (counted sub-subs keep their existence iterator — only
        the extra count bound is an acceptance check)."""
        for sub in con.subs:
            if sub.count_eq == 0 or sub.is_optional:
                continue
            if sub.linkage is None:
                return False
            _hb = self._sub_high(sub)
            if not any(
                self._iter_match(
                    self.store.rows[cid - self.store._base], sub
                )
                for cid in self._child_ids(p, sub)
                if _hb is None or cid < _hb
            ):
                return False
        return True

    def _iter_intrinsic(self, p: Primitive, con: Constraint,
                        in_branch: bool = False,
                        iter_level: bool = False,
                        generation: bool = False) -> bool:
        """``con``'s bound tests (without the generation test unless
        asked) and one candidate branch per or-chain.  Intrinsic
        chains fold into the iterator pre-evaluation (probed round 7);
        at iterator level, branch SUBS apply as raw existence too
        (probed round 8: a chain branch `(<-left value="k")`
        pre-evaluates kids that have such a child); branch timestamps
        are CHECK-only — no id bound (seed 1151)."""
        if not _check(self._matcher(con, in_branch, iter_level, generation),
                      p, self._maxgen):
            return False
        for chain in con.or_chains:
            if not any(
                self._iter_intrinsic(
                    p, b, in_branch=True, iter_level=iter_level
                )
                and (
                    not iter_level or self._iter_subs_exist(p, b)
                )
                for b in chain
            ):
                return False
        return True

    def _helper_high(self):
        """EXCLUSIVE id bound for the index helpers (_gmap_index_ids
        and friends): the asof horizon combined with the CURRENT
        evaluation scope's cursor [n:] bound (_cur_high, set around
        root-level candidate generation, cursor reposition, and
        refreeze — sub machinery scopes its own cstate bounds)."""
        ah = None if self.horizon is None else self.horizon + 1
        ch = self._cur_high
        if ah is None:
            return ch
        if ch is None:
            return ah
        return min(ah, ch)

    def _sub_high(self, sub: Constraint):
        """EXCLUSIVE candidate-id bound for `sub`'s children: the asof
        horizon combined with the sub's propagated cursor [n:] high
        (cursor.cursor_high_bounds).  'iam' subs of a bounded node
        need no entry — a pointee always has a smaller id than its
        bounded pointer — but 'my' subs on the path to a cursored
        chain (nested thaws) are enumerated per parent and must clamp
        here."""
        ah = None if self.horizon is None else self.horizon + 1
        nh = self._node_high.get(id(sub)) if self._node_high else None
        if ah is None:
            return nh
        if nh is None:
            return ah
        return min(ah, nh)

    def _maxgen(self, p: Primitive) -> int:
        """Max generation of p's lineage WITHIN the asof horizon
        (mirror: the compiler computes __maxgen over the gen-horizon-
        filtered base frame).  NOT clamped by a thawed chain's [n:H]:
        newest-ness reads the live generation index (gen_horizon)."""
        newest = p
        while True:
            nxt = self.store.next_version.get(newest.guid)
            if nxt is None:
                break
            np = self.store.get(nxt)
            if np is None or (
                self.gen_horizon is not None
                and np.id > self.gen_horizon
            ):
                break
            newest = np
        return newest.generation


# -- depth-2+ thaw model (round 7, closing the round-6 investigation) -----
#
# NESTED (depth >= 2) sorted cursor subs now run the exact model:
# the round-6 note's item (a) — ancestor sets evaluating in the
# reference's deferred two-phase structure — is implemented by
# SubPlan.has_thaw + the count-min verify defer in _agg_step +
# _resume_deferred_set + _eval_set's recursive render-order resume
# walk over live registries, matching the RXN spew traces exactly
# (verify defers EVERY set at one accepted element; render completes
# each rendered parent's sub SET first, then each rendered kid's
# leaf thaw, recursively).  Item (b)'s feared optimizer-dependent
# vrange bounds turned out not to arise in these chains: the resumed
# leaf producer is always the GLOBAL sort-root vrange over the full
# store ([n:] = store horizon), same as depth 1 — the bound regimes
# the round-6 prototype observed came from its own id-bounding
# experiment, not from the reference.  The round-7 campaigns also
# exposed (and fixed) the sort-window exit verdict: it is NOT a
# producer-bin comparison but the comparator's value_in_range port
# (comparators.vrange_value_beyond — the alpha-prefix test string vs
# the previous bin's boundary, with the numeric-cutoff first-byte
# hacks; graphd-comparator-default.c:2031-2196), gated on the FIRST
# sort key deciding (which==0, graphd-sort.c:686-857).
