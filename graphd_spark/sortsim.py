"""The reference's incremental sorter, simulated exactly.

graphd sorts a paged set with a bounded candidate array of 2*P slots,
P = con_start + con_resultpagesize (graphd-sort.c:36-75 discussion,
graphd_sort_create graphd-sort.c:1084).  Candidates arrive in PRODUCER
order; the first 2P are accepted outright, then the array is condensed
(full sort, keep the best P, remember the median = position P-1,
graphd-sort.c sort_condense:1004-1038).  Every later candidate is
prefiltered against the median (graphd_sort_accept_prefilter:1104-1208)
with ``sort_precompare_pr_loc`` (graphd-sort.c:319-520) — a
primitive-vs-stored-value comparison whose NULL polarity is INVERTED
relative to the real sort: the real order puts a null string key LAST
ascending (graph_fuzzycmp: null greater than any string), but the
precompare treats an empty primitive field as SMALLER (pr_str_n == 0 →
res = -factor; stored null → res = +factor; graphd-sort.c:830-850
have_string).  Once the median's first key goes null, every later
candidate with a non-null key precompares "too large" and is discarded
— even though the true order would place it first.  That is the
reference's sorted-producer truncation: deterministic, lossy, and
observable on tight pages whose candidates interleave null keys.

Cursor resume replays the same machine against a "cursor grid" (the
serialized boundary row): the prefilter drops candidates precomparing
<= grid (graphd-sort.c:1128-1143, null-first polarity), and accepted
candidates are re-checked against the grid with the REAL comparison
(graphd_sort_accept:1240-1247) unless a blind-accept short-circuits it.
The round-5 "first-key null class" resume model falls out as the
special case of these two rules.

Counting: only candidates actually accepted into the array increment
the set count (grsc_one_deliver_count_success) — prefilter-rejected
rows are invisible to ``count`` on sorted sets.

Cursor nullness (graphd_sort_cursor_get:1461-1492): after finish drops
the con_start prefix and truncates to P (graphd_sort_finish:1399-1420),
the cursor is "null:" unless the array still holds P - con_start
elements AND a condense ever truncated (gsc_have_trailing,
sort_condense:1033-1035) — so sorted chains with start > 0 always end
after one page.

Keys are compared per component: ``None`` is null; descending flips
the component.  The trailing id component is never null.

The root sort's decisions live here too, once for both read
evaluators (graphd-sort.c): which keys order the set (``sort_keys``),
whether the number sort-root drops non-numbers
(``number_sort_drops``), an unsorted range's scan order
(``range_scan_order``), and how a ``sort:`` cursor repositions
(``sorter_run`` under the simulation, ``resume_offset`` under
sort-root-ordered production, both through ``boundary_keys``).  Each
evaluator keeps its data plane and hands in its steps:

- ``_sort_key(pattern, con, plan, comparator)``: one key's Spark
  Column or ``(primitive, row)`` function, None when it has none;
  ``_id_key``: the id tiebreak's;
- ``_boundary_keys(src, comps, id)``: the key tuple of the live
  element ``id`` in ``src``, None when it is gone;
- ``_null_class(src, key, null)``: ``src`` narrowed to the rows whose
  ``key`` is (not) null;
- ``_count_before(src, comps, keys)``: how many rows of ``src`` order
  strictly before ``keys``.
"""

from __future__ import annotations

from graphd_spark.comparators import (
    datetime_scan_order,
    number_bin_lookup,
    number_scan_order,
    resolve_comparator,
    string_bin_order,
)
from graphd_spark.model import guid_serial
from graphd_spark.pattern import GraphdError, default_read_pattern

DEFAULT_PAGESIZE = 1024  # ref graphd/graphd-sort.c:21-22

_RANGE_OPS = ("<", "<=", ">", ">=")

#: result kinds that render no element (a sort under them is unused)
_NO_RENDER = (
    "count", "cursor", "estimate", "estimate-count", "iterator",
    "timeout", "list", "none",
)
#: sort key kinds graphd-sort-compile.c rejects (test/unit/sort20.sh)
_UNSORTABLE = (
    "count", "cursor", "estimate", "iterator", "timeout",
    "estimate-count",
)


def sort_keys(con) -> list:
    """``(pattern, comparator, descending)`` per significant sort key.

    sort-comparators attach to the leading keys only; the rest use the
    constraint comparator (ref graphd-semantic.c:452-470, test david_7
    id=9).  The list ends at the first guid key, which is decisive (the
    ``sort:`` cursor serializes no further); the keys after it are
    still checked sortable (ref graphd-sort-compile.c rejections)."""
    out: list = []
    comps = con.sort_comparators or ()
    for i, sk in enumerate(con.sort or ()):
        k = sk.pattern.kind
        if k in _UNSORTABLE:
            raise GraphdError("SEMANTICS", f"cannot sort by {k}")
        if k == "literal":
            raise GraphdError(
                "SEMANTICS", f'cannot sort by "{sk.pattern.literal or ""}"'
            )
        if k == "list":
            raise GraphdError("SYNTAX", "cannot sort by nested lists.")
        if out and out[-1][0].kind == "guid":
            continue
        comp = (comps[i] if i < len(comps) else None) or con.comparator
        out.append(
            (sk.pattern, resolve_comparator(comp or "default"),
             sk.descending)
        )
    return out


def sort_components(ev, con, plan) -> list:
    """The total order as ``(key, descending, precompares)``: one per
    sort key the evaluator keys, then the decisive id tiebreak.  A
    variable or contents key cannot be precompared
    (sort_precompare_pr_loc)."""
    out = []
    for pat, comp, desc in sort_keys(con):
        key = ev._sort_key(pat, con, plan, comp)
        if key is not None:
            out.append(
                (key, desc, pat.kind not in ("variable", "contents"))
            )
    out.append((ev._id_key, False, True))
    return out


def number_sort_drops(con, store) -> bool:
    """Does a first-key number-comparator value sort drop the nulls
    and the values that are not numbers?  It iterates the NUMBERS
    binset (ref graphd-comparator-number.c number_vrange_start,
    pdb-bins.c:242-280; test sortnumber r3/r6/r7) — unless another
    producer drives the read: a guid= fixed set or a one-element name
    bin (``number_sort_root_keep``), both fixed-1 sets the sort
    short-circuits on, or a default-comparator value range, which
    keeps the string vrange as producer (differential seeds 55/142,
    139/147; a two-element name bin, a value= bin, a type gmap and a
    linkage sub all drop); and a result that renders no element drops
    the unused sort (gva_remove_unused_results)."""
    if not con.sort:
        return False
    pat, comp, _desc = sort_keys(con)[0]
    if pat.kind != "value" or comp != "number" or con.guid:
        return False
    if any(
        sc.op in _RANGE_OPS for sc in con.value_strcons
    ) and resolve_comparator(
        con.value_comparator or con.comparator
    ) != "number":
        return False
    res = con.result if con.result is not None else default_read_pattern()
    if not any(p.kind not in _NO_RENDER for p in res.walk()):
        return False
    # the name-bin probe is a store lookup, so it goes last
    return not number_sort_root_keep(con, store)


def number_sort_root_keep(con, store) -> bool:
    """True when the NUMBERS sort-root never produces: a 1-element
    raw NAME bin anywhere in the constraint's mandatory MY-form
    closure (the node itself or any transitively mandatory my-linkage
    sub) collapses to a fixed-1/gmap member whose cost pre-evaluates
    the whole and-iterator before the number vrange spins
    (and_become_small_set), so non-number values survive a
    number-comparator value sort.  Probed round 7 (12 directed
    shapes + sortcursor fuzz seed 866): value=/type= bins, iam-form
    and optional/count=0 subs, and 2-element bins (raw count,
    versioned-away members included) do NOT short-circuit; extra
    predicates, root or-chains, timestamps, and nesting depth don't
    interfere."""
    from itertools import islice

    def walk(c):
        for sc in c.name_strcons:
            if sc.op == "=" and len(sc.values) == 1 and sc.values[0]:
                n = len(list(islice(
                    store.find_by_name(sc.values[0]), 2
                )))
                if n == 1:
                    return True
        for s in c.subs:
            if s.is_optional or s.count_eq == 0:
                continue
            if s.linkage is None or s.linkage[0] != "my":
                continue
            if walk(s):
                return True
        return False

    return walk(con)


def range_scan_order(con):
    """The bin-scan position function an unsorted read surfaces in
    when a value range produces its candidates, ids within a bin; None
    for id order.  Default: the STRING_BINS bin (ref
    comparator_default_range_bins, libpdb/pdb-bins-strtable.c; tests
    intrange, numberequal r2/r3).  Number: each bin's exact-value hash
    bucket, then its strictly-between contents (ref
    number_vrange_it_next; test numberequal r6/r9), when every literal
    decodes.  Datetime: negative-year bins in reverse, then years, then
    times (ref datetime_inc/dec, test/unit/datetime.sh)."""
    if con.sort is not None or not con.value_strcons:
        return None
    ranges = [sc for sc in con.value_strcons if sc.op in _RANGE_OPS]
    if not ranges or range_is_checked(con):
        return None
    vcomp = resolve_comparator(con.value_comparator or con.comparator)
    if vcomp == "default":
        return string_bin_order
    if vcomp == "number" and all(
        number_bin_lookup(v) is not None
        for sc in ranges for v in sc.values if v is not None
    ):
        return number_scan_order
    if vcomp == "datetime":
        return datetime_scan_order
    return None


def boundary_keys(ev, con, plan, comps, body, live):
    """``(keys, present)`` of a resumed ``sort:`` cursor's boundary:
    ``live``, the live element's key tuple from the evaluator, else the
    keys FROZEN in the cursor payload — an element tombstoned or
    versioned away between pages repositions by comparing them (ref
    graphd-sort.c graphd_sort_cursor_set; restarting would re-deliver
    page 1, writeinto seed 62).  ``(None, False)`` when neither
    fits ``comps``."""
    if live is not None:
        return live, True
    from graphd_spark.freeze import frozen_sort_tuple

    frozen = frozen_sort_tuple(
        con, plan, body,
        lambda pat, comp: ev._sort_key(pat, con, plan, comp) is not None,
    )
    if frozen is None or len(frozen) != len(comps):
        return None, False
    return frozen, False


def sorter_run(ev, con, plan, comps, entries, P: int, resume_guid, body):
    """``simulate`` over ``entries`` — ``(keys, payload)`` in producer
    order, keys aligned with ``comps`` — with a resumed cursor's
    boundary as the grid."""
    grid = None
    if resume_guid is not None:
        bid = guid_serial(resume_guid)
        grid, _present = boundary_keys(
            ev, con, plan, comps, body,
            next((k for k, _pl in entries if k[-1] == bid), None),
        )
    return simulate(
        entries, P, [(d, pre) for _k, d, pre in comps], grid=grid
    )


def resume_offset(ev, src, con, plan, resume_guid, body) -> tuple:
    """``(offset, src)`` of a resumed ``sort:`` cursor under
    sort-root-ordered production (bare scans, vrange producers), whose
    ordered producer truncates losslessly.  The thawed scan re-enters
    through the boundary's FIRST-KEY NULL CLASS — the key's index for a
    non-null boundary, where null-key rows don't exist, the null bin
    for a null one (probed: sort=(name) chains drop null-name rows
    after a named boundary, answer EMPTY when only null-name rows
    remain, and vice versa) — so ``src`` narrows to it.  The offset
    counts the rows ordered before the boundary, and the boundary
    itself while it is live."""
    comps = sort_components(ev, con, plan)
    keys, present = boundary_keys(
        ev, con, plan, comps, body,
        ev._boundary_keys(src, comps, guid_serial(resume_guid)),
    )
    if keys is None:
        return 0, src
    src = ev._null_class(src, comps[0][0], keys[0] is None)
    return ev._count_before(src, comps, keys) + present, src


def result_pagesize(con) -> int:
    """The rendered page size: resultpagesize, defaulting to pagesize
    (ref graphd.h con_resultpagesize, test slip).  The sorter's P is
    ``con.start + result_pagesize(con)``."""
    if con.resultpagesize is not None:
        return con.resultpagesize
    return con.pagesize if con.pagesize is not None else DEFAULT_PAGESIZE


def range_is_checked(con) -> bool:
    """Does another indexed constraint produce the candidates, so a
    value/name range is only a check?  That covers gmap/hmap
    producers and the linkage members propagated from mandatory
    pinned subconstraints: an 'iam' sub contributes an isa member, a
    'my' sub a linksto member (test/unit/david_6.sh; differential
    seeds 64/109/1427).  Optional and count=0 subs produce nothing."""
    return bool(
        con.type_strcons or con.links or con.name_strcons or con.guid
        or any(
            (s.linkage or (None, None))[0] in ("iam", "my")
            and not s.is_optional
            and s.count_eq != 0
            for s in con.subs
        )
    )


def sort_production(con):
    """How a sorted read's production meets its sort, as
    ``(skipped, backward, simulated)``.

    ``skipped``: graphd_sort_needed (graphd-sort.c:1722-1758) — a
    leading timestamp/guid key over a SORTED iterator needs no sort;
    production is id order, reversed for a descending key (the
    iterator runs backward, graphd_sort_iterator_direction;
    ``backward``).  Probed: explicit out-of-order timestamps surface
    in id order under sort=(timestamp), and sort=(-timestamp) pages
    freeze backward all:~ / hmap:~ / gmap:~ / fixed:~ iterators.
    Value/name RANGE producers are bin-ordered, so there the sort is
    real; a range another index produces for is only checked.

    ``simulated``: a real sort over id-ordered production runs the
    reference's bounded incremental sorter (``simulate``)."""
    vranges = any(sc.op in _RANGE_OPS for sc in con.value_strcons)
    nranges = any(sc.op in _RANGE_OPS for sc in con.name_strcons)
    checked = (vranges or nranges) and range_is_checked(con)
    first = con.sort[0]
    if first.pattern.kind in ("timestamp", "guid") and not nranges and (
        not vranges or checked
    ):
        return True, bool(first.descending), False
    return False, False, (
        not ((vranges or nranges) and not checked)
        and production_is_id_ordered(con)
    )


def production_is_id_ordered(con) -> bool:
    """Does an INDEXED producer drive this sorted read in id order?

    The truncation machine only applies when production is id-ordered:
    an equality/glob/linkage/guid predicate pins an hmap/gmap/fixed/
    prefix-bin producer (unordered w.r.t. the sort root, candidates in
    id order — seed-101's ``hmap:value(...) (unordered)``).  A BARE
    sorted scan instead gets a sort-root-ordered vrange producer
    (graphd-sort-root.c; the constraint-iterator's "ordering" slot) —
    ordered production truncates losslessly, so the true full sort is
    already exact there (probed: ``read (any sort=(-value))`` over
    nulls pages the true descending prefix, null bin first).
    """
    def _branch_indexed(b) -> bool:
        return bool(
            b.guid
            or b.type_strcons
            or any(b.links.values())
            or any(sc.op in ("=", "~=") for sc in b.value_strcons)
            or any(sc.op in ("=", "~=") for sc in b.name_strcons)
            or any(
                (s.linkage or (None, None))[0] in ("iam", "my")
                and not s.is_optional
                and s.count_eq != 0
                for s in b.subs
            )
            or any(
                all(_branch_indexed(x) for x in ch)
                for ch in b.or_chains
            )
        )

    return bool(
        con.guid
        or con.type_strcons
        or any(con.links.values())
        or any(sc.op in ("=", "~=") for sc in con.value_strcons)
        or any(sc.op in ("=", "~=") for sc in con.name_strcons)
        or any(
            (s.linkage or (None, None))[0] in ("iam", "my")
            and not s.is_optional
            and s.count_eq != 0
            for s in con.subs
        )
        # an or-chain whose branches each pin an index drives the
        # reference's or-union producer — id-ordered, unordered
        # w.r.t. the sort root, so the truncation machine applies
        # (round 9, cursor seed 4396: the bounded sorter's null-FIRST
        # precompare polarity drops a late named candidate that the
        # full sort would keep)
        or any(
            all(_branch_indexed(b) for b in ch)
            for ch in con.or_chains
        )
    )


def _full_cmp(a, b, specs):
    """The real sort order: per-key compare, null LAST ascending
    (asc_nulls_last / desc_nulls_first)."""
    for i, (desc, _pre) in enumerate(specs):
        av, bv = a[i], b[i]
        if av is None and bv is None:
            continue
        if av is None:
            r = 1
        elif bv is None:
            r = -1
        elif av < bv:
            r = -1
        elif av > bv:
            r = 1
        else:
            continue
        return -r if desc else r
    return 0


def _pre_cmp(a, b, specs):
    """sort_precompare_pr_loc: null-FIRST polarity (an absent
    primitive field precompares smaller than any stored value),
    ``(0, False)`` when an un-precomparable key (variable/contents)
    decides."""
    for i, (desc, pre) in enumerate(specs):
        av, bv = a[i], b[i]
        if av is None and bv is None:
            continue
        if not pre:
            return 0, False
        if av is None:
            r = -1
        elif bv is None:
            r = 1
        elif av < bv:
            r = -1
        elif av > bv:
            r = 1
        else:
            continue
        return (-r if desc else r), True
    return 0, True


def simulate(entries, P: int, specs, grid=None):
    """Run the incremental sorter.

    entries: [(key_tuple, payload)] in PRODUCER order; key components
    ``None`` for null, last component the id tiebreak (never null).
    P: gsc_pagesize = con_start + resultpagesize (>= 1).
    specs: [(descending, preable)] aligned with key components.
    grid: boundary row's key tuple on cursor resume, else None.

    Returns (final_sorted [(keys, payload)] truncated to P,
    accepted_count, trailing_flag).
    """
    from functools import cmp_to_key

    order = cmp_to_key(lambda x, y: _full_cmp(x[0], y[0], specs))
    arr: list = []
    have_median = False
    median = None
    blind = False
    accepted = 0
    trailing = False
    for keys, payload in entries:
        # graphd_sort_accept_prefilter
        if grid is not None:
            r, known = _pre_cmp(keys, grid, specs)
            if known and r <= 0:
                continue  # GRAPHD_ERR_TOO_SMALL
        if have_median:
            r, known = _pre_cmp(keys, median, specs)
            blind = known and r < 0
            if known and r > 0:
                continue  # GRAPHD_ERR_TOO_LARGE
        # graphd_sort_accept (blind skips the real-order grid check)
        if (
            not blind
            and grid is not None
            and _full_cmp(keys, grid, specs) <= 0
        ):
            continue
        if (
            not have_median
            or blind
            or _full_cmp(keys, median, specs) < 0
        ):
            arr.append((keys, payload))
            accepted += 1
            if len(arr) >= 2 * P:
                arr.sort(key=order)
                trailing = True
                del arr[P:]
                have_median = True
                median = arr[P - 1][0]
        # else: larger than the median — dropped, not counted
    # graphd_sort_finish: final condense
    arr.sort(key=order)
    if len(arr) > P:
        trailing = True
        del arr[P:]
    return arr, accepted, trailing
