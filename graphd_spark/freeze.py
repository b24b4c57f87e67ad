"""The iterator a root page freezes into, and how it prints, for both
read evaluators; the thaw that turns a resumed cursor back into a
candidate restriction; plus the cost-model arithmetic the frozen
statistics embed.

graphd keeps one freeze routine per iterator above whichever index
produced the ids (graphd-iterator-and-freeze.c, graphd-iterator-isa.c
``isa_freeze``, graphd-iterator-linksto.c:3573-3750).  Likewise the
shape policy here — ``all``, guid/eq/glob/prefix ``fixed``, ``gmap``,
``hmap``, ``and:#`` with pre-evaluated sets and linksto members,
sub-gmap collapses, ``fixed-isa``/``fixed-linksto`` masquerades,
``isa:`` and ``or-linksto`` — runs once, over the evaluator ``ev``
(the Spark ``Compiler`` or the driver ``FastReader``).  Each evaluator
answers the index probes under one name and return shape:

- ``_freeze_scope(con, cstate)``: the context the probes run in;
  ``_frozen_count(con, cstate)``: the id bound frozen bounds and
  ``[n:]`` clamp at; ``_row_id(row)``: a page element's id;
  ``_first_ids(src, n)``: the first ``n`` match ids, ascending;
- ``_gmap_stats(lk, src, last_id)``: (low, high, #elements <=
  last_id) of a linkage index, (None, None, None) when empty;
  ``_gmap_tail(lk, src, last_id)``: #elements >= last_id, None unless
  last_id is in the index; ``_and_producer_pos(member, id, backward)``;
- ``_hmap_bin(tname, key)``: (tname, stored key, low, high, n, src)
  with ``src`` a Spark filter or an id list; ``_bin_rank(src, id)``:
  #bin members <= id; ``_live_sources(lk, hm)``: the bin members some
  primitive points at through ``lk``;
- ``_sub_single_id(sub)``; ``_sub_targets(sub, lk, n)``: the ``lk``
  guids of the first ``n`` sub matches; ``_endpoint_span(pairs)``:
  (low, high) of the primitives whose columns equal the given guids;
- ``_prefix_bin_ids(prefix)``, ``_prefix_stats(prefix)``;
  ``_linksto_span(lk, hm)``: (low, high, index) of the primitives
  pointing at a bin's members; ``_member_intersection(members, bi)``;
- ``_isa_expansion_ids(con, sh=None)`` (``sh`` the root's
  _isa_sub_hmap when known), ``_linksto_expansion_ids(con)`` and
  ``_or_union_ids(con)``: the raw pre-evaluated candidate sets.

The thaw (``thaw``, ``thaw_sub``; ref pdb_iterator_thaw, one thaw
beside each freeze) maps a ``CursorState`` to one backend-neutral
``Thaw`` restriction — an id interval, an optional id list, column
equalities — for a root and a subconstraint alike; the Spark compiler
applies it as a filter, the fast path as a predicate built once per
request.  Its probes:

- ``_thaw_scope(horizon)``: the context they run in (the asof horizon
  and the cursor's own [n:H]);
- ``_thaw_boundary(cstate)``: the id of the pos-th element of a
  thawed gmap/hmap index in scan order (a Spark ``orderBy().limit()
  .agg()``, a list slice);
- ``_isa_expansion_ids(con)``: a masqueraded fixed set's raw array.

A resumed ``sort:`` cursor's boundary keys come from its frozen
payload through ``frozen_sort_tuple`` / ``frozen_sort_key``.

The frozen statistics derive closed-form from the cost model —

- hmap bins: n from the index, check = find = FUNCTION_CALL +
  bsearch(n, 32k/5, HMAP_ARRAY, HMAP_ELEMENT), next = FUNCTION_CALL +
  HMAP_ELEMENT  (libpdb/pdb-iterator-hmap.c:906-915, bsearch cost
  libpdb/pdb-iterator.c:147-157);
- an or over bins rolls up: n = sum(n_i), next = sum(n_i*nc_i)/n,
  find = sum(fc_i), check = (sum(cc_i)+1)/2
  (graphd/graphd-iterator-or.c:557-585);
- a prefix iterator copies its or's statistics but overrides check to
  COST_PRIMITIVE + 10  (graphd/graphd-iterator-prefix.c:585-592);
- the isa estimates its n by pulling the first 5 distinct targets
  ("average loss"), scaling the subiterator's n by the shared id
  spread, and derives next/check from the sub's costs
  (graphd/graphd-iterator-isa.c isa_statistics_complete).

Everything is computed from the engine's own data; nothing is
replayed from the reference.
"""

from __future__ import annotations

import re
from typing import NamedTuple, Optional

from graphd_spark.comparators import literal_key
from graphd_spark.cursor import (
    BadCursor,
    CursorState,
    asof_horizon,
    freeze_cursor,
    parse_cursor,
    sign_cursor,
)
from graphd_spark.model import guid_compose, guid_serial, ts_from_string
from graphd_spark.pattern import GraphdError
from graphd_spark.sortsim import result_pagesize, sort_keys

# libpdb/pdb.h:362-370
COST_GMAP_ELEMENT = 2
COST_GMAP_ARRAY = 10
COST_HMAP_ELEMENT = 1 + COST_GMAP_ELEMENT
COST_HMAP_ARRAY = 1 + COST_GMAP_ARRAY
COST_FUNCTION_CALL = 1
COST_PRIMITIVE = COST_HMAP_ARRAY + 1

#: idarray tile fan-out used in the bsearch cost (pdb-iterator-hmap.c:909)
_N_PER_TILE = 32 * 1024 // 5

#: candidate sets up to this size pre-evaluate into a fixed iterator
#: (the reference bounds this by budget, GRAPHD_AND_PREEVALUATE_COST_MAX,
#: graphd-iterator-and-optimize.c:740; colors2 materializes 11)
_FIXED_MATERIALIZE_MAX = 100

#: isa small-set window for hmap-driven subs: GRAPHD_ISA_INLINE_BUDGET
#: (15000) / (PDB_COST_PRIMITIVE 12 + hmap next cost 4) — see
#: _isa_materialize_cap
_ISA_SMALL_SET_MAX = 937

#: gmap linkage letter -> primitive column (pdb_linkage_to_string)
GMAP_COLS = {"t": "typeguid", "l": "left", "r": "right", "s": "scope"}

_LINKS = ("left", "right", "typeguid", "scope")


def bits(x: int) -> int:
    """Bit length (pdb-iterator.c:30-38)."""
    b = 0
    while x:
        x >>= 1
        b += 1
    return b


def resource_stamp(store, key: str = None, reuse: str = None) -> str:
    """Session stamp for a cached iterator resource
    (graphd-iterator-resource.c:198-205, PID+CLOCK+SEQ —
    0x0123/0x456789AB in predictable mode).  Shared by the Spark
    compiler and the serving fast path so both mint the SAME stamp
    sequence from the store's session counters.

    ``reuse``: a stamp thawed from an incoming cursor — if this
    session allocated it, the underlying resource is still cached
    and re-freezing keeps its stamp (a cache hit mutates the same
    storable in place).  ``key``: content identity for resources
    whose repeated freezes dedup to one stored object (the
    suspension states).  Otherwise every freeze stores a fresh
    object and mints the next stamp."""
    reg = getattr(store, "cursor_resources", None)
    if reg is None:
        reg = store.cursor_resources = {}
        store.cursor_resource_alloc = set()
        store.cursor_resource_next = 1
    if reuse is not None and reuse in store.cursor_resource_alloc:
        return reuse
    if key is not None and key in reg:
        return reg[key]
    stamp = "0123456789ab{}".format(store.cursor_resource_next)
    store.cursor_resource_next += 1
    store.cursor_resource_alloc.add(stamp)
    if key is not None:
        reg[key] = stamp
    return stamp


def masq_resource(store, masq: str, backward: bool,
                  reuse: str = None) -> tuple:
    """(stamp, resource direction) of the cached fixed-set resource
    behind a masqueraded freeze ([cache:@STAMP]).  The resource is
    keyed by the DIRECTION-LESS masquerade identity: a backward chain
    over the same set reuses the forward chain's cached resource
    (probed: forward + backward chains in one session share the same
    stamp, and a resumed freeze prints the CACHED resource's
    direction marker, not the running iterator's)."""
    dirs = getattr(store, "cursor_resource_dirs", None)
    if dirs is None:
        dirs = store.cursor_resource_dirs = {}
    key = "fixedmasq:" + masq
    stamp = resource_stamp(store, key=key, reuse=reuse)
    if key not in dirs:
        dirs[key] = backward
    return stamp, dirs[key]


def bsearch_cost(n: int, n_per_tile: int, array_cost: int,
                 element_cost: int) -> int:
    """pdb_iterator_bsearch_cost (pdb-iterator.c:147-157)."""
    if n == 0:
        return COST_FUNCTION_CALL
    if n_per_tile < n:
        return array_cost * bits(n // n_per_tile) + element_cost * bits(
            n_per_tile
        )
    return array_cost + element_cost * bits(n)


def hmap_costs(n: int) -> tuple[int, int, int]:
    """(check, next, find) of one hmap bin (pdb-iterator-hmap.c:906-915)."""
    check = COST_FUNCTION_CALL + bsearch_cost(
        n, _N_PER_TILE, COST_HMAP_ARRAY, COST_HMAP_ELEMENT
    )
    nxt = COST_FUNCTION_CALL + COST_HMAP_ELEMENT
    return check, nxt, check


def ci_hash(key: str) -> int:
    """The hmap key hash: case-folded h*33+c, 34 bits
    (pdb-hash.c pdb_case_insensitive_hash)."""
    h = 0
    for c in key:
        o = ord(c)
        if o < 128:
            c = c.lower()
        h = h * 33 + ord(c)
    return h & ((1 << 34) - 1)


class PrefixStats:
    """Frozen-statistics view of a value-word prefix iterator."""

    __slots__ = ("prefix", "low", "high", "n", "next_cost", "find_cost",
                 "check_cost")

    def __init__(self, prefix, low, high, n, next_cost, find_cost):
        self.prefix = prefix
        self.low = low
        self.high = high
        self.n = n
        self.next_cost = next_cost
        self.find_cost = find_cost
        # prefix check is a primitive read + glob, cheaper than its or
        # (graphd-iterator-prefix.c:590)
        self.check_cost = COST_PRIMITIVE + 10

    def set_str(self) -> str:
        return f"prefix:{self.low}-{self.high}:{self.prefix}"

    def st_str(self) -> str:
        return f"[st:{self.n}:{self.next_cost}:{self.find_cost}]"


def _prefix_rollup(prefix: str, bins, high: int) -> Optional[PrefixStats]:
    """The prefix iterator's statistics from its or's members: one
    hmap bin per EXISTING hash bin with that prefix (colliding words
    share a bin and its id list, wordhash.py), given as (n, lowest
    id) pairs; n / next / find roll up per the or formulas.  None past
    10,000 bins or when the bins are empty."""
    if len(bins) > 10000:
        return None
    total_n = total_nc = total_fc = 0
    low = None
    for n_i, lo_i in bins:
        _cc, nc, fc = hmap_costs(n_i)
        total_n += n_i
        total_nc += n_i * nc
        total_fc += fc
        low = lo_i if low is None else min(low, lo_i)
    if total_n == 0:
        return None
    return PrefixStats(
        prefix=prefix.lower(),
        low=int(low),
        high=high,
        n=total_n,
        next_cost=total_nc // total_n,
        find_cost=total_fc,
    )


class IsaStats:
    """The isa iterator's own frozen statistics (n from the 5-sample
    loss estimate, isa_statistics_complete)."""

    __slots__ = ("low", "high", "n", "next_cost", "check_cost")

    def __init__(self, low, high, n, next_cost, check_cost):
        self.low = low
        self.high = high
        self.n = n
        self.next_cost = next_cost
        self.check_cost = check_cost

    def stats_str(self) -> str:
        # find cost 0 => check:next:n form (pdb_iterator_freeze_statistics)
        return f"{self.check_cost}:{self.next_cost}:{self.n}"


def isa_stats(
    store_n: int,
    sub_n: int,
    sub_next_cost: int,
    sub_check_cost: int,
    sub_low: int,
    sub_high: int,
    trial_n: int,
    sample_n: int,
) -> IsaStats:
    """isa_statistics_complete (graphd-iterator-isa.c): scale the
    subiterator's n by the shared id spread, divide by the sampled
    average loss, derive next from the cost of draining the sub."""
    isa_low = 0
    isa_high = store_n - 1  # highest possible target id
    upper_bound = isa_high - isa_low  # spread
    if sample_n == 0:
        average_loss = 2.0 * trial_n
    else:
        average_loss = trial_n / sample_n
    if average_loss > upper_bound:
        average_loss = float(upper_bound)
    max_low = max(sub_low, isa_low)
    sub_spread = sub_high - max_low if sub_high > max_low else 1
    if sub_low >= isa_high:
        cooked_sub_n = sub_n
    else:
        isa_spread = isa_high - max_low if isa_high > max_low else 1
        shared = min(sub_spread, isa_spread)
        cooked_sub_n = (min(sub_n, sub_spread) * shared) // sub_spread
        if cooked_sub_n > shared:
            cooked_sub_n = shared
    isa_n = (
        int(cooked_sub_n / average_loss)
        if cooked_sub_n >= average_loss
        else 1
    )
    if isa_n < 5:  # GRAPHD_ISA_N_SAMPLES
        isa_n = 5
    next_cost = (
        min(sub_n, sub_spread) * (sub_next_cost + COST_PRIMITIVE)
    ) // isa_n + isa_n // 8000
    check_cost = COST_GMAP_ARRAY + COST_GMAP_ELEMENT + sub_check_cost
    return IsaStats(isa_low, isa_high, isa_n, next_cost, check_cost)


def hmap_set_str(type_name: str, key: str, low: int, high: int) -> str:
    """hmap SET freeze: hmap:LOW-HIGH:map:type:hash:key
    (pdb-iterator-hmap.c:148-173); the single hmap file is 'pool' and
    the key is %XX-escaped (pdb_xx_encode)."""
    # pdb_xx_encode (libpdb/pdb-util.c:51-68): byte-wise over the
    # UTF-8 form; ONLY ASCII alphanumerics pass through, every other
    # byte becomes %xx (lowercase) — '-' and '_' included
    enc = "".join(
        chr(b) if b < 0x80 and chr(b).isalnum() else "%{:02x}".format(b)
        for b in key.encode("utf-8", "surrogateescape")
    )
    return "hmap:{}-{}:pool:{}:{}:{}".format(
        low, high, type_name, ci_hash(key), enc
    )


# -- the root iterator freeze ----------------------------------------------


def _iterator_cursor(ev, con, cstate, rows, src, delivered,
                     backward=False) -> Optional[str]:
    """Reference-format frozen cursor for an unsorted root page (ref
    graphd_read_set_cursor_get_value + constraint_cursor_from_
    iterator).  ``rows`` is the page, ``src`` the evaluator's match
    set and ``delivered`` the cumulative [o:] (graphd-read-set-
    cursor.c:39-43).  Returns None when the plan's iterator shape
    isn't one this engine freezes (the caller falls back to a
    position token)."""
    with ev._freeze_scope(con, cstate):
        return _root_freeze(
            ev, con, cstate, ev._row_id(rows[-1]), src, delivered,
            backward,
        )


def _root_freeze(ev, con, cstate, last_id, src, delivered, backward):
    count = ev._frozen_count(con, cstate)
    if cstate is not None and cstate.form in (
        "all", "without", "fixed", "gmap"
    ):
        return _refreeze(ev, con, cstate, last_id, delivered, count)
    gc = con.guid[0] if len(con.guid) == 1 else None
    if (
        gc is not None
        and gc.op == "="
        and gc.guids
        and all(g is not None for g in gc.guids)
        and not con.subs
        and not con.or_chains
    ):
        # guid= sets materialize as a fixed iterator in list order
        # (ref graphd-iterator-fixed.c; test cursor5)
        return _fixed_cursor(
            ev, con, [guid_serial(g) for g in gc.guids], last_id,
            delivered, count, backward,
        )
    if not con.subs and not con.or_chains:
        return _index_root_freeze(
            ev, con, cstate, last_id, src, delivered, count, backward
        )
    if backward:
        # backward multi-index roots: pre-evaluated small sets freeze
        # fixed:~; bigger intersections freeze the backward and:- form
        # with gmap:~ members (probed; isa:~ expansion freezes stay
        # unmodeled -> position fallback)
        members = _and_members_ext(ev, con)
        if members is not None and len(members) >= 2:
            return _and_cursor(
                ev, con, cstate, members, last_id, delivered, count,
                backward=True,
            )
        sub_gmap = _sub_gmap_cursor(
            ev, con, last_id, delivered, count, backward=True
        )
        if sub_gmap is not None:
            return sub_gmap
        sh = _isa_sub_hmap(ev, con)
        cap = _isa_materialize_cap(sh)
        if cap == 0:
            return None
        ids = (
            sh and ev._isa_expansion_ids(con, sh)
        ) or ev._first_ids(src, cap + 1)
        if len(ids) > cap or last_id not in ids:
            return None
        return _expansion_cursor(
            ev, con, cstate, sh, ids, last_id, delivered, count,
            backward=True,
        )
    and_cursor = _and_cursor(
        ev, con, cstate, _and_members_ext(ev, con), last_id, delivered,
        count,
    )
    if and_cursor is not None:
        return and_cursor
    sub_gmap = _sub_gmap_cursor(ev, con, last_id, delivered, count)
    if sub_gmap is not None:
        return sub_gmap
    # or-chain roots freeze the ITERATOR-LEVEL union of the branch
    # candidate sets as a plain fixed iterator — bin members and
    # linksto expansions, acceptance-rejected ids included (cursor
    # seeds 4160/4209: the accepted-set fallback froze fixed:4 where
    # the reference emits fixed:11)
    or_ids = ev._or_union_ids(con)
    if or_ids is not None and last_id in or_ids:
        return _fixed_cursor(ev, con, or_ids, last_id, delivered, count)
    # linkage-driven roots: the optimizer materializes small candidate
    # sets into a fixed iterator (graphd-iterator-fixed.c; tests
    # cursor3/cursor4); larger sets keep their isa / or-linksto
    # iterator shape (graphd-iterator-isa.c, graphd-iterator-
    # linksto.c; test/unit/isa.sh)
    sh = _isa_sub_hmap(ev, con)
    cap = _isa_materialize_cap(sh)
    ids = (
        (sh and ev._isa_expansion_ids(con, sh))
        or ev._linksto_expansion_ids(con)
        or ev._first_ids(src, cap + 1)
        if cap
        else []
    )
    if not cap or len(ids) > cap or last_id not in ids:
        return _isa_prefix_cursor(
            ev, con, cstate, last_id, delivered, count
        ) or _or_linksto_cursor(ev, con, cstate, last_id, delivered, count)
    return _expansion_cursor(
        ev, con, cstate, sh, ids, last_id, delivered, count
    )


def _refreeze(ev, con, cstate, last_id, delivered, count):
    """Re-freeze a resumed all / without / fixed / gmap iterator at
    the page's last element."""
    if cstate.form == "fixed":
        if last_id not in cstate.fixed_ids:
            return None
        i = cstate.fixed_ids.index(last_id)
        # backward iterators freeze pos = PRODUCER elements consumed,
        # rejections included (probed: fixed:~ prefix bins count hash
        # false positives)
        cstate.pos = len(cstate.fixed_ids) - i if cstate.backward else i + 1
    elif cstate.form == "gmap":
        # backward: the distance of last_id from the TOP of the index
        pos = (
            ev._gmap_tail(cstate.lk, cstate.src, last_id)
            if cstate.backward
            else ev._gmap_stats(cstate.lk, cstate.src, last_id)[2]
        )
        if pos is None:
            return None
        cstate.pos = pos
    elif cstate.backward:
        # all / without: a dense id span, consumed from the top
        # (probed: all:~ over value!= pages /1/ /2/ /4/ when a
        # non-matching id sits between)
        cstate.pos = (
            cstate.high if cstate.high is not None else count
        ) - last_id
    else:
        cstate.pos = last_id + 1
    n = cstate.horizon if cstate.horizon is not None else count
    return freeze_cursor(con, cstate, delivered, n, ev.types.resolve)


def _index_root_freeze(ev, con, cstate, last_id, src, delivered, count,
                       backward):
    """A root without subconstraints or or-chains: a bare gmap or
    hmap index, a materialized eq/glob/prefix set, an and of linkage
    equalities, or the all-scan."""
    gm = _gmap_source(ev, con)
    if gm is not None:
        # single-linkage roots collapse to the linkage's gmap index
        # iterator (ref pdb-iterator-gmap.c:339, graphd's and-iterator
        # drops its redundant hull; tests will5, brendan4)
        return _gmap_cursor(
            ev, con, *gm, last_id, delivered, count, backward
        )
    hm = _hmap_source(ev, con)
    if hm is not None:
        # a single name=/value= equality IS the hmap bin — frozen by
        # hash key, position = elements consumed
        # (pdb-iterator-hmap.c:146-186; differential seed 9)
        tname, key, lo, hi, n, bin_src = hm
        rank = ev._bin_rank(bin_src, last_id)
        if backward:
            # consumed from the top of the bin, rejections included
            pos, n_echo = n - rank + 1, count
        else:
            pos, n_echo = rank, (hi if last_id == hi - 1 else count)
        hset = hmap_set_str(tname, key, lo, hi)
        if backward:
            hset = hset.replace("hmap:", "hmap:~", 1)
        return sign_cursor(
            con, f"[o:{delivered}][n:{n_echo}]{hset}/{pos}/",
            ev.types.resolve,
        )
    if any(
        sc.op in ("=", "~=") and any(v is not None for v in sc.values)
        for sc in (*con.value_strcons, *con.name_strcons)
    ):
        # positive value/name matches drive an hmap/prefix iterator;
        # small candidate sets materialize as a fixed iterator (ref
        # graphd-iterator-fixed.c; test/unit/nick6.sh: value~="a*" ->
        # fixed:6:...)
        prefix = _prefix_pattern(con)
        if prefix is not None and not (
            con.guid or con.links or con.type_strcons
            or con.next or con.prev or con.timestamps
        ):
            # a bare word-prefix root materializes the PREFIX BIN
            # contents — hash-bucket candidates, false positives
            # included (pdb-prefix.c enumeration; '7' and 'z' share
            # 5-bit slot 28, so "007" rides in "z*"'s array;
            # differential cursor seed 29)
            ids = ev._prefix_bin_ids(prefix)
        else:
            ids = ev._first_ids(src, _FIXED_MATERIALIZE_MAX + 1)
        if len(ids) > _FIXED_MATERIALIZE_MAX:
            return None
        return _fixed_cursor(
            ev, con, ids, last_id, delivered, count, backward
        )
    # multi-index roots (two+ direct linkage equalities) intersect
    # like sub-driven ands: pre-evaluated fixed sets or the and:/and:-
    # freeze (probed: left=G right=G chains)
    and_cursor = _and_cursor(
        ev, con, cstate, _and_members_ext(ev, con), last_id, delivered,
        count, backward,
    )
    if and_cursor is not None:
        return and_cursor
    # unindexed roots scan everything (pdb all-iterator)
    st = CursorState(
        form="all", low=0, high=count,
        pos=(count - last_id) if backward else last_id + 1,
        backward=backward,
    )
    return freeze_cursor(con, st, delivered, count, ev.types.resolve)


def _fixed_cursor(ev, con, ids, last_id, delivered, count,
                  backward=False) -> Optional[str]:
    """A materialized fixed iterator over ``ids``; a backward one
    counts its position from the top."""
    if last_id not in ids:
        return None
    st = CursorState(
        form="fixed", fixed_ids=ids,
        pos=(
            len(ids) - ids.index(last_id)
            if backward
            else ids.index(last_id) + 1
        ),
        backward=backward,
    )
    return freeze_cursor(con, st, delivered, count, ev.types.resolve)


def _gmap_cursor(ev, con, lk, src, last_id, delivered, count,
                 backward=False) -> Optional[str]:
    """The ``lk->src`` gmap index iterator."""
    low, high, pos = ev._gmap_stats(lk, src, last_id)
    if low is None:
        return None
    if backward:
        # consumed from the top, rejections included
        pos = ev._gmap_stats(lk, src, 1 << 62)[2] - pos + 1
    st = CursorState(
        form="gmap", low=low, high=high, pos=pos, lk=lk, src=src,
        backward=backward,
    )
    # [n:] echoes con_high, which narrows to the index span only once
    # the producer is exhausted (graphd-read-set-cursor.c:51; brendan4
    # n:10 on a drained one-element gmap vs the store count on partial
    # pages — differential probes)
    n = high if not backward and last_id == high - 1 else count
    return freeze_cursor(con, st, delivered, n, ev.types.resolve)


def _expansion_cursor(ev, con, cstate, sh, ids, last_id, delivered, count,
                      backward=False) -> Optional[str]:
    """A materialized expansion set.  An isa-produced set of 6+
    elements remembers its provenance instead of the raw ids
    (isa_set_fixed_masquerade, graphd-iterator-isa.c:723-769;
    test/unit/colors3.sh), and so does a forward iam-expansion set of
    8+ (cursor fuzz seed 2354); other sets freeze a plain fixed
    iterator.  A masqueraded set of 10+ elements freezes a cached
    resource ticket whose direction marker is the CACHED resource's
    (a backward chain ends its position in /POS/~); smaller ones carry
    their ids inline and the running direction."""
    masq = _isa_masquerade(ev, con, sh, ids) if len(ids) > 5 else None
    if masq is None and len(ids) > 7 and not backward:
        masq = _linksto_masquerade(ev, con)
    if masq is None:
        return _fixed_cursor(
            ev, con, ids, last_id, delivered, count, backward
        )
    st = CursorState(
        form="fixed_masq", masq=masq,
        pos=(
            len(ids) - ids.index(last_id)
            if backward
            else ids.index(last_id) + 1
        ),
        backward=backward,
    )
    res_bwd = backward
    if len(ids) >= 10:  # GRAPHD_ITERATOR_FIXED_CACHE_MIN
        st.cache_stamp, res_bwd = masq_resource(
            ev.store, masq, backward,
            reuse=cstate.cache_stamp if cstate else None,
        )
    else:
        st.fixed_ids = ids
    if res_bwd:
        st.masq = masq.replace("fixed-isa:", "fixed-isa:~", 1)
    return freeze_cursor(con, st, delivered, count, ev.types.resolve)


# -- index shapes ------------------------------------------------------------


def _prefix_pattern(con) -> Optional[str]:
    """The pure word-prefix P when the constraint's only value
    predicate is ``value~="P*"`` (the shape the reference routes to
    the prefix iterator, graphd-iterator-prefix.c)."""
    if len(con.value_strcons) != 1 or con.name_strcons:
        return None
    sc = con.value_strcons[0]
    if sc.op != "~=" or len(sc.values) != 1 or not sc.values[0]:
        return None
    pat = sc.values[0]
    body = pat[1:] if pat.startswith("^") else pat
    if not body.endswith("*"):
        return None
    p = body[:-1]
    if not p or not p.isalnum() or not p.isascii():
        return None
    return p.lower()


def _gmap_source(ev, con) -> Optional[tuple]:
    """(linkage letter, source id) when the root constraint's only
    indexed predicate is a single linkage equality — the shape the
    reference compiles to a bare gmap iterator.  Any second indexed
    predicate (value/name/guid/timestamp, another linkage) makes an
    and-iterator."""
    if (
        con.value_strcons or con.name_strcons or con.guid
        or con.next or con.prev or con.timestamps
        or con.dateline is not None
    ):
        return None
    cands = []
    for lk in ("typeguid", "right", "left", "scope"):
        for gc in con.links.get(lk, []):
            if gc.op != "=" or len(gc.guids) != 1 or gc.guids[0] is None:
                return None
            cands.append((lk, guid_serial(gc.guids[0])))
    for sc in con.type_strcons:
        if sc.op != "=" or len(sc.values) != 1 or not sc.values[0]:
            return None
        g = ev.types.resolve(sc.values[0])
        if g is None:
            return None
        cands.append(("typeguid", guid_serial(g)))
    if len(cands) != 1:
        return None
    lk, src = cands[0]
    return lk[0], src


def _hmap_source(ev, con) -> Optional[tuple]:
    """The hmap bin (tname, stored key, low, high, n, src) when the
    constraint's only indexed predicate is one name=/value= string
    equality — the shape that compiles to a single hmap bin
    (libpdb/pdb-iterator-hmap.c)."""
    if (
        con.subs or con.or_chains or con.guid or con.links
        or con.type_strcons or con.next or con.prev or con.timestamps
    ):
        return None
    cands = []
    for tname, scs in (
        ("name", con.name_strcons), ("value", con.value_strcons)
    ):
        for sc in scs:
            if sc.op != "=" or len(sc.values) != 1 or not sc.values[0]:
                return None
            cands.append((tname, sc.values[0]))
    if len(cands) != 1:
        return None
    return ev._hmap_bin(*cands[0])


def _lone_sub(con, kind: str) -> Optional[tuple]:
    """(sub, linkage) when the root's only predicate is one
    ``kind``-side ('my' or 'iam') linkage subconstraint."""
    if (
        len(con.subs) != 1 or con.or_chains
        or con.value_strcons or con.name_strcons or con.type_strcons
        or con.guid or any(con.links.values()) or con.next or con.prev
        or con.timestamps or con.dateline is not None
    ):
        return None
    sub = con.subs[0]
    k, lk = sub.linkage or (None, None)
    if k != kind or lk not in _LINKS:
        return None
    return sub, lk


# -- and-iterators -------------------------------------------------------------


def _and_members(ev, con) -> Optional[list]:
    """The root's AND-iterator members as (linkage letter, source id)
    gmaps — direct linkage equalities plus subconstraints whose child
    resolves to a single primitive (GUID-consequence propagation,
    graphd-constraint-iterator.c:321-404,1815-1841).  None when any
    predicate falls outside this shape."""
    if con.or_chains or con.guid or con.next or con.prev:
        return None
    if any(
        sc.op in ("=", "~=") and any(v is not None for v in sc.values)
        for sc in (*con.value_strcons, *con.name_strcons)
    ):
        return None  # would add an hmap/prefix member we don't freeze
    members = []
    for sc in con.type_strcons:
        if sc.op != "=" or len(sc.values) != 1 or not sc.values[0]:
            return None
        g = ev.types.resolve(sc.values[0])
        if g is None:
            return None
        members.append(("t", guid_serial(g)))
    # gmap member order follows the linkage enum (pdb.h:77-105)
    for lk in ("typeguid", "right", "left", "scope"):
        for gc in con.links.get(lk, []):
            if gc.op != "=" or len(gc.guids) != 1 or gc.guids[0] is None:
                return None
            members.append((lk[0], guid_serial(gc.guids[0])))
        for sub in con.subs:
            if sub.linkage != ("iam", lk):
                continue
            sid = ev._sub_single_id(sub)
            if sid is None:
                return None
            members.append((lk[0], sid))
    for sub in con.subs:
        kind, lk = sub.linkage or (None, None)
        if kind != "iam" or lk not in _LINKS:
            return None  # 'my'-side subs make isa/linksto members
    return members


def _linksto_member(ev, hm, lk) -> Optional[dict]:
    """An or-of-gmaps linksto member: links whose ``lk`` column points
    at any of the (multiple) members of a subconstraint's hmap bin
    ``hm`` (_hmap_source) (graphd_iterator_linksto_or + or masquerade,
    graphd-iterator-linksto.c:3610-3750)."""
    if hm is None or hm[4] < 2:
        return None
    span = ev._linksto_span(lk, hm)
    if span is None:
        return None
    lo, hi, index = span
    hset = hmap_set_str(*hm[:4])
    letter = lk[0]
    return {
        "kind": "linksto",
        "lk": lk,
        "hmap_n": hm[4],
        "index": index,
        "lo": lo,
        "hi": hi,
        "set_str": lambda lo, hi: (
            f"(or:(or-linksto:+{lo}-{hi}:{letter}->({hset})))"
        ),
        "standalone": lambda lo, hi: (
            f"or:(or-linksto:+{lo}-{hi}:{letter}->({hset}))"
        ),
    }


def _and_members_ext(ev, con) -> Optional[list]:
    """AND members in the constraint-iterator's build order
    (graphd-constraint-iterator.c:1723-2030): linkage gmaps (with
    single-source subconstraints propagated in, ordered by the linkage
    enum), the value-prefix iterator, then multi-source linksto
    subconstraints.  None when any predicate falls outside the shapes
    this engine freezes."""
    if con.or_chains or con.guid or con.next or con.prev:
        return None
    prefix = _prefix_pattern(con)
    if prefix is None and any(
        sc.op in ("=", "~=") and any(v is not None for v in sc.values)
        for sc in (*con.value_strcons, *con.name_strcons)
    ):
        return None  # an hmap member form we don't freeze
    members = []
    handled = set()

    def _gmap_member(letter, src):
        return {
            "kind": "gmap",
            "src": src,
            "letter": letter,
            "set_str": lambda lo, hi: f"(gmap:{lo}-{hi}:{letter}->{src})",
        }

    for sc in con.type_strcons:
        if sc.op != "=" or len(sc.values) != 1 or not sc.values[0]:
            return None
        g = ev.types.resolve(sc.values[0])
        if g is None:
            return None
        members.append(_gmap_member("t", guid_serial(g)))
    linksto = []
    for lk in ("typeguid", "right", "left", "scope"):
        for gc in con.links.get(lk, []):
            if gc.op != "=" or len(gc.guids) != 1 or gc.guids[0] is None:
                return None
            members.append(_gmap_member(lk[0], guid_serial(gc.guids[0])))
        for i, sub in enumerate(con.subs):
            if sub.linkage != ("iam", lk):
                continue
            handled.add(i)
            hm = _hmap_source(ev, sub)
            if hm is not None and hm[4] >= 2:
                m = _linksto_member(ev, hm, lk)
                if m is None:
                    return None
                linksto.append(m)
                continue
            sid = ev._sub_single_id(sub)
            if sid is None:
                return None
            members.append(_gmap_member(lk[0], sid))
    if len(handled) != len(con.subs):
        return None  # 'my'-side subs make isa members
    # gmap spans narrow each member; the and intersects them
    for m in members:
        lo, hi, _ = ev._gmap_stats(m["letter"], m["src"], 0)
        if lo is None:
            return None
        m["lo"], m["hi"] = lo, hi
    if prefix is not None:
        ps = ev._prefix_stats(prefix)
        if ps is None:
            return None
        members.append(
            {
                "kind": "prefix",
                "lo": ps.low,
                "hi": ps.high,
                "stats": ps,
                "prefix": prefix,
                "set_str": (
                    lambda lo, hi, p=prefix: f"(prefix:{lo}-{hi}:{p})"
                ),
            }
        )
    members.extend(linksto)
    return members


def _and_cursor(ev, con, cstate, members, last_id, delivered, count,
                backward=False) -> Optional[str]:
    """Frozen and-iterator cursor for multi-index roots:
    ``and:#LOW-HIGH:N:[psz:..][ov:0](SUB)..(SUB)[pro:0]/POS[pp:..]/
    @STAMP`` (graphd-iterator-and-freeze.c:619-805; tests slip, isa).
    The long subiterator state is replaced by a cached-resource ticket
    (graphd-iterator-state.c:75-127).  ``members`` come from
    _and_members_ext; fewer than two freeze no and."""
    if members is None or len(members) < 2:
        return None
    pre = _preevaluate_small_set(
        ev, con, members, last_id, delivered, count, backward
    )
    if pre is not None:
        return pre
    low = max(m["lo"] for m in members)
    high = min(m["hi"] for m in members)
    if backward:
        subs = "".join(
            m["set_str"](low, high).replace(
                "(gmap:", "(gmap:~", 1
            ).replace("(prefix:", "(prefix:~", 1)
            for m in members
        )
        head = f"and:-{low}-{high}"
    else:
        subs = "".join(m["set_str"](low, high) for m in members)
        head = f"and:#{low}-{high}"
    # [psz:] always prints on fresh builds; on RESUME it persists only
    # when the producer is a gmap (probed: resumed gmap-led and chains
    # keep [psz:2]; the isa golden's prefix-led and drops it —
    # gia_context_pagesize_valid)
    resumed = cstate is not None and cstate.form == "and_it"
    psz = (
        f"[psz:{result_pagesize(con)}]"
        if not resumed or members[0]["kind"] == "gmap"
        else ""
    )
    set_part = f"{head}:{len(members)}:{psz}[ov:0]{subs}[pro:0]"
    # producer position: a gmap producer freezes one once the
    # statistics have run — [pp:N] appears at position >= 5, and
    # crossing the 6th pull mints one extra resource stamp before the
    # freeze (probed: ps2 chains stamp ab1,ab2,ab4,ab5...; ps5 chains
    # ab1,ab3,ab4...; pp:4 never prints, pp:5 does)
    ppos = None
    prior_ppos = 0
    if members[0]["kind"] == "gmap":
        ppos = ev._and_producer_pos(members[0], last_id, backward)
        if resumed and cstate.pos >= 0:
            prior_ppos = ev._and_producer_pos(
                members[0], cstate.pos, backward
            )
    if ppos is not None and prior_ppos < 6 <= ppos:
        # the statistics resource stores once per shape: a sorted
        # suspension already stored it under the same content key
        # (slip: suspend mints ab1, the and freeze prints ab2 with no
        # crossing mint between)
        skey = "suspend:" + ";".join(
            f"{m['letter']}->{m['src']}"
            for m in members
            if m["kind"] == "gmap"
        )
        if skey not in getattr(ev.store, "cursor_resources", {}):
            resource_stamp(ev.store)  # the statistics resource
    if ppos is not None and ppos >= 5:
        pos_part = f"/{last_id}[pp:{ppos}]/"
    else:
        pos_part = f"/{last_id}/"
    # every and freeze mints a FRESH stamp (probed: resumed pages never
    # echo the incoming one)
    body = "[o:{}][n:{}]{}{}@{}".format(
        delivered, count, set_part, pos_part, resource_stamp(ev.store)
    )
    return sign_cursor(con, body, ev.types.resolve)


def _preevaluate_small_set(ev, con, members, last_id, delivered, count,
                           backward=False) -> Optional[str]:
    """and_become_small_set (graphd-iterator-and-optimize.c:747-1030):
    when the cheapest member's full production plus checking its
    candidates against every other member fits inside
    GRAPHD_AND_PREEVALUATE_COST_MAX, the and pre-evaluates into a
    FIXED iterator over the intersection of the member candidate sets
    (check-only predicates like timestamps don't narrow it) —
    differential cursor seed 476.  The cost budget alone bounds the
    set (probed: 639 shared ids still freeze fixed:639, 640 flip to
    and:).  Returns the frozen fixed cursor, or None to keep the and
    form."""
    COST_MAX = 1024 * 10  # GRAPHD_AND_PREEVALUATE_COST_MAX
    stats = []  # (n | None, next_cost | None, check_cost)
    for m in members:
        if m["kind"] == "gmap":
            n = ev._gmap_stats(m["letter"], m["src"], 1 << 62)[2]
            if n is None:
                return None
            nc = COST_FUNCTION_CALL + COST_GMAP_ELEMENT
            bs = COST_FUNCTION_CALL + bsearch_cost(
                n, _N_PER_TILE, COST_GMAP_ARRAY, COST_GMAP_ELEMENT
            )
            stats.append((n, nc, min(bs, COST_PRIMITIVE + COST_FUNCTION_CALL)))
        elif m["kind"] == "prefix":
            ps = m["stats"]
            stats.append((ps.n, ps.next_cost, ps.check_cost))
        else:
            # linksto statistics aren't valid this early (the reference
            # computes them under budget later), so it can't be the
            # producer; its check cost is one primitive read + the
            # sub's hmap check (graphd-iterator-linksto.c:2072-2075)
            hc, _n, _f = hmap_costs(m["hmap_n"])
            stats.append((None, None, COST_PRIMITIVE + hc))
    best = None
    for i, (n, nc, _cc) in enumerate(stats):
        if n is None:
            continue
        total = (1 + n) * nc
        if best is None or total < best[0]:
            best = (total, n, i)
    if best is None:
        return None
    best_total, best_n, bi = best
    if best_total > COST_MAX // 2:
        return None
    for i, (_n, _nc, cc) in enumerate(stats):
        if i != bi:
            best_total += best_n * cc
    if best_total >= COST_MAX:
        return None
    ids = ev._member_intersection(members, bi)
    if ids is None:
        return None
    return _fixed_cursor(ev, con, ids, last_id, delivered, count, backward)


# -- linkage expansions ------------------------------------------------------


def _sub_gmap_cursor(ev, con, last_id, delivered, count,
                     backward=False) -> Optional[str]:
    """A root whose only predicate is one ``L->(sub)`` where the sub
    resolves to a SINGLE primitive collapses to that linkage's gmap
    iterator — the reference's linksto optimization replaces a one-id
    subiterator with a plain gmap (graphd-iterator-linksto.c;
    differential cursor seed 36 froze gmap:27-29:l->26 where we
    materialized fixed:2)."""
    ls = _lone_sub(con, "iam")
    if ls is None:
        return None
    sub, lk = ls
    if (
        sub.subs or sub.or_chains or sub.count_eq is not None
        or sub.count_min not in (None, 1) or sub.count_max is not None
    ):
        return None
    hm = _hmap_source(ev, sub)
    if hm is None or hm[4] > 50:
        return None
    # the linksto's or drops sources with EMPTY gmap bins (null
    # iterators); only a single surviving gmap collapses
    live = ev._live_sources(lk, hm)
    if len(live) != 1:
        return None
    return _gmap_cursor(
        ev, con, lk[0], live[0], last_id, delivered, count, backward
    )


def _isa_sub_hmap(ev, con) -> Optional[tuple]:
    """The (sub, hmap bin) pair when the root is a single-'my'-sub
    expansion whose sub compiles to one hmap bin."""
    ls = _lone_sub(con, "my")
    if ls is None:
        return None
    hm = _hmap_source(ev, ls[0])
    return None if hm is None else (ls[0], hm)


def _isa_materialize_cap(sh) -> int:
    """Materialize window for a linkage-expansion root.  The
    reference's isa small-set drains the SUB iterator under
    GRAPHD_ISA_INLINE_BUDGET_TOTAL = 15000 (graphd-iterator-isa.c:43-53,
    isa_become_small_set:767-905), each candidate costing
    PDB_COST_PRIMITIVE (12) plus the sub's next cost — for an
    hmap-driven sub (one value=/name= equality) that's FUNCTION_CALL +
    HMAP_ELEMENT = 4, so exactly 15000 // 16 = 937 SUB candidates fit
    (probed: 937 links -> fixed, 938 -> and:#; the gate counts sub
    candidates, not distinct targets — 1000 links over 50 targets stay
    and:#).  Prefix-driven subs wrap in an and(all, prefix) whose
    per-next budget varies with the store (probed thresholds 522 vs
    >530), so they keep the conservative default window, as do all
    other shapes.  ``sh`` is the root's _isa_sub_hmap.  Returns 0
    when the shape must NOT materialize."""
    if sh is None:
        return _FIXED_MATERIALIZE_MAX
    return _ISA_SMALL_SET_MAX if sh[1][4] <= _ISA_SMALL_SET_MAX else 0


def _isa_masquerade(ev, con, sh, ids) -> Optional[str]:
    """The fixed-isa provenance string when the root's candidates were
    produced by expanding one subconstraint's linkage — the shape
    ``fixed-isa:LOW-HIGH:L<-(SUB)[hint:0]`` where SUB is the child's
    own index iterator (vip when typeguid + one endpoint are pinned,
    gmap for a single linkage, hmap for one value=/name= equality)
    (graphd-iterator-isa.c:656-769; test/unit/colors3.sh).  The fixed
    iterator narrowed its bounds to the actual id span (fixed_optimize,
    graphd-iterator-fixed.c:1016-1019); hint 0 differs from
    HINT_DEFAULT so it prints.  ``sh`` is the root's _isa_sub_hmap."""
    ls = _lone_sub(con, "my")
    if ls is None:
        return None
    sub, lk = ls
    head = f"fixed-isa:{ids[0]}-{ids[-1] + 1}:{lk[0]}<-"
    if sh is not None:
        # a sub whose only predicate is one value=/name= equality keeps
        # its hmap bin as the isa's subiterator (probed: fixed-isa:LO-
        # HI:L<-(hmap:...) at >= 6 distinct targets; 5 or fewer freeze
        # the raw unmasqueraded fixed set)
        return f"{head}({hmap_set_str(*sh[1][:4])})[hint:0]"
    if sub.or_chains or sub.value_strcons or sub.name_strcons or (
        sub.guid or sub.next or sub.prev or sub.timestamps
    ):
        return None
    # the child's index shape: typeguid plus at most one pinned
    # endpoint (direct linkage= or a grandchild resolving to a single
    # primitive)
    typeguid = None
    for sc in sub.type_strcons:
        if sc.op != "=" or len(sc.values) != 1 or not sc.values[0]:
            return None
        g = ev.types.resolve(sc.values[0])
        if g is None or typeguid is not None:
            return None
        typeguid = g
    endpoint = None  # (linkage, source id)
    for elk in ("left", "right", "scope"):
        for gc in sub.links.get(elk, []):
            if (
                gc.op != "=" or len(gc.guids) != 1
                or gc.guids[0] is None or endpoint is not None
            ):
                return None
            endpoint = (elk, guid_serial(gc.guids[0]))
    for gc in sub.links.get("typeguid", []):
        if (
            gc.op != "=" or len(gc.guids) != 1
            or gc.guids[0] is None or typeguid is not None
        ):
            return None
        typeguid = gc.guids[0]
    for gsub in sub.subs:
        # a grandchild pinning one of the child's endpoints
        # (GUID-consequence propagation,
        # graphd-constraint-iterator.c:321-404): 'iam' —
        # child.glk == grandchild.guid — resolving to one primitive
        gkind, glk = gsub.linkage or (None, None)
        if gkind != "iam" or endpoint is not None or glk not in (
            "left", "right", "scope"
        ):
            return None
        gid = ev._sub_single_id(gsub)
        if gid is None:
            return None
        endpoint = (glk, gid)
    db = ev.store.db_id
    if typeguid is not None and endpoint is not None:
        elk, src = endpoint
        pairs = [("typeguid", typeguid), (elk, guid_compose(db, src))]
        form = "vip:{}-{}:" + f"{elk[0]}+{typeguid}->{src}"
    elif typeguid is not None or endpoint is not None:
        elk, src = (
            ("typeguid", guid_serial(typeguid))
            if typeguid is not None
            else endpoint
        )
        pairs = [(elk, guid_compose(db, src))]
        form = "gmap:{}-{}:" + f"{elk[0]}->{src}"
    else:
        return None
    span = ev._endpoint_span(pairs)
    if span is None:
        return None
    return f"{head}({form.format(*span)})[hint:0]"


def _linksto_masquerade(ev, con) -> Optional[str]:
    """fixed-linksto provenance for an IAM-expansion root whose
    pre-evaluated fixed set has MORE THAN 7 elements
    (graphd_iterator_linksto_set_fixed_masquerade,
    graphd-iterator-linksto.c:3573-3609 — "don't bother if it's
    small", n <= 7 keeps the raw fixed; cursor fuzz seed 2354):
    ``fixed-linksto:+LOW:L->(SUBSET)`` with the high bound omitted at
    HIGH_ANY and '+' the forward direction marker
    (linksto_freeze_set)."""
    ls = _lone_sub(con, "iam")
    if ls is None:
        return None
    hm = _hmap_source(ev, ls[0])
    if hm is None:
        return None
    # LOW is the linksto iterator's low = the sub bin's low + 1 (a
    # pointer's id always exceeds its target's in the append-only
    # log; graphd-iterator-linksto.c:3343) — NOT the expansion's first
    # id (cursor fuzz seed 3343)
    return "fixed-linksto:+{}:{}->({})".format(
        hm[2] + 1, ls[1][0], hmap_set_str(*hm[:4])
    )


def _isa_prefix_cursor(ev, con, cstate, last_id, delivered,
                       count) -> Optional[str]:
    """Frozen isa-iterator cursor: distinct ids pointed to through one
    linkage by a word-prefix candidate set too large to materialize
    (graphd-iterator-isa.c isa_freeze; test/unit/isa.sh).  The
    statistics in the state are computed from the engine's own data
    via the reference cost model; a resumed cursor keeps its thawed
    statistics (isa_statistics_thaw)."""
    ls = _lone_sub(con, "my")
    if ls is None:
        return None
    sub, lk = ls
    if (
        sub.subs or sub.or_chains or sub.guid or sub.links
        or sub.type_strcons or sub.next or sub.prev or sub.timestamps
    ):
        return None
    prefix = _prefix_pattern(sub)
    if prefix is None:
        return None
    ps = ev._prefix_stats(prefix)
    if ps is None:
        return None
    # the 5-sample duplication estimate: pull candidates in production
    # (id) order, map through the linkage, count trials until 5
    # distinct targets (GRAPHD_ISA_N_SAMPLES)
    targets = ev._sub_targets(sub, lk, 64)
    if targets is None:
        return None
    seen: list[int] = []
    trial_n = 0
    for tg in targets:
        if len(seen) >= 5:
            break
        trial_n += 1
        if tg is None:
            continue
        t = guid_serial(tg)
        if t not in seen:
            seen.append(t)
    if len(seen) < 5:
        return None  # would have become a fixed set
    ist = isa_stats(
        store_n=count,
        sub_n=ps.n,
        sub_next_cost=ps.next_cost,
        sub_check_cost=ps.check_cost,
        sub_low=ps.low,
        sub_high=ps.high,
        trial_n=trial_n,
        sample_n=len(seen),
    )
    stats = (
        cstate.echo
        if cstate is not None and cstate.echo
        else ist.stats_str()
    )
    o = delivered
    # the dup tracker's production clone reads 4 subiterator elements
    # per result produced; short pages still fill the 5-element inline
    # cache (graphd-iterator-cache.c GRAPHD_ITERATOR_CACHE_INLINE_N;
    # observed against the reference across page sizes)
    sd_pos = 4 * max(5, o)
    stamp = resource_stamp(
        ev.store, reuse=cstate.cache_stamp if cstate else None
    )
    pset = ps.set_str()
    pst = ps.st_str()
    body = (
        "[o:{o}][n:{n}]isa:{ilo}-{ihi}:{L}<-({pset})"
        "/{last}:~-[sp:{o}]/0:(-/{pst})-:{stats}:-:"
        "[sd:({pset}/{sd}/{pst})@{stamp}]"
    ).format(
        o=o,
        n=cstate.horizon if cstate and cstate.horizon else count,
        ilo=ist.low,
        ihi=ist.high,
        L=lk[0],
        pset=pset,
        last=last_id,
        pst=pst,
        stats=stats,
        sd=sd_pos,
        stamp=stamp,
    )
    return sign_cursor(con, body, ev.types.resolve)


def _or_linksto_cursor(ev, con, cstate, last_id, delivered,
                       count) -> Optional[str]:
    """Frozen or-of-gmaps cursor for a links-to expansion whose source
    set is plural: the or wears the linksto masquerade
    (graphd_iterator_linksto_set_or_masquerade,
    graphd-iterator-linksto.c:3610-3655; test/unit/isa.sh q4/q5)."""
    ls = _lone_sub(con, "iam")
    if ls is None:
        return None
    m = _linksto_member(ev, _hmap_source(ev, ls[0]), ls[1])
    if m is None:
        return None
    stamp = resource_stamp(
        ev.store, reuse=cstate.cache_stamp if cstate else None
    )
    body = "[o:{}][n:{}]{}/{}/@{}".format(
        delivered,
        cstate.horizon if cstate and cstate.horizon else count,
        m["standalone"](m["lo"], m["hi"]),
        last_id,
        stamp,
    )
    return sign_cursor(con, body, ev.types.resolve)


# -- the thaw: a resumed cursor as a candidate restriction -----------------


class Thaw(NamedTuple):
    """The candidates a thawed iterator state leaves: ids in
    ``[lo, hi)``, among ``ids`` unless it is None, whose columns equal
    the ``eq`` (column, value) pairs.  ``Thaw()`` restricts nothing."""
    lo: int = 0
    hi: Optional[int] = None
    ids: Optional[list] = None
    eq: tuple = ()


#: the restriction of an exhausted cursor (``null:``, ``and:…/$``)
NOTHING = Thaw(ids=())


def thaw(ev, con, cstate) -> Thaw:
    """The candidate restriction a thawed ``cstate`` puts on ``con``'s
    set, root or subconstraint alike (ref pdb_iterator_thaw: one thaw
    per iterator, beside its freeze).  The index probes run within
    the asof horizon and the cursor's own [n:H] (``ev._thaw_scope``):
    a thawed iterator repositions in the index state it froze."""
    with ev._thaw_scope(cstate.horizon):
        t = _thaw_form(ev, con, cstate)
    h = cstate.horizon
    if h is not None and (t.hi is None or h < t.hi):
        t = t._replace(hi=h)
    return t


def _thaw_form(ev, con, cstate) -> Thaw:
    form, pos, bwd = cstate.form, cstate.pos, cstate.backward
    if form in ("all", "without"):
        # a dense id span; backward scans consume it from the top
        # (pdb-iterator-all.c)
        if bwd:
            return Thaw(cstate.low, (cstate.high or 0) - pos)
        return Thaw(max(pos, cstate.low), cstate.high)
    if form in ("fixed", "fixed_masq"):
        # a fixed set repositions in its id array; a masqueraded one
        # in its RAW array (bin false positives and rejected targets
        # counted; graphd-iterator-fixed.c fixed_iterator_next;
        # test/unit/colors3.sh) — inline ids ride the cursor, cached
        # states regenerate from the provenance; with no raw set
        # recoverable it resumes by offset (thaw_envelope)
        ids = cstate.fixed_ids
        if form == "fixed_masq" and not ids:
            ids = ev._isa_expansion_ids(con)
            if not ids:
                return Thaw()
        return Thaw(ids=ids[:max(len(ids) - pos, 0)] if bwd else ids[pos:])
    if form in ("gmap", "vip"):
        # one parent's linkage index (vip: with the typeguid): past
        # the consumed prefix, from the top for backward scans
        # (pdb-iterator-gmap.c it_gmap_offset, libpdb/pdb-vip.c)
        eq = ((GMAP_COLS[cstate.lk], guid_compose(ev.store.db_id,
                                                  cstate.src)),)
        if form == "vip":
            # POS is the last consumed id
            eq += (("typeguid", cstate.tg),)
            return Thaw(0, pos, eq=eq) if bwd else Thaw(pos + 1, eq=eq)
        return _past_boundary(ev, cstate, Thaw(0, cstate.high, eq=eq))
    if form == "hmap":
        # a hash bin, by its STORED key (pdb-iterator-hmap.c
        # it_hmap_offset)
        return _past_boundary(ev, cstate, Thaw())
    if form in ("and_it", "or_it"):
        # and/or iterators resume after their last delivered candidate
        # id, before it backward; '$' is exhausted
        # (graphd-iterator-and-freeze.c thaw, graphd-iterator-or.c:3009)
        if cstate.tail == "$":
            return NOTHING
        return Thaw(0, pos) if bwd else Thaw(pos + 1)
    return Thaw()  # isa_it and unmodeled forms resume by offset


def _past_boundary(ev, cstate, t: Thaw) -> Thaw:
    """``t`` past the first ``pos`` elements of a gmap/hmap index
    (index order == id order)."""
    if not cstate.pos:
        return t
    b = ev._thaw_boundary(cstate)
    if b is None:
        return NOTHING
    if cstate.backward:
        return t._replace(hi=b if t.hi is None else min(t.hi, b))
    return t._replace(lo=b + 1)


def sub_sort_backward(sub) -> bool:
    """True when a modeled sorted sub runs its producer backward
    (descending timestamp/guid first key -> the '~' iterator
    freezes)."""
    return bool(
        sub.sort
        and sub.sort[0].pattern.kind in ("timestamp", "guid")
        and sub.sort[0].descending
    )


def thaw_sub(ev, sub) -> tuple:
    """A subconstraint's cursor= resume (per-parent contents
    pagination, ref graphd-read-set-cursor.c; test/unit/cursor6.sh):
    ``(cstate, restriction, ctx)``.  ``ctx`` is None unless the sub's
    result renders a cursor; then it holds the per-parent freeze
    context's shared fields (the evaluator adds the index it freezes
    from, see compiler.sub_cursor_mode)."""
    cstate, t = None, Thaw()
    asof = ev.asof is not None
    if sub.cursor == "null:":
        t = NOTHING
    elif sub.cursor is not None:
        try:
            cstate = parse_cursor(
                sub.cursor, sub, ev.types.resolve, asof=asof
            )
        except BadCursor as e:
            raise GraphdError("BADCURSOR", e.message)
        if cstate is not None:
            t = thaw(ev, sub, cstate)
    if sub.result is None or not any(
        p.kind == "cursor" for p in sub.result.walk()
    ):
        return cstate, t, None
    if asof:
        horizon = min(
            ev.store.count(), asof_horizon(ev.store, ev.asof) + 1
        )
    elif cstate is not None and cstate.horizon is not None:
        horizon = cstate.horizon
    else:
        horizon = ev.store.count()
    return cstate, t, {
        "con": sub,
        "offset": cstate.offset if cstate is not None else 0,
        "lo": sub.start or 0,
        "horizon": horizon,
        "asof": asof,
        "backward": sub_sort_backward(sub),
        "resolve": ev.types.resolve,
    }


# -- frozen sort: boundary keys ----------------------------------------------


def deserialize_sort_values(body: str):
    """Invert compiler.sort_cursor_string's value serialization: a
    sequence of tagged components ending in the guid tiebreak
    (graphd-value.c graphd_value_serialize).  Returns
    ([(tag, raw)], boundary_guid_serial) or (None, None)."""
    b = body.encode("utf-8", "surrogateescape")
    vals = []
    i = 0
    while i < len(b):
        t = b[i:i + 1]
        if t == b"n":
            vals.append(("null", None))
            i += 1
        elif t in (b"s", b"a"):
            mm = re.match(rb"[sa](\d+):", b[i:])
            if not mm:
                return None, None
            ln = int(mm.group(1))
            start = i + mm.end()
            raw = b[start:start + ln]
            if len(raw) != ln:
                return None, None
            vals.append((
                t.decode(), raw.decode("utf-8", "surrogateescape")
            ))
            i = start + ln
        elif t == b"b":
            vals.append(("b", b[i + 1:i + 2].decode()))
            i += 2
        else:
            mm = _SORT_TOKEN.get(t) and _SORT_TOKEN[t].match(b, i)
            if not mm:
                return None, None
            vals.append((t.decode(), mm.group(1).decode()))
            i = mm.end()
    if not vals or vals[-1][0] != "g":
        return None, None
    return vals, guid_serial(vals[-1][1])


#: tag byte -> pattern of a serialized sort component (graphd-value.c)
_SORT_TOKEN = {
    b"g": re.compile(rb"g([0-9a-f]{32})"),
    b"t": re.compile(rb"t([0-9TZ:.\-]+)"),
    b"d": re.compile(rb"d(\d+)\."),
    b"#": re.compile(rb"#([^.]*)\."),
}

#: frozen_sort_key's answer for a component it cannot reconstruct
UNKEYED = object()

#: sort key kind -> the serialization tag its frozen component carries
_KEY_TAG = {
    "guid": "g", "timestamp": "t", "generation": "#", "datatype": "d",
    "live": "b", "archival": "b", "left": "g", "right": "g",
    "typeguid": "g", "scope": "g", "previous": "g", "next": "g",
    "type": "g",
}


def frozen_sort_key(kind: str, comp: str, tag: str, raw,
                    literal_var: bool = False):
    """One frozen sort component ``(tag, raw)`` as the key the
    evaluators sort ``kind`` by under comparator ``comp`` (null keys
    are None), or UNKEYED.  ``literal_var``: a variable bound to a
    string column, keyed like a value."""
    if tag == "null":
        return None
    if kind in ("value", "name") or (kind == "variable" and literal_var):
        return literal_key(raw, comp) if tag in ("s", "a") else UNKEYED
    if _KEY_TAG.get(kind) != tag:
        return UNKEYED
    try:
        if kind == "guid":
            return guid_serial(raw)
        if kind == "timestamp":
            return ts_from_string(raw)
        if kind in ("generation", "datatype"):
            return int(raw)
    except ValueError:
        return UNKEYED
    if kind in ("live", "archival"):
        return raw == "1"
    # linkage keys sort by the guid STRING (hex order == id order)
    return raw


def frozen_sort_tuple(con, plan, body, keyed) -> Optional[tuple]:
    """The resumed ``sort:`` cursor's boundary key tuple from its
    FROZEN payload, for a boundary element tombstoned or versioned
    away between pages: the reference repositions by comparing the
    frozen keys (graphd-sort.c graphd_sort_cursor_set; restarting
    would re-deliver page 1 — writeinto seed 62).  One key per sort
    key (sortsim.sort_keys, which end at the first guid key) that
    ``keyed(pattern, comp)`` says the evaluator sorts by, then the id
    tiebreak; None when a component cannot be reconstructed."""
    if body is None or not con.sort:
        return None
    vals, bid = deserialize_sort_values(body)
    if vals is None:
        return None
    out = []
    for i0, (pat, comp, _desc) in enumerate(sort_keys(con)):
        if i0 >= len(vals):
            return None
        if not keyed(pat, comp):
            continue
        kv = frozen_sort_key(
            pat.kind, comp, *vals[i0],
            literal_var=pat.kind == "variable"
            and plan.var_cols.get(pat.var) is not None
            and plan.var_kind_cols.get(pat.var) is None
            and plan.var_kinds.get(pat.var)
            in ("value", "name", "type", "literal"),
        )
        if kv is UNKEYED:
            return None
        out.append(kv)
    out.append(bid)
    return tuple(out)
