"""Constraint tree -> DataFrame plan: the read path.

The reference evaluates reads with a budgeted nested-loop interpreter
over per-constraint iterator ANDs (ref
graphd/graphd-constraint-iterator.c:1723-2030, production loop
graphd/graphd-read-set.c:21-35).  Here the same semantics compile to
one declarative DataFrame plan and Catalyst/Tungsten choose the
physical strategy:

- intrinsic predicates (§2.3 of SURVEY.md) become native column
  filters that push down to the Parquet scan;
- parent<->child linkage becomes hash equi-joins (semi/anti/outer
  based on count bounds) instead of per-candidate recursion;
- "newest" generation matching becomes one window over ``lineage``
  shared by every constraint node (the precomputable ``current``
  view);
- per-parent contents become ``collect_list(struct)`` ordered by a
  row_number window on the same partitioning key as the groupBy (one
  shuffle, not two — AQE sees identical partitioning);
- sorts order by comparator *sort keys* (order-preserving binary
  encodings, see comparators.py), so a 100 TB sort-by-value is a
  native Tungsten binary sort;
- root pagination is orderBy().limit(start+pagesize) — Spark's
  TakeOrderedAndProject — never a global single-partition window.

Driver-side state (the store) is used only to bind literals the
reference also binds pre-plan: type names to typeguids
(graphd-read.c:36-135), guid~= lineages, next= pointers, asof
horizons.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field as dfield
from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphd_spark.comparators import (
    decode_number,
    fuzzy_key,
    literal_key,
    number_bin_lookup,
    resolve_comparator,
    sort_key_column,
    value_norm_key,
)
from graphd_spark.gql.ir import (
    Constraint,
    DONTCARE,
    FALSE,
    LINKAGES,
    Pattern,
    TRUE,
)
from graphd_spark.cursor import (
    asof_horizon,
    count_root_set,
    cursor_high_bounds,
    emit_root_cursor,
    needs_total,
    thaw_envelope,
)
from graphd_spark import freeze
from graphd_spark.freeze import (
    GMAP_COLS,
    _FIXED_MATERIALIZE_MAX,
    _ISA_SMALL_SET_MAX,
)
from graphd_spark.model import guid_serial, su_encode, ts_from_string
from graphd_spark.sortsim import (
    range_is_checked,
    result_pagesize,
    sort_production,
)
from graphd_spark.pattern import (
    GraphdError,
    default_read_pattern,
    pattern_shows_contents,
)

#: primitive fields carried in every element struct
PRIM_ELEM_FIELDS = [
    "guid", "typeguid", "left", "right", "scope", "prev", "name",
    "datatype", "value", "live", "archival", "timestamp", "generation",
]

# py4j round-trip caches: cached F.col/F.lit/constant-expression
# handles — see jexpr.py
from graphd_spark.jexpr import _c, _cc, _ctx_id, _l  # noqa: E402


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


def _iter_branch_ok(b) -> bool:
    """An or-branch whose match folds into the iterator-level
    pre-evaluation: intrinsic only, recursively."""
    return (
        not b.subs and not b.assignments and not b.next and not b.prev
        and b.dateline is None and not b.gens
        and all(_iter_branch_ok(x) for ch in b.or_chains for x in ch)
    )


def _iter_expressible(con) -> bool:
    """True when every predicate of ``con`` lives at the reference's
    ITERATOR level — the tree graphd compiles into gmap/hmap/vip/
    linksto iterators and and-iterator checks, which its sub-cursor
    pre-evaluation materializes over RAW primitives (probed round 6:
    a versioned-away child stays in the frozen fixed set, value
    ranges and sub-sub existence are applied, the generational
    newest test is not; ref graphd-read-set-cursor.c,
    graphd-iterator-and.c pre-evaluation)."""
    if con.next or con.prev or con.dateline is not None or con.gens:
        return False
    # intrinsic or-chains participate in the iterator tree and the
    # pre-evaluation collapses them into the fixed set like any other
    # predicate (probed round 7: `(<-left { timestamp>.. | value=.. }
    # ...)` freezes the per-parent fixed of chain-passing children);
    # sub- or assignment-bearing chains stay out
    for ch in con.or_chains:
        for b in ch:
            if not _iter_branch_ok(b):
                return False
    for s in con.subs:
        if s.linkage is None:
            return False
        # anti / counted sub-subs constrain acceptance, not the
        # iterator; their effect on the frozen set is unprobed
        if s.count_eq is not None or s.count_max is not None:
            return False
        if (s.count_min or 1) > 1:
            return False
        if not _iter_expressible(s):
            return False
    return True


def _strcon_is_bin(sc) -> bool:
    """Does this string constraint contribute an ITERATOR (hmap /
    prefix-bin / vrange) to the reference's and-tree — pre-evaluating
    into frozen sub-cursor fixed sets — or only a constraint-level
    check (graphd_match)?  Probed round 8: ``value!=`` and
    prefix-less globs leave the BARE gmap freeze (checks don't
    pre-evaluate); equalities, ranges, word-prefix globs, and
    wildcard-free ``~=`` patterns pre-evaluate."""
    if sc.op in ("=", "<", "<=", ">", ">="):
        return True
    if sc.op != "~=":
        return False  # '!=': check-only (probed: bare gmap freeze)
    if len(sc.values) != 1 or not sc.values[0]:
        return False
    pat = sc.values[0]
    body = pat[1:] if pat.startswith("^") else pat
    if "*" not in body and "?" not in body:
        return True  # exact word pattern: hmap bins
    if body.endswith("*") and "?" not in body:
        p0 = body[:-1]
        if p0 and "*" not in p0 and p0.isalnum() and p0.isascii():
            return True  # word-prefix bins
    return False


def _sub_iter_shape_ok(sub) -> bool:
    """Clause families the round-8 sub-cursor model covers: or-chain
    branches may carry SUBS but not assignments (branch $vars in
    cursor subs are unprobed), and every (grand-)sub must be a plain
    'my' linkage shape so the existence pre-evaluation recurses."""
    for ch in sub.or_chains:
        for b in ch:
            if b.assignments:
                return False
            if not _sub_iter_shape_ok(b):
                return False
    for s in sub.subs:
        if s.linkage is None or s.linkage[1] == "bi":
            return False
        if not _sub_iter_shape_ok(s):
            return False
    return True


def sub_cursor_mode(sub, ignore_sort: bool = False) -> Optional[str]:
    """Which per-parent iterator a cursor-rendering subconstraint
    freezes (probed round 6; ref graphd-read-set-cursor.c:33-87,
    libpdb/pdb-vip.c):

    - ``'gmap'``  — a BARE linkage sub freezes the parent's own raw
      linkage index: ``gmap:LO-HI:l->PARENT/POS/`` with POS counting
      raw index elements, rejections included.
    - ``'vip'``   — linkage + a single typeguid equality and nothing
      else freezes the (endpoint, typeguid) combined index with the
      pre-evaluated fixed set nested:
      ``vip:LO-HI:l+TG->SRC/LAST_ID/(fixed:N:ids/CONSUMED/)``.
    - ``'fixed'`` — linkage + iterator-expressible predicates
      pre-evaluate per parent over the RAW indexes into a plain
      ``fixed:N:ids/POS/`` (no newest/live generational filtering).
    - ``'sort'``  — value/name first-key sorts freeze per-parent
      ``sort:`` boundary keys replayed through the bounded
      incremental sorter (fast path only; see _sub_sort_setup).
    - ``'iam'``   — an iam-side sub (``left->(...)``) spans at most
      one element per parent, so a rendered page always exhausts and
      the cursor freezes ``null:`` (probed).
    - ``None``    — shapes whose reference freeze this engine does
      not model: or-chains (``or:`` trees), next/prev/dateline/
      generation constraints, counted sub-subs, bidirectional
      linkage.
    """
    if sub.linkage is None:
        return None
    if sub.linkage[0] == "iam":
        # same clause split as the my-side modes (round 8): gens,
        # counted sub-subs, prev/next, and check-only strcons ride
        # as acceptance checks over the single-target probe
        if (sub.sort and not ignore_sort) or not _sub_iter_shape_ok(
            sub
        ):
            return None
        return "iam"
    if sub.linkage[1] == "bi":
        return None
    # explicit liveness/archival flags select bgmap iterators whose
    # interaction with the pre-evaluated freeze is unprobed
    if sub.live != "true" or sub.archival != "dontcare":
        return None
    if sub.sort and not ignore_sort:
        k0 = sub.sort[0].pattern.kind
        if k0 in ("value", "name"):
            # real per-parent sorts freeze the reference's sort:
            # boundary-key cursors, replayed through the incremental
            # sorter (sortsim) — modeled for the serializable key
            # kinds; the Spark compiler keeps its legacy fixed
            # context for these (fast-path-served family)
            if all(
                sk.pattern.kind in (
                    "value", "name", "timestamp", "guid", "datatype"
                )
                for sk in sub.sort
            ):
                return "sort"
            return None
        # "perfect" sorts: a timestamp/guid first key orders by id,
        # so the iterator itself serves the sort (descending = the
        # backward '~' forms; probed: (-timestamp) subs freeze
        # gmap:~ / vip:~ / fixed:~)
        if k0 not in ("timestamp", "guid"):
            return None
        if any(
            sc.op in ("<", "<=", ">", ">=")
            for sc in sub.name_strcons
        ):
            return None
    if not _sub_iter_shape_ok(sub):
        return None
    # ROUND 8 (probed): NON-iterator clauses are invisible to the
    # frozen shape — next/prev/generation constraints, counted
    # sub-subs (count=0 / count= / count<=), and check-only string
    # constraints (_strcon_is_bin False) ride as acceptance checks
    # over the bare form, so a `(<-left value!="x" (<-left count=0))`
    # sub still freezes the parent's raw gmap, a typed one the vip,
    # and any BIN predicate set pre-evaluates into fixed: exactly as
    # before.  Or-chains (branch subs included, via existence)
    # collapse into the pre-evaluated set.
    mandatory_subs = [
        s for s in sub.subs
        if s.count_eq != 0 and not s.is_optional
        # counted sub-subs keep their existence iterator (count>=1
        # is implied); only the extra bound is an acceptance check
    ]
    has_preds = (
        any(_strcon_is_bin(sc) for sc in sub.value_strcons)
        or any(_strcon_is_bin(sc) for sc in sub.name_strcons)
        or sub.guid
        or any(sub.links.values()) or mandatory_subs or sub.timestamps
        or sub.valuetype is not None or sub.false or sub.or_chains
    )
    tcs = [sc for sc in sub.type_strcons if _strcon_is_bin(sc)]
    check_types = len(tcs) != len(sub.type_strcons)
    if not tcs and not has_preds and not check_types:
        return "gmap"
    if (
        len(tcs) == 1 and tcs[0].op == "=" and len(tcs[0].values) == 1
        and tcs[0].values[0] is not None and not has_preds
        and not check_types and len(sub.type_strcons) == 1
    ):
        return "vip"
    if not tcs and not has_preds:
        return "gmap"  # only check-level types: bare raw index
    return "fixed"


def effective_sub_cursor_mode(sub) -> Optional[str]:
    """sub_cursor_mode adjusted for the reference's resultpagesize-0
    rules: a pagesize-0 sub drops its sort context entirely
    (grsc_initialize_sort, graphd-read-set.c:848-855) — the count-min
    probe freezes the ITERATOR form — except that a value/name sort
    whose result renders per-element values keeps its sort-root
    producer, which pre-evaluates to a plain fixed set
    (gva_remove_unused_results; probed round 6)."""
    mode = sub_cursor_mode(sub)
    rps = result_pagesize(sub)
    if rps != 0:
        return mode
    mode = sub_cursor_mode(sub, ignore_sort=True)
    if (
        mode is not None and mode != "iam" and sub.sort
        and sub.sort[0].pattern.kind == "value"
        and sub.result is not None
        and any(
            p.kind not in (
                "count", "cursor", "estimate", "estimate-count",
                "iterator", "timeout", "list", "none",
            )
            for p in sub.result.walk()
        )
    ):
        # the dropped sort leaves its sort-root producer behind only
        # for my-side sets; an iam sub's single-target fixed iterator
        # is the producer either way (probed: iam + value sort at
        # pagesize=0 freezes the plain fixed:1:<target> probe).
        # VALUE sorts only: the name sort-root is the id-order
        # all-scan, which degenerates to the parent's own bare form
        # at pagesize 0 (probed round 8, cursor fuzz seed 10017:
        # `sort=(name guid) pagesize=0` freezes gmap, not fixed)
        return "fixed"
    return mode


def sub_sort_backward(sub) -> bool:
    """True when a modeled sorted sub runs its producer backward
    (descending timestamp/guid first key -> the '~' iterator
    freezes)."""
    return bool(
        sub.sort
        and sub.sort[0].pattern.kind in ("timestamp", "guid")
        and sub.sort[0].descending
    )


@dataclass
class SubPlan:
    mode: str  # 'anti' | 'semi' | 'skip' | 'agg'
    plan: "SetPlan"
    cnt_col: Optional[str] = None
    arr_col: Optional[str] = None
    #: or-branch subs only: boolean column, true when this sub's
    #: branch is the row's first matching branch — its contents slot
    #: renders null otherwise (probed: non-winning branch slots are
    #: null, a winning zero-row sub is "()")
    eff_col: Optional[str] = None


TS_MIN = 0
TS_MAX = 0xFFFFFFFFFFFF  # GRAPH_TIMESTAMP_MAX (libgraph/graph.h:399)


def timestamp_envelope(con) -> tuple:
    """EXACT clause_merge_timestamp fold
    (graphd-constraint-clause.c:100-160): every op compiles against
    the literal's single expanded instant (a partial stamp expands to
    its LOWER instant, gdp_token_totime — probed round 7: ts>1970
    matches .0001 stamps, ts=1970/<=1970 match only the instant,
    ts!=1970 matches everything away from the envelope edges) into one
    inclusive [min, max] envelope, folded in PARSE order:

    - '<'  sets max = ts-1 UNCONDITIONALLY (can loosen a prior max —
      reference quirk), false when ts == MIN;
    - '<=' lowers max to ts;
    - '='  narrows both edges to ts;
    - '!=' nudges only an exactly-equal EDGE inward (order-dependent:
      a '!=' before the bound that would create the edge is a no-op);
    - '>=' raises min to ts;
    - '>'  raises min to ts+1 when min <= ts, false when ts >= MAX.

    Returns (tmin, tmax, false) with tmin/tmax None when unbounded
    (still at the type extremes).  Raises ValueError on unparseable
    literals (callers report SYNTAX)."""
    if not con.timestamps:
        return None, None, False
    tmin, tmax = TS_MIN, TS_MAX
    false = False
    for tc in con.timestamps:
        try:
            ts = ts_from_string(tc.text)
        except ValueError:
            raise ValueError(tc.text)
        if tc.op == "<":
            if ts == TS_MIN:
                false = True
            else:
                tmax = ts - 1
        elif tc.op == "<=":
            if tmax > ts:
                tmax = ts
        elif tc.op == "=":
            if tmin < ts:
                tmin = ts
            if tmax > ts:
                tmax = ts
        elif tc.op == "!=":
            if tmin == ts:
                tmin += 1
            if tmax == ts:
                tmax -= 1
        elif tc.op == ">=":
            if tmin < ts:
                tmin = ts
        elif tc.op == ">":
            if ts >= TS_MAX:
                false = True
            elif tmin <= ts:
                tmin = ts + 1
        else:
            raise GraphdError(
                "SYNTAX",
                f"cannot use {tc.op} with timestamps",
            )
    if tmax < tmin:
        false = True
    return (
        tmin if tmin > TS_MIN else None,
        tmax if tmax < TS_MAX else None,
        false,
    )


def timestamp_bounds(con) -> tuple:
    """(min, max) view of timestamp_envelope for the id-bsearch
    compile; a false envelope returns an impossible pair."""
    try:
        tmin, tmax, false = timestamp_envelope(con)
    except ValueError:
        return None, None  # the row-predicate builder reports it
    if false:
        return 1, 0
    return tmin, tmax


@dataclass
class SetPlan:
    con: Constraint
    sub_plans: list = dfield(default_factory=list)
    var_cols: dict = dfield(default_factory=dict)   # '$name' -> column
    var_kinds: dict = dfield(default_factory=dict)  # '$name' -> pattern kind
    #: '$name' -> column holding the PER-ROW pattern kind, for vars
    #: whose or-branches bind different kinds (e.g. $t=guid | $t=value)
    #: — the reference renders by the winning branch's pattern type
    var_kind_cols: dict = dfield(default_factory=dict)
    #: '$name' -> (sub_plan, arr_col, cnt_col, Pattern): variables bound
    #: to set-shaped patterns (e.g. $f=((value))), evaluated at assembly
    #: over the sub's collected rows
    var_patterns: dict = dfield(default_factory=dict)
    #: set-shaped assignments of THIS constraint, waiting for the parent
    #: to register them against its aggregated array column
    pending_pattern_vars: list = dfield(default_factory=list)
    #: SubPlans attached by or-branches (their cnt/arr columns must
    #: ride along in the element struct for variable assembly)
    or_sub_plans: list = dfield(default_factory=list)
    #: per or-chain (same index as con.or_chains): that chain's branch
    #: SubPlans in branch order, for contents slot assembly
    or_chain_subs: list = dfield(default_factory=list)
    #: `contents` slot list in parse order: root subs and or-branch
    #: subs interleaved exactly as written (the reference's single
    #: con_head list; see Constraint.ordered_clauses)
    contents_slots: Optional[list] = None
    cursor: Optional[str] = None
    #: subconstraint cursor context: the materialized candidate set the
    #: evaluator freezes per parent (test/unit/cursor6.sh)
    cursor_ctx: Optional[dict] = None
    #: effective count cap (implicit caps shift with the cursor offset)
    countlimit: Optional[int] = None

    def __copy__(self):
        """Field-shallow copy without copy-module dispatch — the
        serving eval cache clones its cached plan once per request
        (fastread.run), so this sits on the hot path."""
        new = object.__new__(SetPlan)
        new.__dict__.update(self.__dict__)
        return new


#: sorted-page simulation cap: the incremental-sorter mirror collects
#: one (id, key...) tuple per candidate, so an unselective sorted read
#: over a huge store keeps the declarative top-k plan instead (the
#: truncation needs 2*(start+pagesize) < candidates AND interleaved
#: null keys to be observable; the cap is far above every golden/fuzz
#: store and matches the serving mirror's working-set scale)
_SORTSIM_CAP = 200_000

#: store size (rows) above which semi/anti sub joins dedup the build
#: side before broadcasting (~10 MB of primitives at ~100 B/row);
#: below it the distinct's shuffle stage is pure per-query latency
_SEMI_DISTINCT_MIN_ROWS = 100_000

_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


class Compiler:
    def __init__(self, spark, store, types, asof: Optional[str] = None):
        self.spark = spark
        self.store = store
        self.types = types
        self.asof = asof
        #: thawed-chain horizon ([n:H] of the incoming cursor): a
        #: running chain evaluates at the store horizon it froze at —
        #: candidates, expansions, provenance bounds, and re-frozen
        #: [n:] all clamp here (round 8, write-interleaved chains;
        #: mirror of fastread.run's self.horizon narrowing)
        self._chain_h = None
        self.base = self._build_base()
        self._n = 0

    def _build_base(self):
        src = self.store.to_df(self.spark)
        # the base skeleton is query-independent: store.to_df returns
        # the SAME DataFrame object until the next commit (per-version
        # memo), so (source identity, asof) keys an identical plan.
        # Memoizing it skips ~6 DataFrame/Window round trips per
        # compiled read (a quarter of compile wall time); no rows are
        # cached — the plan is lazy, every action still scans the log.
        # The memo lives ON the store object, so it dies with the
        # store; it holds the distinct asof frames of one version
        memo = self.store._base_frame_memo
        key = (_ctx_id(), self.asof)
        hit = memo.get(key)
        if hit is not None and hit[0] is src:
            return hit[1]
        df = src
        if self.asof is not None:
            df = df.filter(
                _c("id") <= asof_horizon(self.store, self.asof)
            )
        # the generation index as a column: one lineage window shared by
        # every constraint node (ref libpdb/pdb-generation; this is the
        # precomputable `current` view at scale).  Computed BEFORE the
        # chain-horizon filter: a thawed [n:H] bounds only the
        # CANDIDATE ids; newest/live read the LIVE generation index,
        # so a tombstone or version bump landing between pages drops
        # the old row from a running chain (directed write-into-window
        # fuzz, round 9; mirror of fastread's gen_horizon split)
        w_lin = Window.partitionBy("lineage")
        df = df.withColumn(
            "__maxgen", F.max("generation").over(w_lin)
        ).withColumn(
            # the successor guid (next= patterns/sorts); Catalyst
            # prunes this column when unreferenced
            "__next",
            F.lead("guid", 1).over(w_lin.orderBy("generation")),
        )
        memo.put(key, (src, df))
        return df

    def _raw_df(self):
        """The raw primitive log clamped at the evaluation horizon:
        asof= binds an id bound, and a thawed cursor's [n:H] pins a
        running chain at the store horizon it froze at (writes
        landing between pages never enter the chain)."""
        df = self.store.to_df(self.spark)
        if self.asof is not None:
            df = df.filter(
                _c("id") <= asof_horizon(self.store, self.asof)
            )
        if self._chain_h is not None:
            df = df.filter(_c("id") < self._chain_h)
        return df

    # -- public API -------------------------------------------------------

    def run(self, con: Constraint):
        """Compile + execute the root set.

        Returns (plan, rows, total) — rows already sorted, offset and
        paginated; total is exact when the pattern needs it, else the
        collected length (sufficient for the EMPTY check).  The page,
        count and cursor policy is cursor.py's (count_root_set,
        emit_root_cursor), shared with FastReader.run; this method is
        the Spark data plane under it.
        """
        # per-node candidate high bounds from cursor [n:H] envelopes,
        # propagated like the reference's set_boundary: a cursored
        # 'my' sub bounds its ancestors (writepaged seed 454: the
        # top-level producer thaws as all[0...H]) while 'my' subs of
        # a cursored node stay open — a hot-key child appended
        # between pages still renders (directed write-into-window
        # fuzz, round 9).  The chain_h base filter keeps only the
        # ROOT's bound (the base frame feeds the root producer;
        # per-sub bounds apply at _attach_sub child enumeration via
        # _node_highs).
        self._node_highs = cursor_high_bounds(con)
        self._chain_h = self._node_highs.get(id(con))
        plan, df = self._compile(con)
        cstate, resume, horizon, resume_guid, sort_body, sort_o = (
            thaw_envelope(con, self.types.resolve, self.asof is not None)
        )
        masq_raw = False
        if cstate is not None:
            # a modeled iterator freeze (all / fixed / without):
            # resume by iterator position, not offset (ref
            # pdb-iterator-all.c, graphd-iterator-fixed.c)
            if cstate.form in ("all", "without"):
                if cstate.backward:
                    # backward scan: skip the first `pos` elements of
                    # the DESCENDING id range (ids are dense in an
                    # all-span, so the boundary is high - pos)
                    df = df.filter(
                        (_c("id") >= cstate.low)
                        & (_c("id") < cstate.high - cstate.pos)
                    )
                else:
                    df = df.filter(
                        _c("id") >= max(cstate.pos, cstate.low)
                    )
                    if cstate.high is not None:
                        df = df.filter(_c("id") < cstate.high)
            elif cstate.form == "fixed":
                allowed = (
                    cstate.fixed_ids[: len(cstate.fixed_ids) - cstate.pos]
                    if cstate.backward
                    else cstate.fixed_ids[cstate.pos:]
                )
                df = df.filter(_c("id").isin(allowed))
            elif cstate.form == "gmap":
                # resume past the first `pos` elements of the linkage
                # index (index order == id order; ref
                # pdb-iterator-gmap.c it_gmap_offset); backward scans
                # consume from the top of the index
                if cstate.high is not None:
                    df = df.filter(_c("id") < cstate.high)
                if cstate.pos:
                    b = self._gmap_pos_boundary(cstate)
                    if b is None:
                        df = df.filter(_l(False))
                    elif cstate.backward:
                        df = df.filter(_c("id") < b)
                    else:
                        df = df.filter(_c("id") > b)
            elif cstate.form == "hmap":
                # skip the bin's first `pos` elements (bin order ==
                # id order; pdb-iterator-hmap.c it_hmap_offset).  The
                # thawed key is the STORED form — number bins match it
                # against value_num directly (the scientific notation
                # is the reference's own, not re-decodable)
                if cstate.pos:
                    if cstate.lk == "value":
                        # the thawed key IS the stored normalization
                        # (case preserved) — only case-fold it;
                        # re-normalizing is NOT idempotent ("12e1"
                        # re-parses as the number 120 -> "12e2")
                        from graphd_spark.comparators import (
                            _ascii_lower as _alow,
                        )

                        flt = (
                            _c("value_norm")
                            == su_encode(_alow(cstate.masq))
                        )
                    else:
                        flt = (
                            F.lower(_c("name"))
                            == cstate.masq.lower()
                        )
                    pool = self._raw_df().filter(flt)
                    if cstate.backward:
                        b = (
                            pool.orderBy(_c("id").desc())
                            .limit(cstate.pos)
                            .agg(F.min("id").alias("b"))
                            .head()
                        )
                        df = (
                            df.filter(_c("id") < int(b["b"]))
                            if b is not None and b["b"] is not None
                            else df.filter(_l(False))
                        )
                    else:
                        b = (
                            pool.orderBy("id")
                            .limit(cstate.pos)
                            .agg(F.max("id").alias("b"))
                            .head()
                        )
                        df = (
                            df.filter(_c("id") > int(b["b"]))
                            if b is not None and b["b"] is not None
                            else df.filter(_l(False))
                        )
            elif cstate.form == "fixed_masq":
                # a masqueraded fixed set repositions in its RAW id
                # array (bin false positives and rejected targets
                # counted; graphd-iterator-fixed.c fixed_iterator_next;
                # test/unit/colors3.sh) — inline ids ride the cursor,
                # cached states regenerate from the provenance.  With
                # no raw set recoverable, position == offset into the
                # compiled result
                raw = cstate.fixed_ids or self._isa_expansion_ids(con)
                if raw:
                    allowed = (
                        raw[: len(raw) - cstate.pos]
                        if cstate.backward
                        else raw[cstate.pos:]
                    )
                    df = df.filter(_c("id").isin(allowed))
                    masq_raw = True
                    resume = 0
            elif cstate.form in ("and_it", "or_it"):
                # and/or iterators resume after their last delivered
                # candidate id — a state-cache miss replays the scan
                # and skips until the last known id floats past
                # (graphd-iterator-and-freeze.c thaw,
                # graphd-iterator-or.c:3009; tests slip, isa)
                if cstate.tail == "$":
                    df = df.filter(_l(False))
                elif cstate.backward:
                    df = df.filter(_c("id") < cstate.pos)
                else:
                    df = df.filter(_c("id") > cstate.pos)
        if horizon is not None:
            df = df.filter(_c("id") < horizon)
        order = self._sort_exprs(con, plan)
        skipped = backward = simulated = False
        if con.sort:
            skipped, backward, simulated = sort_production(con)
        if skipped:
            order = [_c("id").desc() if backward else _c("id").asc()]
        elif con.sort:
            first = con.sort[0]
            comp0 = resolve_comparator(
                con.sort_comparators[0]
                if con.sort_comparators
                else con.comparator or "default"
            )
            # the NUMBERS-binset production only drives the read when
            # the sort itself is the producer AND the sorted elements
            # are rendered: a default-comparator value range keeps the
            # string vrange as producer, and a count-only result drops
            # the unused sort entirely (gva_remove_unused_results)
            # — differential seeds 139/147
            _value_range = any(
                sc.op in ("<", "<=", ">", ">=")
                for sc in con.value_strcons
            ) and resolve_comparator(
                con.value_comparator or con.comparator
            ) != "number"
            _pat_tmp = (
                con.result
                if con.result is not None
                else default_read_pattern()
            )
            _renders = any(
                p.kind
                not in (
                    "count", "cursor", "estimate", "estimate-count",
                    "iterator", "timeout", "list", "none",
                )
                for p in _pat_tmp.walk()
            )
            # which producers escape the number sort-root: probed
            # against the reference (differential seeds 55/142),
            # non-number values are DROPPED by the sort's number-
            # vrange for every producer shape EXCEPT (a) a guid=
            # fixed iterator and (b) a single-element name-hmap bin —
            # both collapse to fixed-1 sets the sort short-circuits
            # on, so their lone candidate surfaces unsorted.  A
            # 2-element name bin, a value= bin, a type gmap, and a
            # linkage sub all drop (reference probes in seed-142
            # analysis); a default-comparator value range keeps the
            # string vrange as producer (seeds 139/147).  The name-bin
            # probe is a store lookup, so it goes last.
            if (
                first.pattern.kind == "value"
                and comp0 == "number"
                and not _value_range
                and not con.guid
                and _renders
                and not number_sort_root_keep(con, self.store)
            ):
                # number-comparator value sorts iterate the NUMBERS
                # binset, so values that don't decode as numbers (and
                # nulls) never surface (ref graphd-comparator-number.c
                # number_vrange_start, pdb-bins.c:242-280; test
                # sortnumber r3/r6/r7)
                key0 = sort_key_column(_c("value"), "number")
                df = df.filter(
                    _c("value").isNotNull() & (key0 < _l(b"\x02"))
                )
        if con.sort is None and any(
            sc.op in ("<", "<=", ">", ">=") for sc in con.value_strcons
        ) and not range_is_checked(con):
            # the range produces the candidates (sortsim
            # range_is_checked: otherwise rows surface in id order)
            vcomp = resolve_comparator(
                con.value_comparator or con.comparator
            )
            if vcomp == "default":
                # unsorted range reads surface in the reference's
                # value-bin scan order — STRING_BINS bin index, ids
                # within a bin (ref comparator_default_range_bins,
                # libpdb/pdb-bins-strtable.c; tests intrange,
                # numberequal r2/r3)
                from graphd_spark.comparators import (
                    string_bin_order_column,
                )

                order = [
                    string_bin_order_column(
                        _c("value")
                    ).asc_nulls_last(),
                    _c("id").asc(),
                ]
            elif vcomp == "number" and all(
                number_bin_lookup(v) is not None
                for sc in con.value_strcons
                if sc.op in ("<", "<=", ">", ">=")
                for v in sc.values
                if v is not None
            ):
                # number scans alternate each bin's exact-value hash
                # bucket with its strictly-between contents (ref
                # number_vrange_it_next; test numberequal r6/r9)
                from graphd_spark.comparators import (
                    number_scan_order_column,
                )

                order = [
                    number_scan_order_column(
                        _c("value")
                    ).asc_nulls_last(),
                    _c("id").asc(),
                ]
            elif vcomp == "datetime":
                # datetime scans traverse negative-year bins in
                # reverse, then years, then times; ids within a bin
                # (ref datetime_inc/dec, test/unit/datetime.sh)
                from graphd_spark.comparators import (
                    datetime_scan_order_column,
                )

                order = [
                    datetime_scan_order_column(
                        _c("value")
                    ).asc_nulls_last(),
                    _c("id").asc(),
                ]
        # the reference's bounded incremental sorter over id-ordered
        # production (sortsim.py): tight sorted pages whose candidates
        # interleave null keys truncate exactly like graphd-sort.c.
        # Bare scans get a sort-root-ordered producer whose truncation
        # is lossless, so the declarative top-k plan below is already
        # exact.  Capped: the sim collects one (id, keys) tuple per
        # candidate, so an unselective sort over a huge store falls
        # back to the declarative plan rather than collecting the world.
        rps = result_pagesize(con)
        sim_info = None
        if simulated and con.start + rps > 0 and df.limit(
            _SORTSIM_CAP + 1
        ).count() <= _SORTSIM_CAP:
            sim_info = self._sortsim_run(
                con, plan, df, con.start + rps, resume_guid, sort_body
            )
        if sim_info is not None:
            resume = 0
        elif resume_guid is not None:
            resume, df = self._key_resume_offset(
                df, con, plan, resume_guid, sort_body
            )
        start = con.start + resume
        limit = start + rps
        elem = self._elem_struct(con, plan)
        # deep-offset pages render distributed: offset() slices the
        # prefix executor-side (TakeOrderedAndProject carries the
        # offset), so only the rps-row page ever crosses to the
        # driver — a start=10^6 read no longer collects a million
        # structs to throw them away
        if sim_info is not None:
            # page = the simulation's surviving array, start-sliced;
            # one bounded isin fetch materializes just those structs
            sim_ids, sim_accepted, trailing = sim_info
            page_ids = sim_ids[start:limit] if rps > 0 else []
            if page_ids:
                got = {
                    r["id"]: r["__e"]
                    for r in df.filter(_c("id").isin(page_ids))
                    .select(_c("id"), elem.alias("__e"))
                    .collect()
                }
                rows = [got[i] for i in page_ids]
            else:
                rows = []
            n_prefix = min(sim_accepted, limit)
        else:
            sim_accepted = trailing = sort_o = None
            rows = [
                r["__e"]
                for r in df.orderBy(*order)
                .offset(start)
                .limit(rps)
                .select(elem.alias("__e"))
                .collect()
            ] if rps > 0 else []
            # n_prefix = min(total, limit), recovered without
            # collecting the prefix: a non-empty (or start=0) page
            # pins it exactly; an empty page past the data needs one
            # count-only probe
            n_prefix = (
                start + len(rows)
                if rows or start == 0
                else df.limit(start).count()
            )
        pat = con.result if con.result is not None else default_read_pattern()
        wants_cursor = any(p.kind == "cursor" for p in pat.walk())
        wants_estimate = any(
            p.kind in ("estimate", "estimate-count") for p in pat.walk()
        )
        total, shown = count_root_set(
            self, df, sim_accepted, con, plan,
            cstate=cstate, masq_raw=masq_raw, sort_o=sort_o,
            resume=resume, rps=rps, start=start, limit=limit,
            n_prefix=n_prefix,
            need_total=needs_total(con, wants_cursor or any(
                p.kind in ("count", "estimate", "estimate-count")
                for p in pat.walk()
            )),
            wants_estimate=wants_estimate,
        )
        if wants_cursor:
            self._probe_order = (
                [_c("id").asc()] if skipped else order
            )
            emit_root_cursor(
                self, df, con, plan,
                cstate=cstate, rows=rows, page=rows, resume=resume,
                start=start, limit=limit, total=total,
                horizon=horizon, sort_o=sort_o, trailing=trailing,
                skipped=skipped, backward=backward,
            )
        return plan, rows, shown

    # -- the data-plane steps of cursor.emit_root_cursor ------------------

    def _count_upto(self, df, cap: Optional[int]) -> int:
        return (df if cap is None else df.limit(cap)).count()

    def _more_than(self, df, limit: int) -> bool:
        return df.limit(limit + 1).count() > limit

    def _probe_cursor(self, con, cstate, df, total, delivered, backward):
        # only the LAST probed element positions the cursor ([o:]
        # carries the consumed count separately), so fetch one row at
        # offset total-1 instead of collecting `total` rows — total
        # can be the full match count when the result renders it
        probe = (
            df.orderBy(*self._probe_order).offset(total - 1).limit(1)
            .select("guid", "id")
            .collect()
        )
        if not probe:
            return None
        return freeze._iterator_cursor(
            self, con, cstate, probe, df, delivered
        )

    # -- the index probes of freeze._iterator_cursor ----------------------

    def _freeze_scope(self, con, cstate):
        return nullcontext()  # _raw_df already clamps at the chain

    def _frozen_count(self, con, cstate) -> int:
        count = self.store.count()
        if self.asof is not None:
            # asof pages clamp every frozen bound at the id horizon
            count = min(count, asof_horizon(self.store, self.asof) + 1)
        if self._chain_h is not None:
            # a resumed chain re-freezes [n:] and every bound at ITS
            # frozen horizon, not the grown store count
            count = min(count, self._chain_h)
        return count

    def _row_id(self, row) -> int:
        return guid_serial(row["guid"])

    def _first_ids(self, df, n: int) -> list[int]:
        return [
            r["id"] for r in df.select("id").orderBy("id").limit(n).collect()
        ]

    def _gmap_tail(self, lk: str, src: int, last_id: int) -> Optional[int]:
        # two scalar aggregates in one job — a VIP-scale endpoint's
        # index holds millions of elements, so collecting it to rank
        # one id is a driver OOM hazard at scale
        row = self._gmap_index_df(lk, src).agg(
            F.sum(F.when(_c("id") >= last_id, 1).otherwise(0)).alias("tail"),
            F.max(F.when(_c("id") == last_id, 1).otherwise(0)).alias("hit"),
        ).head()
        if row is None or not row["hit"]:
            return None
        return int(row["tail"])

    def _hmap_bin(self, tname: str, key: str) -> Optional[tuple]:
        # the value hash buckets by pdb_hmap_value_normalize
        # (normalize_value): full numbers index under their canonical
        # scientific form ("12", "12.0" and "+12" share "12e1";
        # differential seeds 21/22) and embedded number FRAGMENTS
        # string-normalize ("2006-01-02" freezes and matches as
        # "2006-1-2"; cursor-fuzz seed 81 against the reference)
        from graphd_spark.comparators import normalize_value

        if tname == "value":
            flt = _c("value_norm") == su_encode(value_norm_key(key))
            key = normalize_value(key)
        else:
            flt = F.lower(_c("name")) == key.lower()
        row = self._raw_df().filter(flt).agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.count("*").alias("n"),
        ).head()
        if row is None or row["lo"] is None:
            return None
        return (
            tname, key, int(row["lo"]), int(row["hi"]) + 1,
            int(row["n"]), flt,
        )

    def _bin_rank(self, flt, last_id: int) -> int:
        row = self._raw_df().filter(flt).agg(
            F.sum(F.when(_c("id") <= last_id, 1).otherwise(0)).alias("pos")
        ).head()
        return int(row["pos"] or 0)

    def _live_sources(self, lk: str, hm) -> list[int]:
        # the caller admits bins of at most 50 members; limit(51) keeps
        # this driver-side collect bounded even if that gate moves
        from graphd_spark.model import guid_compose

        cand = [
            r["id"]
            for r in self._raw_df().filter(hm[5]).select("id")
            .limit(51).collect()
        ]
        if len(cand) > 50:
            return []
        guids = {guid_compose(self.store.db_id, i): i for i in cand}
        return [
            guids[r[lk]]
            for r in self._raw_df().filter(_c(lk).isin(*guids))
            .select(lk).distinct().collect()
        ]

    def _linksto_span(self, lk: str, hm) -> Optional[tuple]:
        raw = self._raw_df()
        srcs = raw.filter(hm[5]).select(_c("guid").alias("__src"))
        span = (
            raw.join(srcs, raw[lk] == _c("__src"))
            .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
            .head()
        )
        if span is None or span["lo"] is None:
            return None
        return int(span["lo"]), int(span["hi"]) + 1, hm[5]

    def _endpoint_span(self, pairs) -> Optional[tuple]:
        cond = None
        for col, g in pairs:
            cond = _c(col) == g if cond is None else cond & (_c(col) == g)
        span = self._raw_df().filter(cond).agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).head()
        if span is None or span["lo"] is None:
            return None
        return int(span["lo"]), int(span["hi"]) + 1

    def _sub_single_id(self, sub) -> Optional[int]:
        try:
            _plan, sdf = self._compile(sub, exists_only=True)
        except GraphdError:
            return None
        sids = [
            r["id"]
            for r in sdf.select("id").orderBy("id").limit(2).collect()
        ]
        return sids[0] if len(sids) == 1 else None

    def _sub_targets(self, sub, lk: str, n: int) -> Optional[list]:
        try:
            _plan, sdf = self._compile(sub, exists_only=True)
        except GraphdError:
            return None
        return [
            r[lk]
            for r in sdf.select("id", lk).orderBy("id").limit(n).collect()
        ]

    def _mirror_reader(self):
        """A FastReader over the driver mirror at this read's horizon
        (callers check that the mirror covers the log)."""
        from graphd_spark.fastread import FastReader

        fr = FastReader(self.store, self.types, asof=self.asof)
        if self._chain_h is not None:
            # the thawed-chain horizon clamps the mirror's indexes
            # exactly like asof (fastread.run)
            fr.horizon = (
                self._chain_h - 1
                if fr.horizon is None
                else min(fr.horizon, self._chain_h - 1)
            )
        return fr

    def _linksto_expansion_ids(self, con) -> Optional[list]:
        if not self.store.mirror_current():
            return None
        return self._mirror_reader()._linksto_expansion_ids(con)

    def _or_union_ids(self, con) -> Optional[list]:
        if not self.store.mirror_current():
            return None
        return self._mirror_reader()._or_union_ids(con)

    def _prefix_stats(self, prefix: str):
        """The prefix iterator's statistics from the word index (the
        tokenized value column, libpdb/pdb-word.c)."""
        from pyspark.sql.types import ArrayType, LongType

        from graphd_spark.model import su_decode
        from graphd_spark.wordhash import (
            prefix_mask,
            value_word_codes,
            word_hash,
        )

        mask = prefix_mask(prefix)
        want = word_hash(prefix) & mask

        @F.pandas_udf(ArrayType(LongType()))
        def _codes(vals: pd.Series) -> pd.Series:
            return vals.map(
                lambda v: []
                if v is None
                else [
                    c
                    for c in value_word_codes(su_decode(v))
                    if (c & mask) == want
                ]
            )

        words = (
            self.store.to_df(self.spark)
            .select("id", F.explode(_codes(F.col("value"))).alias("w"))
            .distinct()
        )
        rows = (
            words.groupBy("w")
            .agg(F.count("*").alias("n"), F.min("id").alias("lo"))
            .limit(10001)
            .collect()
        )
        return freeze._prefix_rollup(
            prefix, [(int(r["n"]), r["lo"]) for r in rows],
            self.store.count(),
        )

    def _prefix_bin_ids(self, prefix: str) -> list[int]:
        """Ascending ids in the word-index bins a prefix scan for
        ``prefix`` enumerates — the reference's candidate array for
        ``value~="prefix*"`` (libpdb/pdb-prefix.c), hash-bucket
        membership rather than true matches (wordhash.py)."""
        from pyspark.sql.types import BooleanType

        from graphd_spark.model import su_decode
        from graphd_spark.wordhash import prefix_match_codes

        @F.pandas_udf(BooleanType())
        def _in_bins(vals: pd.Series) -> pd.Series:
            return vals.map(
                lambda v: v is not None
                and prefix_match_codes(su_decode(v), prefix)
            )

        raw = self._raw_df()
        return [
            r["id"]
            for r in raw
            .filter(_c("value").isNotNull())
            .filter(_in_bins(_c("value")))
            .select("id")
            .orderBy("id")
            .limit(_FIXED_MATERIALIZE_MAX + 1)
            .collect()
        ]

    def _and_producer_pos(self, member, boundary_id, backward):
        """Elements the gmap producer has pulled through boundary_id
        (index elements <= boundary forward, >= boundary backward)."""
        if backward:
            lo, hi, below = self._gmap_stats(
                member["letter"], member["src"], boundary_id - 1
            )
            if lo is None:
                return None
            total = self._gmap_stats(
                member["letter"], member["src"], 1 << 62
            )[2]
            return total - below
        _lo, _hi, ppos = self._gmap_stats(
            member["letter"], member["src"], boundary_id
        )
        return ppos

    #: producer-set defense bound for the and-freeze materialization:
    #: the cost gate above admits producers of at most
    #: COST_MAX/2 / next_cost ≈ 1k candidates, so 5000 can only fire
    #: if the gate math drifts (same pattern as the limit(51) guard)
    _AND_PRODUCER_MAX = 5000

    def _member_intersection(self, members, bi) -> Optional[list]:
        """Sorted id intersection of the and-members (the ITERATOR
        sets — prefix bins keep their hash false positives),
        evaluated iterator-style: only the cost-model-elected
        producer ``bi`` materializes its set (the cost gate above
        bounds it); every other member CHECKS the producer's
        candidates through an isin-filtered fetch bounded by the
        producer size.  The reference never materializes the checked
        members either (graphd-iterator-and.c check phase), and a
        hot-key gmap member would otherwise be a multi-million-row
        driver collect."""
        prod = self._member_fetch(members[bi], None)
        if prod is None or len(prod) > self._AND_PRODUCER_MAX:
            return None
        ids = sorted(prod)
        for i, m in enumerate(members):
            if i == bi or not ids:
                continue
            keep = self._member_fetch(m, ids)
            if keep is None:
                return None
            ids = [x for x in ids if x in keep]
        return ids

    def _member_fetch(self, m, within) -> Optional[set]:
        """Candidate ids of one and-member, restricted to the
        ``within`` candidate list when given (bounded check fetch);
        an unrestricted fetch stops past _AND_PRODUCER_MAX."""
        if m["kind"] == "gmap":
            df = self._gmap_index_df(m["letter"], m["src"])
            df = (
                df.filter(_c("id").isin(within))
                if within is not None
                else df.limit(self._AND_PRODUCER_MAX + 1)
            )
            return {r["id"] for r in df.select("id").collect()}
        if m["kind"] == "prefix":
            # the word-bin scan: one pandas-UDF Spark job, bounded at
            # _FIXED_MATERIALIZE_MAX + 1 ids
            return set(self._prefix_bin_ids(m["prefix"]))
        if m["kind"] == "linksto":
            raw = self._raw_df()
            srcs = raw.filter(m["index"]).select(
                _c("guid").alias("__src")
            )
            df = raw.join(srcs, raw[m["lk"]] == _c("__src"))
            df = (
                df.filter(_c("id").isin(within))
                if within is not None
                else df.limit(self._AND_PRODUCER_MAX + 1)
            )
            return {r["id"] for r in df.select("id").collect()}
        return None

    def _isa_expansion_ids(self, con) -> Optional[list]:
        """RAW materialized target set of an hmap-sub expansion: every
        bin member's linkage target, deduped and sorted — INCLUDING
        bin false positives whose value only bin-merges with the
        written one (number normalization) and targets the constraint
        check later rejects.  The reference's fixed iterator holds
        this raw set, so the frozen bounds and /POS/ count produced-
        then-rejected candidates too (probed: a "100" write sharing
        the "1e2" bin shifts the bounds and offsets every position
        by one)."""
        sh = freeze._isa_sub_hmap(self, con)
        if sh is None:
            return None
        sub, hm = sh
        if hm[4] > _ISA_SMALL_SET_MAX:
            # the bin count is known driver-side before any job; a
            # set past the isa small-set budget never materializes
            # (every freeze caller gates on _isa_materialize_cap == 0
            # for this shape), so never collect it — this also guards
            # the ungated fixed_masq THAW path against a store that
            # grew past the cap since the cursor froze
            # (tests/test_plans.py::test_isa_expansion_gate_no_job)
            return None
        lk = sub.linkage[1]
        flt = hm[5]
        raw = self._raw_df()
        tg = [
            r[lk] for r in raw.filter(flt).select(lk).collect()
        ]
        return sorted({guid_serial(g) for g in tg if g is not None})

    def _gmap_index_df(self, lk: str, src: int):
        """The linkage index set: ids whose raw linkage column equals
        the source guid (index order == id order); asof clamps at the
        horizon."""
        from graphd_spark.model import guid_compose

        g = guid_compose(self.store.db_id, src)
        df = self._raw_df().filter(
            _c(GMAP_COLS[lk]) == g
        )
        return df

    def _gmap_stats(self, lk: str, src: int, last_id: int):
        """(first index id, last index id + 1, #elements <= last_id)
        in one job over the linkage index set."""
        row = self._gmap_index_df(lk, src).agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.sum(
                F.when(_c("id") <= last_id, 1).otherwise(0)
            ).alias("pos"),
        ).head()
        if row is None or row["lo"] is None:
            return None, None, None
        return int(row["lo"]), int(row["hi"]) + 1, int(row["pos"] or 0)

    def _gmap_pos_boundary(self, cstate) -> Optional[int]:
        """Id of the cstate.pos-th index element in scan order (the
        resume boundary): ascending for forward scans, from the top
        of the index for backward ones."""
        idx = self._gmap_index_df(cstate.lk, cstate.src).filter(
            _c("id") >= cstate.low
        )
        if cstate.backward:
            if cstate.high is not None:
                idx = idx.filter(_c("id") < cstate.high)
            row = (
                idx.orderBy(_c("id").desc())
                .limit(cstate.pos)
                .agg(F.min("id").alias("b"))
                .head()
            )
        else:
            row = (
                idx.orderBy("id")
                .limit(cstate.pos)
                .agg(F.max("id").alias("b"))
                .head()
            )
        if row is None or row["b"] is None:
            return None
        return int(row["b"])

    def _key_resume_offset(self, df, con, plan, guid: str,
                           sort_body=None):
        """(offset, df) for a resumed ``sort:`` cursor: the offset of
        the element AFTER the cursor element in this query's total
        order — computed as a distributed count of rows ordering
        strictly before it (plus the element itself), never a global
        window.  Null keys sort greatest (asc_nulls_last /
        desc_nulls_first), so comparisons treat null as +inf.

        The returned df is narrowed to the boundary's FIRST-KEY NULL
        CLASS: the reference's thawed sort scan re-enters through the
        first key's index — a non-null boundary resumes in the key
        index, where null-key rows don't exist, and a null boundary
        resumes in the null bin (probed: sort=(name) chains drop
        null-name rows after a named boundary, answer EMPTY when only
        null-name rows remain, and vice versa).

        A boundary element tombstoned/versioned away between pages
        (round-9 writeinto family) repositions by comparing its
        FROZEN serialized keys instead (no +1: the element itself is
        no longer in df)."""
        comps = self._sort_components(con, plan)
        tagged = df.select(
            _c("id"),
            *[c.alias(f"__k{i}") for i, (c, _d, _k) in enumerate(comps)],
        )
        cur = tagged.filter(
            _c("id") == guid_serial(guid)
        ).head()
        present = cur is not None
        if cur is None:
            frozen = self._frozen_sort_tuple(con, plan, sort_body)
            if frozen is None or len(frozen) != len(comps):
                return 0, df
            cur = {f"__k{i}": v for i, v in enumerate(frozen)}
        if comps:
            k0 = cur["__k0"]
            c0 = comps[0][0]
            df = df.filter(c0.isNull() if k0 is None else c0.isNotNull())
            tagged = tagged.filter(
                _c("__k0").isNull()
                if k0 is None
                else _c("__k0").isNotNull()
            )
        before = _l(False)
        eq_prefix = _l(True)
        for i, (_comp_col, desc, _kind) in enumerate(comps):
            k = _c(f"__k{i}")
            cv = cur[f"__k{i}"]
            if isinstance(cv, bytearray):
                cv = bytes(cv)
            v = _l(cv)
            if cv is None:
                # null = +inf: only non-null beats it ascending,
                # nothing beats it descending
                lt = k.isNotNull() if not desc else _l(False)
            elif desc:
                lt = k.isNull() | (k > v)
            else:
                lt = k.isNotNull() & (k < v)
            before = before | (eq_prefix & lt)
            eq_prefix = eq_prefix & k.eqNullSafe(v)
        n_before = tagged.filter(before).count()
        # +1 skips the boundary element itself — only when it still
        # exists in df (a vanished boundary contributes no row)
        return n_before + (1 if present else 0), df

    def _frozen_sort_tuple(self, con, plan, body):
        """Mirror of FastReader._frozen_sort_grid in the Spark-path
        key domain (_sort_key_col: binary comparator keys, id ints,
        guid strings): the cursor boundary's sort-key tuple
        reconstructed from the FROZEN serialized payload, for resumes
        whose boundary element was tombstoned or versioned away
        between pages (round-9 writeinto family — the reference
        repositions by comparing the frozen keys, graphd-sort.c
        graphd_sort_cursor_set; restarting re-delivers page 1).
        Returns a tuple aligned with _sort_components (id tiebreak
        last) or None to fall back to the restart."""
        if body is None or not con.sort:
            return None
        from graphd_spark.fastread import _deserialize_sort_values
        from graphd_spark.model import ts_from_string

        vals, bid = _deserialize_sort_values(body)
        if vals is None:
            return None
        fail = object()

        def conv(sk, comp, tag, raw):
            if tag == "null":
                return None
            k = sk.pattern.kind
            if k in ("value", "name"):
                if tag not in ("s", "a"):
                    return fail
                return (
                    fuzzy_key(raw)
                    if k == "value" and comp == "default"
                    else literal_key(raw, comp)
                )
            if k == "guid":
                return guid_serial(raw) if tag == "g" else fail
            if k == "timestamp":
                if tag != "t":
                    return fail
                try:
                    return ts_from_string(raw)
                except Exception:
                    return fail
            if k in ("generation", "datatype"):
                try:
                    return (
                        int(raw) if tag in ("#", "d") else fail
                    )
                except ValueError:
                    return fail
            if k in ("live", "archival"):
                return raw == "1" if tag == "b" else fail
            if k in ("left", "right", "typeguid", "scope",
                     "previous", "next", "type"):
                return raw if tag == "g" else fail
            if k == "variable":
                if (
                    plan.var_cols.get(sk.pattern.var) is not None
                    and plan.var_kind_cols.get(sk.pattern.var) is None
                    and plan.var_kinds.get(sk.pattern.var)
                    in ("value", "name", "type", "literal")
                    and tag in ("s", "a")
                ):
                    return literal_key(raw, comp)
                return fail
            return fail

        out = []
        for i0, sk in enumerate(con.sort):
            if i0 >= len(vals):
                return None
            comp = None
            if con.sort_comparators and i0 < len(con.sort_comparators):
                comp = con.sort_comparators[i0]
            comp = resolve_comparator(comp or con.comparator or "default")
            col = self._sort_key_col(sk.pattern, con, plan, comp)
            if col is None:
                continue
            tag, raw = vals[i0]
            kv = conv(sk, comp, tag, raw)
            if kv is fail:
                return None
            out.append(kv)
            if sk.pattern.kind == "guid":
                break
        out.append(bid)
        return tuple(out)

    def _sortsim_run(self, con, plan, df, P_sim: int, resume_guid,
                     sort_body=None):
        """Collect candidate sort keys in producer (id) order and run
        the incremental-sorter simulation (sortsim.simulate) — the
        Spark-path mirror of the fast path's call.  Returns
        (surviving page ids in sort order, accepted count, trailing)
        or None to fall back to the declarative plan."""
        from graphd_spark.sortsim import simulate

        comps = self._sort_components(con, plan)
        tagged = (
            df.select(
                _c("id"),
                *[
                    c.alias(f"__k{i}")
                    for i, (c, _d, _k) in enumerate(comps)
                ],
            )
            .orderBy("id")
            .collect()
        )
        specs = [
            (desc, kind not in ("variable", "contents"))
            for _c, desc, kind in comps
        ]

        def keys_of(r):
            out = []
            for i in range(len(comps)):
                v = r[f"__k{i}"]
                if isinstance(v, bytearray):
                    v = bytes(v)
                out.append(v)
            return tuple(out)

        entries = [(keys_of(r), r["id"]) for r in tagged]
        grid = None
        if resume_guid is not None:
            sid = guid_serial(resume_guid)
            grid = next((k for k, i in entries if i == sid), None)
            if grid is None:
                # boundary tombstoned/versioned between pages: the
                # reference repositions by COMPARING the frozen keys
                # (round 9, writeinto family)
                grid = self._frozen_sort_tuple(con, plan, sort_body)
                if grid is not None and len(grid) != len(comps):
                    grid = None
        arr, accepted, trailing = simulate(
            entries, P_sim, specs, grid=grid
        )
        return [pid for _k, pid in arr], accepted, trailing


    def compile(self, con: Constraint):
        """Public entry: compile a read constraint to its candidate
        DataFrame (one row per matching primitive, child aggregates
        and variables attached).  Sorting/pagination are separate —
        see run() — so callers can keep the full distributed frame."""
        return self._compile(con)

    def sort_columns(self, con: Constraint, plan: "SetPlan"):
        """The orderBy columns run() would use (comparator keys)."""
        return self._sort_exprs(con, plan)

    # -- recursive compilation --------------------------------------------

    def _compile(self, con: Constraint, exists_only: bool = False):
        df = self.base
        # per-node cursor [n:] bound (set_boundary propagation) — the
        # base frame itself stays live so 'my' subs of a cursored
        # node render post-freeze children (write-into-window fuzz)
        _nh = getattr(self, "_node_highs", None)
        _b = _nh.get(id(con)) if _nh else None
        pred = self._intrinsic_pred(con)
        # one filter node for boundary + intrinsics (one DataFrame
        # round trip / analysis pass instead of two)
        if _b is not None:
            bound = _c("id") < _b
            pred = bound if pred is None else (bound & pred)
        if pred is not None:
            df = df.filter(pred)
        plan = SetPlan(con=con)
        for chain in con.or_chains:
            df = self._apply_or_chain(df, chain, plan)
        for sub in con.subs:
            df, sp, _flag = self._attach_sub(df, con, sub, exists_only)
            plan.sub_plans.append(sp)
            if sp.mode == "agg":
                df = self._import_sub_vars(df, plan, sp)
        # contents slot list in parse order: root subs and or-branch
        # subs exactly as written (the reference's con_head order)
        slots = []
        n_sub = n_chain = 0
        for kind, _item in con.ordered_clauses():
            if kind == "sub":
                slots.append(plan.sub_plans[n_sub])
                n_sub += 1
            else:
                slots.extend(plan.or_chain_subs[n_chain])
                n_chain += 1
        plan.contents_slots = slots
        for var, pat in con.assignments:
            if pat.kind == "variable":
                # alias to a child-sampled variable ($b=$a, david_9.sh)
                src = plan.var_cols.get(pat.var)
                if src is not None:
                    plan.var_cols[var] = src
                    plan.var_kinds[var] = plan.var_kinds.get(
                        pat.var, "value"
                    )
                elif pat.var in plan.var_patterns:
                    plan.var_patterns[var] = plan.var_patterns[pat.var]
                continue
            expr = self._var_expr(pat)
            if expr is None:
                # set-shaped pattern ($f=((value))): the parent binds it
                # against its aggregated array of this constraint's rows
                plan.pending_pattern_vars.append((var, pat))
                continue
            self._n += 1
            vcol = f"v{self._n}"
            df = df.withColumn(vcol, expr)
            plan.var_cols[var] = vcol
            plan.var_kinds[var] = pat.kind
            plan.var_kind_cols.pop(var, None)  # own assignment wins
        return plan, df

    def _import_sub_vars(self, df, plan: SetPlan, sp: "SubPlan"):
        """Make a sub's variables visible to the parent (pat_sample:
        scalar vars take the first child's value; set-shaped vars
        evaluate over the whole child array at assembly time)."""
        for var, vcol in sp.plan.var_cols.items():
            self._n += 1
            newcol = f"v{self._n}"
            df = df.withColumn(
                newcol,
                F.try_element_at(_c(sp.arr_col), _l(1))[vcol],
            )
            plan.var_cols[var] = newcol
            plan.var_kinds[var] = sp.plan.var_kinds[var]
        for var, pat in sp.plan.pending_pattern_vars:
            plan.var_patterns[var] = (sp.plan, sp.arr_col, sp.cnt_col, pat)
        # pass grandchild set-vars one more level up unchanged: they
        # resolve against nested arrays inside this sub's elem structs
        for var, entry in sp.plan.var_patterns.items():
            plan.var_patterns.setdefault(var, entry)
        return df

    def _var_expr(self, pat: Pattern):
        """Scalar column for an assignment pattern; None if set-shaped."""
        k = pat.kind
        if k in ("value", "name", "guid", "left", "right", "typeguid",
                 "scope", "timestamp", "datatype", "valuetype",
                 "generation", "live", "archival", "previous"):
            col = {
                "previous": "prev",
                "valuetype": "datatype",
            }.get(k, k)
            return _c(col)
        if k == "literal":
            return _l(pat.literal)
        return None

    # -- subconstraints ----------------------------------------------------

    def _attach_sub(self, df, parent: Constraint, sub: Constraint,
                    exists_only: bool, or_mode: bool = False):
        """Join one subconstraint onto the parent candidate set.

        Returns (df, SubPlan, flag): in or_mode nothing is filtered —
        the returned boolean flag column says whether the sub's count
        bounds hold for each parent row (the or-branch ORs flags).
        """
        if sub.linkage is None:
            raise GraphdError(
                "SEMANTICS", "subconstraint is not connected to its parent"
            )
        kind, lk = sub.linkage
        # joins run on RAW guid keys: a pointer names one specific
        # generation, and traversal intersects it with the (gen-
        # filtered) child candidate set — so versioning a link TARGET
        # makes the traversal dangle until a constraint lifts the
        # newest filter.  Probed against the reference binary
        # (roundtrip seeds 47/93/95/103): right=<old guid> matches,
        # right=<new guid> doesn't, right->(X) finds nothing once the
        # target is versioned, and a stored pointer reads back as the
        # guid that was written (no write-time canonicalization).
        # Explicit guid constraints widen via ~= literal-side lineage
        # expansion instead (_guid_col_pred).
        if kind == "my" and lk == "bi":
            # '<->': the sub link touches the parent from either end.
            # Expressed scale-first as an EXPLODED equi-join — each
            # child contributes one (endpoint, child) pair per non-null
            # endpoint, so the join stays a hash join on one key
            # instead of an OR-of-equalities nested loop.
            child_key = _c("__bikey")
            parent_key = _c("guid")
        elif kind == "my":
            child_key = _c(lk)        # child.lk -> parent.guid
            parent_key = _c("guid")
        else:
            child_key = _c("guid")    # parent.lk -> child.guid
            parent_key = _c(lk)

        count_min = (
            sub.count_min
            if sub.count_min is not None
            # implicit minimum follows start=: a page beginning
            # at `start` requires start+1 matches
            # (ref graphd-semantic.c:740-743)
            else (sub.start or 0) + 1
        )
        parent_pat = (
            parent.result
            if parent.result is not None
            else default_read_pattern()
        )
        need_payload = not exists_only and (
            pattern_shows_contents(parent_pat, parent)
            or bool(sub.assignments)
            or self._has_deep_assignments(sub)
        )
        counting = (
            (sub.count_eq not in (None, 0))
            or sub.count_max is not None
            or count_min > 1
        )

        sub_plan, child_df = self._compile(sub, exists_only=not need_payload)
        if kind == "my" and lk == "bi":
            child_df = child_df.withColumn(
                "__bikey",
                F.explode(F.array("left", "right")),
            )
        child_df = child_df.filter(child_key.isNotNull())

        if not or_mode and not need_payload and not counting:
            keys = child_df.select(child_key.alias("__k"))
            # semi/anti joins are duplicate-insensitive, so the
            # distinct below is purely a broadcast-size guard: it
            # dedups hot-key fan-in before the build side ships.  On
            # a small store the whole child side already fits any
            # broadcast, so the guard's extra shuffle stage is pure
            # per-query latency — skip it (results provably equal
            # either way; the threshold is rows known driver-side,
            # ~10 MB of primitives)
            if self.store.count() > _SEMI_DISTINCT_MIN_ROWS:
                keys = keys.distinct()
            if sub.count_eq == 0:
                out = df.join(
                    keys, parent_key == _c("__k"), "left_anti"
                )
                return out, SubPlan("anti", sub_plan), None
            if count_min >= 1:
                out = df.join(
                    keys, parent_key == _c("__k"), "left_semi"
                )
                return out, SubPlan("semi", sub_plan), None
            return df, SubPlan("skip", sub_plan), None  # optional, unused

        # aggregation path: per-parent ordered contents + counts.
        child_df = self._sub_cursor_setup(sub, sub_plan, child_df)
        self._n += 1
        tag = self._n
        cnt, arr = f"n{tag}", f"c{tag}"
        elem = self._elem_struct(sub, sub_plan)
        order = self._sort_exprs(sub, sub_plan)
        kdf = (
            child_df.withColumn("__k", child_key)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__k").orderBy(*order)
                ),
            )
            .withColumn("__e", elem)
            .select("__k", "__rn", "__e")
        )
        rps = result_pagesize(sub)
        # collect only the rendered page into the aggregation buffer:
        # collect_list drops the when()'s nulls, so a 10^6-fan-out
        # parent costs O(resultpagesize) memory, not O(fan-out); the
        # exact count still aggregates over every child.  start= on a
        # subconstraint offsets the page (test/unit/start-unsorted.sh)
        lo = sub.start or 0
        agg = kdf.groupBy("__k").agg(
            F.count(_l(1)).alias(cnt),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (_c("__rn") > _l(lo))
                            & (_c("__rn") <= _l(lo + rps)),
                            F.struct(
                                _c("__rn").alias("o"),
                                _c("__e").alias("e"),
                            ),
                        )
                    )
                ),
                lambda x: x["e"],
            ).alias(arr),
        )

        cnt_eff = F.coalesce(_c(cnt), _l(0))
        bounds = []
        if sub.count_eq is not None:
            bounds.append(cnt_eff == sub.count_eq)
        else:
            if count_min > 0:
                bounds.append(cnt_eff >= count_min)
            if sub.count_max is not None:
                bounds.append(cnt_eff <= sub.count_max)
        flag = _l(True)
        for b in bounds:
            flag = flag & b

        if or_mode:
            out = df.join(agg, parent_key == agg["__k"], "left").drop("__k")
            return out, SubPlan("agg", sub_plan, cnt_col=cnt,
                                arr_col=arr), flag

        outer = count_min == 0 or sub.count_eq == 0
        out = df.join(
            agg,
            parent_key == agg["__k"],
            "left" if outer else "inner",
        ).drop("__k")
        if bounds and (outer or sub.count_eq is not None
                       or count_min > 1 or sub.count_max is not None):
            out = out.filter(flag)
        return out, SubPlan("agg", sub_plan, cnt_col=cnt, arr_col=arr), None

    def _sub_cursor_setup(self, sub, sub_plan, child_df):
        """Subconstraint cursors (per-parent contents pagination, ref
        graphd-read-set-cursor.c; test/unit/cursor6.sh): thaw a
        cursor= resume into a candidate-set restriction, and when the
        sub's result wants a cursor, build the per-parent iterator
        context the shared assembler freezes from (see
        sub_cursor_mode for the probed freeze family).

        The per-parent index sets come from the store's in-memory
        index mirror via a FastReader helper, so both execution paths
        freeze byte-identical cursors; without a current mirror (a
        partially-loaded ParquetLogStore) the legacy accepted-set
        materialization below stands in — its frozen positions count
        accepted rather than raw producer elements, which only
        differs once candidates are rejected by the generational
        newest test (versioned children)."""
        wants_cursor = sub.result is not None and any(
            p.kind == "cursor" for p in sub.result.walk()
        )
        cstate = None
        from graphd_spark.model import guid_compose

        if sub.cursor is not None and sub.cursor != "null:":
            from graphd_spark.cursor import BadCursor, parse_cursor

            try:
                cstate = parse_cursor(
                    sub.cursor, sub, self.types.resolve,
                    asof=self.asof is not None,
                )
            except BadCursor as e:
                raise GraphdError("BADCURSOR", e.message)
            if cstate is not None:
                if cstate.horizon is not None:
                    child_df = child_df.filter(
                        _c("id") < cstate.horizon
                    )
                if cstate.form == "fixed":
                    ids = cstate.fixed_ids
                    allowed = (
                        ids[: len(ids) - cstate.pos]
                        if cstate.backward
                        else ids[cstate.pos:]
                    )
                    child_df = child_df.filter(
                        _c("id").isin(allowed)
                    )
                elif cstate.form == "vip":
                    # a thawed vip pins the sub to that parent's
                    # (endpoint, typeguid) index past the consumed
                    # boundary id (probed: other parents' mandatory
                    # subs then yield nothing and drop them)
                    lk_col = GMAP_COLS[cstate.lk]
                    child_df = child_df.filter(
                        (_c(lk_col) == guid_compose(
                            self.store.db_id, cstate.src))
                        & (_c("typeguid") == cstate.tg)
                        & (
                            _c("id") < cstate.pos
                            if cstate.backward
                            else _c("id") > cstate.pos
                        )
                    )
                elif cstate.form in ("all", "without"):
                    child_df = child_df.filter(
                        _c("id") >= max(cstate.pos, cstate.low)
                    )
                elif cstate.form == "gmap":
                    # the thawed per-parent iterator: only that
                    # parent's children, past the consumed prefix
                    lk_col = GMAP_COLS[cstate.lk]
                    child_df = child_df.filter(
                        _c(lk_col)
                        == guid_compose(self.store.db_id, cstate.src)
                    )
                    if cstate.pos:
                        b = self._gmap_pos_boundary(cstate)
                        if b is None:
                            child_df = child_df.filter(_l(False))
                        else:
                            child_df = child_df.filter(
                                _c("id") < b
                                if cstate.backward
                                else _c("id") > b
                            )
        elif sub.cursor == "null:":
            child_df = child_df.filter(_l(False))
        if not wants_cursor:
            return child_df
        if self.asof is not None:
            horizon = min(
                self.store.count(), asof_horizon(self.store, self.asof) + 1
            )
        else:
            horizon = (
                cstate.horizon
                if cstate is not None and cstate.horizon is not None
                else self.store.count()
            )
        ctx = {
            "con": sub,
            "offset": cstate.offset if cstate is not None else 0,
            "lo": sub.start or 0,
            "horizon": horizon,
            "asof": self.asof is not None,
            "backward": sub_sort_backward(sub),
            "resolve": self.types.resolve,
        }
        mode = effective_sub_cursor_mode(sub)
        mirror = (
            getattr(self.store, "_covers_all", True)
            and self.store.mirror_current()
        )
        if mode is not None and mode != "sort" and mirror:
            ctx.update(
                self._mirror_reader().sub_cursor_index(sub, mode, cstate)
            )
            sub_plan.cursor_ctx = ctx
            return child_df
        # legacy fallback: materialize the accepted candidate set
        if (
            mode in (None, "gmap") and sub.linkage is not None
            and sub.linkage[0] == "my" and sub.linkage[1] != "bi"
            and not (
                sub.value_strcons or sub.name_strcons
                or sub.type_strcons or sub.guid
                or any(sub.links.values()) or sub.subs
                or sub.or_chains or sub.next or sub.prev
                or sub.timestamps or sub.dateline is not None
            )
        ):
            lkname = sub.linkage[1]
            if cstate is not None and cstate.form == "gmap":
                # freeze positions count from the FULL index, not the
                # thawed remainder (cstate.lk is the letter form)
                pairs_df = self._gmap_index_df(cstate.lk, cstate.src)
            else:
                pairs_df = child_df
            pairs = [
                (r["id"], r[lkname])
                for r in pairs_df.select("id", lkname)
                .orderBy("id").limit(_FIXED_MATERIALIZE_MAX + 1)
                .collect()
            ]
            if len(pairs) > _FIXED_MATERIALIZE_MAX:
                return child_df  # unmodeled scale: evaluator -> null:
            ctx.update({"mode": "gmap", "lk": lkname, "pairs": pairs})
            sub_plan.cursor_ctx = ctx
            return child_df
        if cstate is not None and cstate.form == "fixed":
            ids = cstate.fixed_ids
        else:
            # distinct: a bidirectional (<->) sub explodes each child
            # into one row per matching endpoint, and duplicate ids
            # would pin the frozen position forever
            ids = [
                r["id"]
                for r in child_df.select("id").distinct().orderBy("id")
                .limit(_FIXED_MATERIALIZE_MAX + 1).collect()
            ]
            if len(ids) > _FIXED_MATERIALIZE_MAX:
                return child_df  # unmodeled shape: evaluator -> null:
        ctx.update({"mode": "fixed", "fixed_ids": ids})
        sub_plan.cursor_ctx = ctx
        return child_df

    def _has_deep_assignments(self, con: Constraint) -> bool:
        return any(bool(c.assignments) for c in con.walk())

    # -- or-chains ---------------------------------------------------------

    def _apply_or_chain(self, df, chain, plan: SetPlan):
        """A primitive matches if any branch accepts it.

        Pure-intrinsic branches fold into one disjunctive filter (no
        shuffle).  Branches with subconstraints left-join their sub
        aggregates and contribute a per-row match flag; the chain
        filters on the OR of flags, so variables bound inside branches
        stay available (null when the branch didn't match).  '||'
        short-circuit selects the first matching branch's bindings —
        with '|' too, earlier branches win, matching the reference's
        evaluation order.
        """
        if all(self._branch_is_intrinsic(b) for b in chain):
            plan.or_chain_subs.append([])
            pred = None
            for b in chain:
                p = self._branch_pred(b)
                if p is None:
                    return df  # empty branch: chain always true
                pred = p if pred is None else (pred | p)
            return df.filter(pred) if pred is not None else df

        flags = []
        chain_sps: list = []  # this chain's SubPlans, parse order
        for b in chain:
            df, flag, cases, bpats, bsps, slot_sps = self._branch_flag(
                df, b, plan
            )
            flags.append((flag, cases, bpats, bsps))
            chain_sps.extend(slot_sps)
        plan.or_chain_subs.append(chain_sps)

        # merge variables: the FIRST matching branch's bindings apply —
        # a later branch's assignment stays null for rows an earlier
        # branch already accepted (or4: '{} || (... $a=...)' binds
        # nothing), matching the reference's in-order or evaluation
        all_vars: dict = {}
        prior = None
        for flag, cases, bpats, bsps in flags:
            eff = flag if prior is None else (flag & ~prior)
            ecol = None
            for sp, guard in bsps:
                # first-match flag: this branch's contents slots
                # render null unless it's effective; an INNER-branch
                # sub additionally needs its inner first-match guard
                # (winner slot filled, losers null — probed round 9)
                if guard is None:
                    if ecol is None:
                        self._n += 1
                        ecol = f"v{self._n}"
                        df = df.withColumn(
                            ecol,
                            F.when(eff, _l(True)).otherwise(_l(False)),
                        )
                    sp.eff_col = ecol
                else:
                    self._n += 1
                    gc = f"v{self._n}"
                    df = df.withColumn(
                        gc,
                        F.when(eff & guard, _l(True)).otherwise(
                            _l(False)
                        ),
                    )
                    sp.eff_col = gc
            for var, vlist in cases.items():
                for guard, vexpr, kind in vlist:
                    all_vars.setdefault(var, []).append(
                        (eff if guard is None else (eff & guard),
                         vexpr, kind)
                    )
                    plan.var_kinds.setdefault(var, kind)
            for var, sub_plan, arr_col, cnt_col, pat, guard in bpats:
                # guard the set-shaped var's array: null unless this
                # branch (and, for inner subs, the inner branch) is
                # the first match
                self._n += 1
                gcol = f"v{self._n}"
                df = df.withColumn(
                    gcol,
                    F.when(
                        eff if guard is None else (eff & guard),
                        _c(arr_col),
                    ),
                )
                plan.var_patterns[var] = (sub_plan, gcol, cnt_col, pat)
                plan.var_cols.pop(var, None)
                plan.var_kind_cols.pop(var, None)
            prior = flag if prior is None else (prior | flag)
        for var, cases in all_vars.items():
            # branches binding different pattern kinds: carry the
            # winning branch's kind per row (values ride as strings,
            # the assembler re-types them)
            mixed = len({k for _, _, k in cases}) > 1
            expr = None
            kexpr = None
            for flag, v, kind in cases:
                cv = v.cast("string") if mixed else v
                expr = (
                    F.when(flag, cv) if expr is None else expr.when(flag, cv)
                )
                if mixed:
                    kexpr = (
                        F.when(flag, _l(kind))
                        if kexpr is None
                        else kexpr.when(flag, _l(kind))
                    )
            self._n += 1
            vcol = f"v{self._n}"
            df = df.withColumn(vcol, expr)
            plan.var_cols[var] = vcol
            if mixed:
                self._n += 1
                kcol = f"v{self._n}"
                df = df.withColumn(kcol, kexpr)
                plan.var_kind_cols[var] = kcol

        pred = None
        for flag, _, _, _ in flags:
            pred = flag if pred is None else (pred | flag)
        return df.filter(pred)

    def _branch_flag(self, df, b: Constraint, plan: SetPlan):
        """One or-branch's match flag plus its variable/slot payload,
        recursing into sub-bearing NESTED chains (the round-8 refusal,
        lifted round 9).

        Probed against the reference (ref graphd/graphd-read-or.c
        recursive rom slots; graphd/graphd-pattern-frame.c): the
        observable semantics over the hoisted parse are plain
        first-match recursion — an inner chain matches when any inner
        branch's intrinsics AND sub count bounds hold; the winning
        inner branch's sub slots render (losers null), its $vars bind,
        and slot order follows parse order.

        Returns (df, flag, cases, bpats, bsps, slot_sps):
          cases:    var -> [(guard|None, expr, kind)]
          bpats:    [(var, sub_plan, arr_col, cnt_col, pat, guard|None)]
          bsps:     [(SubPlan, guard|None)] — guard is the inner
                    first-match expr for inner-branch subs
          slot_sps: SubPlans in this branch's parse order
        """
        pred = self._branch_pred(b, skip_sub_chains=True)
        flag = pred if pred is not None else _l(True)
        cases: dict = {}
        bpats: list = []
        bsps: list = []
        sub_sps: list = []    # per b.subs index (None = non-agg)
        chain_slots: list = []  # per b.or_chains index
        for sub in b.subs:
            df, sp, sflag = self._attach_sub(
                df, b, sub, exists_only=False, or_mode=True
            )
            if sflag is not None:
                flag = flag & sflag
            sub_sps.append(sp if sp.mode == "agg" else None)
            if sp.mode == "agg":
                plan.or_sub_plans.append(sp)
                bsps.append((sp, None))
                for var, vcol in sp.plan.var_cols.items():
                    cases.setdefault(var, []).append((
                        None,
                        F.try_element_at(
                            _c(sp.arr_col), _l(1)
                        )[vcol],
                        sp.plan.var_kinds[var],
                    ))
                for var, pat in sp.plan.pending_pattern_vars:
                    bpats.append(
                        (var, sp.plan, sp.arr_col, sp.cnt_col, pat, None)
                    )
        for var, pat in b.assignments:
            expr = self._var_expr(pat)
            if expr is not None:
                cases.setdefault(var, []).append((None, expr, pat.kind))
        for ch in b.or_chains:
            slots_here: list = []
            if all(self._branch_is_intrinsic(x) for x in ch):
                chain_slots.append(slots_here)
                continue  # folded into _branch_pred
            cpred = None
            prior = None
            for x in ch:
                df, xflag, xcases, xpats, xsps, xslots = (
                    self._branch_flag(df, x, plan)
                )
                eff = xflag if prior is None else (xflag & ~prior)
                for sp, g in xsps:
                    bsps.append((sp, eff if g is None else (eff & g)))
                for var, xlist in xcases.items():
                    for g, v, k in xlist:
                        cases.setdefault(var, []).append(
                            (eff if g is None else (eff & g), v, k)
                        )
                for var, spl, arr, cnt, pat, g in xpats:
                    bpats.append((
                        var, spl, arr, cnt, pat,
                        eff if g is None else (eff & g),
                    ))
                slots_here.extend(xslots)
                prior = xflag if prior is None else (prior | xflag)
                cpred = xflag if cpred is None else (cpred | xflag)
            if cpred is not None:
                flag = flag & cpred
            chain_slots.append(slots_here)
        slot_sps: list = []
        n_sub = n_chain = 0
        for kind, _item in b.ordered_clauses():
            if kind == "sub":
                if sub_sps[n_sub] is not None:
                    slot_sps.append(sub_sps[n_sub])
                n_sub += 1
            else:
                slot_sps.extend(chain_slots[n_chain])
                n_chain += 1
        return df, flag, cases, bpats, bsps, slot_sps

    def _branch_is_intrinsic(self, b: Constraint) -> bool:
        # nested or-chains stay intrinsic as long as every branch
        # below is — their match folds into a recursive disjunction
        # (_branch_pred); probed: the reference answers
        # `{ { A | B } | C }` as A|B|C row-wise
        return (
            not b.subs
            and not b.assignments
            and all(
                self._branch_is_intrinsic(x)
                for ch in b.or_chains
                for x in ch
            )
        )

    def _branch_pred(self, b: Constraint, skip_sub_chains: bool = False):
        """An or-BRANCH's intrinsic match predicate including its
        NESTED or-chains, folded recursively (None = always true).
        Post-round-8, bare nested chains splice at parse
        (parser._is_bare_chain), so a chain surviving INSIDE a branch
        is always conjoined with other clauses of that branch; its
        branches fold when intrinsic.  INNER branches carrying subs
        or assignments take the recursive slot/winner machinery
        (_branch_flag, round 9) — skip_sub_chains=True leaves those
        chains to the caller; without it they are a hard error (the
        pre-round-7 behavior silently ignored nested chains)."""
        conds = []
        p = self._intrinsic_pred(b, in_branch=True)
        if p is not None:
            conds.append(p)
        for chain in b.or_chains:
            if not all(self._branch_is_intrinsic(x) for x in chain):
                if skip_sub_chains:
                    continue
                raise GraphdError(
                    "SYSTEM",
                    "nested or-chains with subconstraints or "
                    "assignments are not supported",
                )
            cpred = None
            always = False
            for x in chain:
                xp = self._branch_pred(x)
                if xp is None:
                    always = True  # empty branch: chain always true
                    break
                cpred = xp if cpred is None else (cpred | xp)
            if not always and cpred is not None:
                conds.append(cpred)
        if not conds:
            return None
        pred = conds[0]
        for c in conds[1:]:
            pred = pred & c
        return pred

    # -- element structs ---------------------------------------------------

    def _elem_struct(self, con: Constraint, plan: SetPlan):
        names: list[str] = list(PRIM_ELEM_FIELDS)
        for sp in list(plan.sub_plans) + list(plan.or_sub_plans):
            if sp.mode == "agg":
                names.extend([sp.cnt_col, sp.arr_col])
            if sp.eff_col is not None:
                names.append(sp.eff_col)
        names.extend(plan.var_cols.values())
        names.extend(plan.var_kind_cols.values())
        for _sp, acol, _ccol, _pat in plan.var_patterns.values():
            names.append(acol)
        seen = set()
        fields = []
        for n in names:
            if n not in seen:
                seen.add(n)
                fields.append(_c(n))
        return F.struct(*fields)

    # -- sorting -----------------------------------------------------------

    def _sort_components(self, con: Constraint, plan: SetPlan):
        """(key column, descending, pattern kind) triples of the
        query's total order, ending in the decisive id tiebreak."""
        comps = []
        keys = con.sort or []
        for i, sk in enumerate(keys):
            # sort-comparators attach to leading sort keys only; the
            # rest use the constraint comparator (ref
            # graphd-semantic.c:452-470, test david_7 id=9)
            comp = None
            if con.sort_comparators and i < len(con.sort_comparators):
                comp = con.sort_comparators[i]
            if comp is None:
                comp = con.comparator or "default"
            col = self._sort_key_col(sk.pattern, con, plan, comp)
            if col is None:
                continue
            comps.append((col, sk.descending, sk.pattern.kind))
        comps.append((_c("id"), False, "guid"))
        return comps

    def _sort_exprs(self, con: Constraint, plan: SetPlan):
        # graphd sorts SQL-null values last ascending
        # (graph_fuzzycmp: NULL compares greater than any string)
        return [
            col.desc_nulls_first() if desc else col.asc_nulls_last()
            for col, desc, _k in self._sort_components(con, plan)
        ]

    def _sort_key_col(self, pat: Pattern, con: Constraint, plan: SetPlan,
                      comparator: str):
        k = pat.kind
        comparator = resolve_comparator(comparator)
        if k == "value" and comparator == "default":
            # sorted natively by the stored fuzzy key — no Python in
            # the sort path
            return _c("value_fkey")
        if k in ("value", "name"):
            return sort_key_column(_c(k), comparator)
        if k == "guid":
            return _c("id")
        if k in ("timestamp", "generation", "datatype"):
            return _c(k)
        if k == "valuetype":
            return _c("datatype")
        if k in ("left", "right", "typeguid", "scope"):
            return _c(k)
        if k == "type":
            return _c("typeguid")
        if k in ("live", "archival"):
            return _c(k)
        if k in (
            "count", "cursor", "estimate", "iterator", "timeout",
            "estimate-count",
        ):
            # ref graphd-sort-compile.c rejections (test/unit/sort20.sh)
            raise GraphdError("SEMANTICS", f"cannot sort by {k}")
        if k == "previous":
            return _c("prev")
        if k == "next":
            return _c("__next")  # successor guid, precomputed
        if k == "meta":
            return F.when(_c("left").isNull(), 1).otherwise(2)
        if k == "variable":
            vcol = plan.var_cols.get(pat.var)
            if vcol is not None:
                kcol = plan.var_kind_cols.get(pat.var)
                if kcol is not None:
                    return self._mixed_var_sort_key(vcol, kcol, comparator)
                if plan.var_kinds.get(pat.var) in (
                    "value", "name", "type", "literal"
                ):
                    return sort_key_column(_c(vcol), comparator)
                return _c(vcol)
            entry = plan.var_patterns.get(pat.var)
            if entry is not None:
                _sp, acol, ccol, vpat = entry
                if any(p.kind == "count" for p in vpat.walk()):
                    # $v=count: order by the child-set count
                    return F.coalesce(_c(ccol), _l(0))
                # set-shaped var: order by the array of element keys
                # (arrays compare element-wise, so this reproduces the
                # reference's list comparison)
                field = self._pattern_scalar_field(vpat)
                if field is not None:
                    arr = F.transform(_c(acol), lambda x: x[field])
                    return sort_key_column(arr, "__fuzzy_list")
            return None
        if k == "literal":
            raise GraphdError(
                "SEMANTICS", f'cannot sort by "{pat.literal or ""}"'
            )
        if k == "contents":
            # order elements by their (first) child set's values,
            # compared element-wise (ref sort9.sh)
            for sp in plan.sub_plans:
                if sp.mode == "agg":
                    arr = F.transform(
                        _c(sp.arr_col), lambda x: x["value"]
                    )
                    return sort_key_column(arr, "__fuzzy_list")
            return None
        if k == "list":
            raise GraphdError("SYNTAX", "cannot sort by nested lists.")
        raise GraphdError("SEMANTICS", f"unsupported sort key {k!r}")

    def _mixed_var_sort_key(self, vcol: str, kcol: str, comparator: str):
        """Composite sort key for a variable whose or-branches bind
        different pattern kinds: values compare by TYPE RANK first
        (graphd_value_compare's cross-type fall-through
        ``a->val_type - b->val_type``, graphd-value.c; enum graphd.h:
        text < number < guid < timestamp < boolean < datatype), then
        within-type.  One binary key: rank byte + per-type
        order-preserving bytes (identical bytes on the fast path)."""
        kc, v = _c(kcol), _c(vcol)
        text = kc.isin("value", "name", "type", "literal")
        num = kc.isin("generation", "valuetype", "count")
        guid = kc.isin(
            "guid", "left", "right", "typeguid", "scope",
            "previous", "next",
        )
        rank = (
            F.when(text, _l(b"1"))
            .when(num, _l(b"3"))
            .when(guid, _l(b"4"))
            .when(kc == "timestamp", _l(b"7"))
            .when(kc.isin("live", "archival"), _l(b"8"))
            .otherwise(_l(b"9"))  # datatype
        )
        key = (
            F.when(text, sort_key_column(v, comparator))
            .when(
                num | (kc == "timestamp") | (kc == "datatype"),
                F.lpad(v, 20, "0").cast("binary"),
            )
            .otherwise(v.cast("binary"))  # guid hex / "true"/"false"
        )
        return F.when(v.isNotNull(), F.concat(rank, key))

    def _pattern_scalar_field(self, pat: Pattern):
        """First primitive-scalar atom inside a set-shaped pattern."""
        for p in pat.walk():
            if p.kind in ("value", "name"):
                return p.kind
            if p.kind == "guid":
                return "guid"
        return None

    # -- intrinsic predicates ----------------------------------------------

    def _intrinsic_pred(self, con: Constraint, in_branch: bool = False):
        conds = []
        if con.false:
            return _l(False)
        if con.live == TRUE:
            conds.append(_c("live"))
        elif con.live == FALSE:
            conds.append(~_c("live"))
        if con.archival == TRUE:
            conds.append(_c("archival"))
        elif con.archival == FALSE:
            conds.append(~_c("archival"))
        # meta markers never filter at match time: GRAPHD_META_NODE is
        # read only by constraint-to-string, and the matcher has no
        # meta check (graphd-match.c; differential seed 4 — the
        # reference answers `node left->(...)` with left-links).  The
        # metas act earlier, as linkage-defaulting hints in the
        # semantic pass (graphd-semantic.c:677-720) and write shaping;
        # a parentless '->' matches nodes too (test/unit/nullguid2.sh).

        if con.dateline is not None:
            conds.append(self._dateline_cond(con.dateline))

        if con.guid:
            conds.append(self._guid_col_pred(_c("guid"), con.guid))
        for lk, gcs in con.links.items():
            if gcs:
                conds.append(self._guid_col_pred(_c(lk), gcs))
        # empty-set cons are the consumed prev=null/next=null rewrite
        # markers (parser._normalize_version_pointers): they sign
        # "=()" in cursor envelopes but carry no match semantics
        live_prev = [gc for gc in con.prev if gc.guids]
        if live_prev:
            conds.append(self._guid_col_pred(_c("prev"), live_prev))
        for gc in con.next:
            if gc.guids:
                conds.append(self._next_cond(gc))

        # value-comparator overrides matching only (david_8.sh)
        match_comp = con.value_comparator or con.comparator
        for sc in self._merged_strcons(con.type_strcons, match_comp):
            conds.append(self._type_cond(sc))
        for sc in self._merged_strcons(con.name_strcons, match_comp):
            conds.append(
                self._string_cond(_c("name"), sc, match_comp,
                                  is_value=False)
            )
        for sc in self._merged_strcons(con.value_strcons, match_comp):
            conds.append(
                self._string_cond(_c("value"), sc, match_comp,
                                  is_value=True)
            )

        if con.valuetype is not None:
            conds.append(_c("datatype") == con.valuetype)

        if con.timestamps:
            # one inclusive [min, max] envelope, NOT per-op row
            # predicates — ops fold in parse order with the
            # reference's quirks (timestamp_envelope)
            try:
                tmin_e, tmax_e, ts_false = timestamp_envelope(con)
            except ValueError as e:
                raise GraphdError(
                    "SYNTAX",
                    f"cannot parse timestamp {e.args[0]!r}",
                )
            c = _c("timestamp")
            if ts_false:
                conds.append(_l(False))
            else:
                if tmin_e is not None:
                    conds.append(c >= tmin_e)
                if tmax_e is not None:
                    conds.append(c <= tmax_e)
        if con.timestamps and not in_branch:
            # timestamp bounds ALSO compile to id-range datelines via
            # a bsearch that assumes timestamp order
            # (graphd_read_compile_timestamps, graphd-read.c:300-420;
            # graphd-timestamp.c:46).  Explicit timestamp= writes
            # break monotonicity, so the id bound can exclude rows the
            # row predicate matches — probed: ts>0 skips an
            # out-of-order stamp below the boundary id.  Or-BRANCH
            # timestamps are CHECK-only (no iterator compiles for a
            # branch), so no id bound applies there (or-chain fuzz
            # seed 1151: an out-of-order stamp survives a branch's
            # ts>1970)
            tmin, tmax = timestamp_bounds(con)
            if tmin is not None and tmin > 0:
                b = self.store.timestamp_to_id(tmin, "ge")
                if b is None:
                    conds.append(_l(False))
                else:
                    conds.append(_c("id") >= b)
            if tmax is not None:
                b = self.store.timestamp_to_id(tmax, "le")
                if b is None:
                    conds.append(_l(False))
                else:
                    conds.append(_c("id") < b + 1)

        # generation: default newest=0 — only current versions match
        # (ref graphd/graphd.h:458-472).  A next= constraint naming a
        # real successor implies non-newest candidates, so it lifts
        # the default (test/unit/guid2.sh: next=G finds the versioned
        # predecessor)
        dist = _cc("gendist", lambda: _c("__maxgen") - _c("generation"))
        if con.gens:
            for g in con.gens:
                target = dist if g.field == "newest" else _c("generation")
                conds.append(_OPS[g.op](target, _l(g.n)))
        elif not any(
            g is not None for gc in con.next for g in gc.guids
        ):
            # the default newest=0 predicate appears in every compiled
            # node: one cached JVM expression
            conds.append(_cc("gendist0", lambda: (
                _cc("gendist", lambda: _c("__maxgen") - _c("generation"))
                == 0
            )))

        if not conds:
            return None
        pred = conds[0]
        for c in conds[1:]:
            pred = pred & c
        return pred

    def _dateline_cond(self, dl):
        """dateline OP "db.count": id-horizon predicate (ref
        graphd/graphd-dateline.c; partition-prunable at scale)."""
        op, text = dl
        t = text.strip().lower()
        db, _, count = t.rpartition(".")
        try:
            n = int(count, 16)  # dateline counts are hexadecimal
        except ValueError:
            return _l(False)  # unparseable dateline matches nothing
        c = _c("id")
        return {
            "=": c == n, "!=": c != n,
            "<": c < n, "<=": c < n,
            ">": c >= n, ">=": c >= n,
        }[op]

    def _merged_strcons(self, scs, comparator):
        """String constraints merge like guid sets when an '=' include
        set exists (ref graphd-string-constraint.c set play-off, test
        guidlist2): '=' sets intersect, '!=' subtracts from the
        include, and a null-only '~=' reduces the include to its null
        member.  Other operators keep AND semantics."""
        from graphd_spark.comparators import value_eq
        from graphd_spark.gql.ir import StrCon

        eqs = [sc for sc in scs if sc.op == "="]
        if not eqs:
            return scs

        def eq(a, b):
            if a is None or b is None:
                return a is None and b is None
            return value_eq(comparator, a, b)

        include = list(eqs[0].values)
        for sc in eqs[1:]:
            include = [
                v for v in include if any(eq(v, w) for w in sc.values)
            ]
        rest = []
        for sc in scs:
            if sc.op == "=":
                continue
            if sc.op == "!=":
                include = [
                    v for v in include
                    if not any(eq(v, w) for w in sc.values)
                ]
            elif sc.op == "~=" and not any(
                v is not None for v in sc.values
            ):
                # ~=() / ~=null against an include: null members only
                include = [v for v in include if v is None]
            else:
                rest.append(sc)
        return [StrCon("=", include)] + rest

    def _expand_lineage(self, guids):
        """All version GUIDs of the listed guids' lineages (~= match)."""
        out: list[str] = []
        for g in guids:
            p = self.store.get(g)
            if p is not None:
                out.extend(self.store.lineage_members(p.lineage))
        return out

    def _guid_col_pred(self, col, gcs):
        """All guid constraints on one column, merged with the
        reference's set algebra (ref graphd-guid-constraint.c:150-330):
        '=' sets intersect, '~=' expands lineages (null expands to
        null; an empty/null-only match equals =null) and intersects an
        existing include set, and '!=' subtracts from the include set
        when one exists — so =(G null) != (G) keeps the null member
        (test/unit/guidlist3.sh).  Standalone '~='/'!=' keep their
        direct predicate forms."""
        include: Optional[set] = None
        standalone = []
        excludes = []
        for gc in gcs:
            if gc.op == "=":
                s = set(gc.guids)
                include = s if include is None else (include & s)
            elif gc.op == "~=":
                nonnull = [g for g in gc.guids if g is not None]
                has_null = any(g is None for g in gc.guids)
                if not nonnull:
                    # ~=() / ~=null reduces to =null
                    s = {None}
                else:
                    s = set(self._expand_lineage(nonnull))
                    if has_null:
                        s.add(None)
                if include is None and nonnull:
                    standalone.append(s)
                else:
                    include = s if include is None else (include & s)
            else:
                excludes.append(gc)
        if include is not None:
            for gc in excludes:
                include -= set(gc.guids)
            excludes = []
        parts = []
        if include is not None:
            nonnull = [g for g in include if g is not None]
            p = None
            if nonnull:
                p = col.isin(nonnull)
            if None in include:
                p = col.isNull() if p is None else (p | col.isNull())
            parts.append(p if p is not None else _l(False))
        for s in standalone:
            nonnull = [g for g in s if g is not None]
            p = col.isin(nonnull) if nonnull else _l(False)
            if None in s:
                p = p | col.isNull()
            parts.append(p)
        for gc in excludes:
            # standalone '!=': the linkage must exist and differ
            nonnull = [g for g in gc.guids if g is not None]
            p = col.isNotNull()
            if nonnull:
                p = p & ~col.isin(nonnull)
            parts.append(p)
        pred = parts[0]
        for p in parts[1:]:
            pred = pred & p
        return pred

    def _guid_cond(self, col, gc, nullable: bool):
        if gc.op == "~=":
            # lineage match (ref graphd-guid-constraint.c): any version
            # in the lineage of each listed GUID
            guids: list[str] = []
            for g in gc.guids:
                if g is None:
                    continue
                p = self.store.get(g)
                if p is not None:
                    guids.extend(self.store.lineage_members(p.lineage))
            if not guids:
                return _l(False)
            return col.isin(guids)
        nonnull = [g for g in gc.guids if g is not None]
        has_null = any(g is None for g in gc.guids)
        if gc.op == "=":
            parts = []
            if nonnull:
                parts.append(col.isin(nonnull))
            if has_null:
                parts.append(col.isNull())
            if not parts:
                return _l(False)
            pred = parts[0]
            for p in parts[1:]:
                pred = pred | p
            return pred
        # '!=': the linkage must exist and differ (null left doesn't
        # satisfy left!=G, but guid!=null means "exists" trivially)
        pred = col.isNotNull()
        if nonnull:
            pred = pred & ~col.isin(nonnull)
        return pred

    def _next_cond(self, gc):
        """next=G: this primitive's successor is G <=> G.prev == guid;
        next~=G widens to the whole lineage of G (any member's prev —
        ref test/unit/guid2.sh)."""
        parts = []
        has_null = any(g is None for g in gc.guids)
        prevs = []
        for g in gc.guids:
            if g is None:
                continue
            targets = [g]
            if gc.op == "~=":
                p = self.store.get(g)
                if p is not None:
                    targets = self.store.lineage_members(p.lineage)
            for t in targets:
                tp = self.store.get(t)
                if tp is not None and tp.prev is not None:
                    prevs.append(tp.prev)
        newest = (_c("__maxgen") - _c("generation")) == 0
        if gc.op in ("=", "~="):
            if prevs:
                parts.append(_c("guid").isin(prevs))
            if has_null:
                parts.append(newest)  # no successor
            if not parts:
                return _l(False)
            pred = parts[0]
            for p in parts[1:]:
                pred = pred | p
            return pred
        pred = ~newest  # must have a successor
        if prevs:
            pred = pred & ~_c("guid").isin(prevs)
        return pred

    def _type_cond(self, sc):
        """type="name": bind names to typeguids pre-plan
        (ref graphd-read.c:36-135); matching is lineage-canonical."""
        col = _c("typeguid_lin")
        guids = []
        has_null = False
        for nm in sc.values:
            if nm is None:
                has_null = True
                continue
            g = self.types.resolve(nm)
            if g is not None:
                p = self.store.get(g)
                guids.append(p.lineage if p is not None else g)
        if sc.op == "=":
            parts = []
            if guids:
                parts.append(col.isin(guids))
            if has_null:
                parts.append(col.isNull())
            if not parts:
                return _l(False)
            pred = parts[0]
            for p in parts[1:]:
                pred = pred | p
            return pred
        pred = col.isNull() | ~col.isin(guids) if guids else None
        if has_null:
            p2 = col.isNotNull()
            pred = p2 if pred is None else (pred & p2)
        return pred if pred is not None else _l(True)

    def _string_cond(self, col, sc, comparator, is_value: bool = False):
        comp = resolve_comparator(comparator)
        nonnull = [v for v in sc.values if v is not None]
        has_null = any(v is None for v in sc.values)

        # equality column + literal encodings, per comparator:
        # - default: fuzzy-key equality (word-aware, numbers normalize;
        #   validated by test/unit/numberequal r1/r8) via the stored
        #   value_fkey column
        # - number/datetime: hash-normalized equality (value_norm)
        # - case/octet: exact bytes
        if is_value and comp == "default":
            # candidates come from the value-hash bucket, then check
            # with the fuzzy comparison (ref comparator_default_
            # iterator GRAPHD_OP_EQ + vrange_check_value; numberequal
            # r8: ' 1' fuzzy-equals '1' but hashes as '1', not '1e0',
            # so it never surfaces) — both must match
            eq_col = _c("value_fkey")
            eq_lits = [fuzzy_key(v) for v in nonnull]
            norm_lits = [su_encode(value_norm_key(v)) for v in nonnull]
        elif is_value and comp == "number":
            # strict: only parseable numbers equal a number literal
            eq_col = _c("value_num")
            eq_lits = [
                value_norm_key(v) if decode_number(
                    v, scientific=True
                ) is not None else v.lower()
                for v in nonnull
            ]
        elif is_value and comp == "datetime":
            eq_col = _c("value_norm")
            eq_lits = [su_encode(value_norm_key(v)) for v in nonnull]
        elif comp in ("case", "octet"):
            eq_col = col
            eq_lits = nonnull
        else:
            eq_col = F.lower(col)
            eq_lits = [v.lower() for v in nonnull]

        if sc.op == "=":
            parts = []
            if is_value and "" in nonnull:
                # value="" also finds string-datatype primitives whose
                # value is stored null (test/unit/nullvalue.sh); the
                # literal keeps matching stored empty/whitespace values
                # through the regular comparator path (david_6.sh)
                parts.append(
                    col.isNull() & (_c("datatype") == 2)
                )
            if nonnull and is_value and comp == "default":
                p = None
                for k, n in zip(eq_lits, norm_lits):
                    t = (eq_col == _l(k)) & (
                        _c("value_norm") == _l(n)
                    )
                    p = t if p is None else (p | t)
                parts.append(p)
            elif nonnull:
                parts.append(eq_col.isin(eq_lits))
            if has_null:
                parts.append(col.isNull())
            if not parts:
                return _l(False)
            pred = parts[0]
            for p in parts[1:]:
                pred = pred | p
            return pred
        if sc.op == "!=":
            if not nonnull and not has_null:
                # != () — the empty exclusion set still demands the
                # field exist (ref test/unit/ne.sh 'name!=()')
                return col.isNotNull()
            # a null field always differs from a non-null literal —
            # value!="x" matches unvalued primitives exactly like
            # name!=/type!= match unnamed ones (reference behavior,
            # verified via differential probes; test_differential)
            pred = None
            if nonnull:
                pred = col.isNull() | ~eq_col.isin(eq_lits)
            if has_null:
                p2 = col.isNotNull()
                pred = p2 if pred is None else (pred & p2)
            return pred if pred is not None else _l(True)
        if sc.op in ("<", "<=", ">", ">="):
            # range under the comparator's ordering: compare
            # order-preserving sort keys (null values never match —
            # the reference's vrange iterators scan value indexes,
            # which don't contain nulls)
            lit = nonnull[0] if nonnull else None
            if lit is None:
                return _l(False)
            if is_value and comp == "default":
                key = _c("value_fkey")
            else:
                key = sort_key_column(col, comp)
            pred = _OPS[sc.op](key, _l(literal_key(lit, comp)))
            if is_value and comp == "datetime":
                # datetime ranges enumerate the three date bin
                # segments only (negative years / years / times, ref
                # datetime_inc/dec/skip) — values outside them (and
                # nulls) never surface
                from graphd_spark.comparators import (
                    datetime_scan_order_column,
                )

                return pred & datetime_scan_order_column(col).isNotNull()
            if comp == "number":
                lo_bin = (
                    number_bin_lookup(lit) if is_value else None
                )
                if lo_bin is None:
                    # literal doesn't decode: the reference builds no
                    # vrange (ENOTSUP); only parseable numbers match —
                    # number keys sort below the \x02 non-number class
                    pred = pred & (key < _l(b"\x02"))
                else:
                    # enumeration = bins from/to the literal's bin;
                    # each bin's value-hash bucket can carry
                    # non-numbers whose normalization collides with
                    # the boundary's canonical string (' 0' -> '0',
                    # ref number_vrange_it_next + pdb_hash_number_
                    # iterator; test numberequal r6)
                    from graphd_spark.comparators import (
                        number_scan_order_column,
                    )

                    scan = number_scan_order_column(col)
                    pred = pred & scan.isNotNull()
                    if sc.op in (">", ">="):
                        pred = pred & (scan >= _l(2 * lo_bin))
                    else:
                        pred = pred & (scan <= _l(2 * lo_bin + 1))
            elif is_value and sc.op in (">", ">="):
                # null values compare greater than any string under
                # the default ordering (graph_fuzzycmp NULL rule), so
                # they satisfy > ranges (ref test/unit/david_5.sh)
                pred = pred | col.isNull()
            return pred
        if sc.op == "~=":
            if comp == "number":
                raise GraphdError(
                    "SEMANTICS",
                    'cannot use ~= with comparator="number"',
                )
            from graphd_spark.glob import glob_column

            cs = comp in ("case", "octet")
            pred = None
            if has_null:
                # value~=null matches null values (test/unit/nullvalue.sh)
                pred = col.isNull()
            for v in nonnull:
                if is_value and comp == "datetime":
                    # date patterns match with the delimiter-aware
                    # matcher, not the word glob (ref
                    # delimited_string_match; test datetime-2)
                    from graphd_spark.comparators import (
                        delimited_match_column,
                    )

                    g = delimited_match_column(col, v)
                else:
                    g = glob_column(col, v, case_sensitive=cs)
                pred = g if pred is None else (pred | g)
            return pred if pred is not None else _l(False)
        raise GraphdError("SEMANTICS", f"unsupported operator {sc.op!r}")


def sort_cursor_string(store, types, asof, con, plan, rows,
                       consumed: int, horizon) -> str:
    """Reference-format sorted cursor: "sort:[o:<next offset>]
    [n:<id horizon>]" + the serialized sort-key values of the last
    element shown, with a trailing guid tiebreak (ref
    graphd-sort.c:1462-1513 graphd_sort_cursor_get,
    graphd-read-set-cursor.c:33-61, graphd-sort-compile.c:55-140;
    value syntax graphd-value.c:970-1040 graphd_value_serialize).
    Shared by the Spark compiler and the serving fast path —
    ``rows`` may be Spark Rows or the fast path's dicts."""
    from graphd_spark.pattern import Assembler
    from graphd_spark.values import (
        Atom, Guid, List as VList, Null, Num, Str, Ts,
    )
    from graphd_spark.model import ts_to_string

    out = [f"sort:[o:{consumed}]"]
    if asof is None:
        n = horizon if horizon is not None else store.next_id
        out.append(f"[n:{n}]")
    last = rows[-1]
    asm = Assembler(store, types)

    def ser(v) -> str:
        if v is Null:
            return "n"
        if isinstance(v, Str):
            b = v.text.encode("utf-8")
            return f"s{len(b)}:{v.text}"
        if isinstance(v, Atom):
            b = v.text.encode("utf-8")
            return f"a{len(b)}:{v.text}"
        if isinstance(v, Guid):
            return f"g{v.text}"
        if isinstance(v, Num):
            return f"#{v.n}."
        if isinstance(v, Ts):
            return "t" + ts_to_string(v.ts)
        if isinstance(v, VList):
            return f"l{len(v.items)}:" + "".join(
                ser(i) for i in v.items
            )
        return "n"

    for sk in con.sort:
        k = sk.pattern.kind
        if k == "datatype":
            out.append(f"d{last['datatype']}.")
        elif k in ("live", "archival"):
            out.append("b1" if last[k] else "b0")
        else:
            out.append(ser(asm._eval_elem(sk.pattern, plan, last)))
        if k == "guid":
            break
    else:
        # all sorts end in a decisive guid comparison
        out.append(f"g{last['guid']}")
    return "".join(out)
