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

The read plan — sub modes, count bounds, column names, variables,
or-chain first-match tables, contents slots — is bound once by
readplan.bind_plan and shared with the fast path; this module renders
it as a DataFrame.

Driver-side state (the store) is used only to bind literals the
reference also binds pre-plan: type names to typeguids
(graphd-read.c:36-135), guid~= lineages, next= pointers, asof
horizons.
"""

from __future__ import annotations

import operator
from contextlib import contextmanager, nullcontext
from functools import reduce
from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphd_spark.comparators import (
    _ascii_lower,
    delimited_match_column,
    scan_order_column,
    sort_key_column,
    value_norm_key,
)
from graphd_spark.gql.ir import (
    Constraint,
    Pattern,
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
    Thaw,
)
from graphd_spark.glob import glob_column
from graphd_spark import match
from graphd_spark.match import _strcon_is_bin, bind, intrinsic_branch
from graphd_spark.model import guid_serial, su_encode
from graphd_spark.sortsim import (
    number_sort_drops,
    range_scan_order,
    result_pagesize,
    resume_offset,
    sort_components,
    sort_production,
    sorter_run,
)
from graphd_spark.pattern import GraphdError, default_read_pattern
from graphd_spark.readplan import _OPS, SetPlan, SubPlan, bind_plan

#: primitive fields carried in every element struct
PRIM_ELEM_FIELDS = [
    "guid", "typeguid", "left", "right", "scope", "prev", "name",
    "datatype", "value", "live", "archival", "timestamp", "generation",
]

# py4j round-trip caches: cached F.col/F.lit/constant-expression
# handles — see jexpr.py
from graphd_spark.jexpr import _c, _cc, _ctx_id, _l  # noqa: E402


def _first_of(arr_col: str, col: str):
    """``col`` of the first row in the page array ``arr_col``."""
    return F.try_element_at(_c(arr_col), _l(1))[col]


def _first_match(branches, flags: dict, effs: dict) -> None:
    """Each branch's first-match test within its chain — its flag and
    no earlier branch's — into ``effs``, nested chains included."""
    prior = None
    for bp in branches:
        f = flags[bp]
        effs[bp] = f if prior is None else (f & ~prior)
        prior = f if prior is None else (prior | f)
        for ibs in bp.chains:
            if ibs is not None:
                _first_match(ibs, flags, effs)


def _key_tuple(row, n: int) -> tuple:
    """A collected row's ``__k0..`` sort keys (binary keys as bytes)."""
    return tuple(
        bytes(v) if isinstance(v, bytearray) else v
        for v in (row[f"__k{i}"] for i in range(n))
    )


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
        # a modeled iterator freeze resumes by iterator position, not
        # offset; a masqueraded fixed set by offset unless its raw
        # array is recovered (freeze.thaw)
        t = freeze.thaw(self, con, cstate) if cstate else Thaw(hi=horizon)
        masq_raw = cstate is not None and (
            cstate.form == "fixed_masq" and t.ids is not None
        )
        if masq_raw:
            resume = 0
        df = self._restrict(df, t)
        order = self._sort_exprs(con, plan)
        skipped = backward = simulated = False
        if con.sort:
            skipped, backward, simulated = sort_production(con)
        if skipped:
            order = [_c("id").desc() if backward else _c("id").asc()]
        elif number_sort_drops(con, self.store):
            df = df.filter(
                _c("value").isNotNull()
                & (sort_key_column(_c("value"), "number") < _l(b"\x02"))
            )
        scan = range_scan_order(con)
        if scan is not None:
            order = [
                scan_order_column(scan, _c("value")).asc_nulls_last(),
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
            resume, df = resume_offset(
                self, df, con, plan, resume_guid, sort_body
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

    def _isa_expansion_ids(self, con, sh=None) -> Optional[list]:
        """RAW materialized target set of an hmap-sub expansion: every
        bin member's linkage target, deduped and sorted — INCLUDING
        bin false positives whose value only bin-merges with the
        written one (number normalization) and targets the constraint
        check later rejects.  The reference's fixed iterator holds
        this raw set, so the frozen bounds and /POS/ count produced-
        then-rejected candidates too (probed: a "100" write sharing
        the "1e2" bin shifts the bounds and offsets every position
        by one).  ``sh``: the root's freeze._isa_sub_hmap, when known."""
        sh = sh or freeze._isa_sub_hmap(self, con)
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

    @contextmanager
    def _thaw_scope(self, horizon):
        """freeze.thaw's probes see the log at the asof horizon and the
        thawed cursor's own [n:H] (_raw_df), not the root chain's."""
        prev, self._chain_h = self._chain_h, horizon
        try:
            yield
        finally:
            self._chain_h = prev

    def _thaw_boundary(self, cstate) -> Optional[int]:
        """freeze.thaw's probe: the id of the cstate.pos-th element of
        the thawed gmap/hmap index within [low, high), in scan order
        (from the top for backward scans), or None."""
        if cstate.form == "gmap":
            idx = self._gmap_index_df(cstate.lk, cstate.src)
        elif cstate.lk == "value":
            # the thawed key IS the stored normalization (case
            # preserved) — only case-fold it; re-normalizing is NOT
            # idempotent ("12e1" re-parses as the number 120 -> "12e2")
            idx = self._raw_df().filter(
                _c("value_norm") == su_encode(_ascii_lower(cstate.masq))
            )
        else:
            idx = self._raw_df().filter(
                F.lower(_c("name")) == cstate.masq.lower()
            )
        idx = idx.filter(_c("id") >= cstate.low)
        if cstate.high is not None:
            idx = idx.filter(_c("id") < cstate.high)
        order, pick = (
            (_c("id").desc(), F.min) if cstate.backward
            else (_c("id").asc(), F.max)
        )
        row = (
            idx.orderBy(order).limit(cstate.pos)
            .agg(pick("id").alias("b")).head()
        )
        return None if row is None or row["b"] is None else int(row["b"])

    @staticmethod
    def _restrict(df, t: Thaw):
        """``df`` narrowed to freeze.thaw's candidate restriction."""
        if t.ids is not None:
            df = df.filter(_c("id").isin(list(t.ids)) if t.ids else _l(False))
        if t.lo:
            df = df.filter(_c("id") >= t.lo)
        if t.hi is not None:
            df = df.filter(_c("id") < t.hi)
        for col, v in t.eq:
            df = df.filter(_c(col) == v)
        return df

    # -- the steps of sortsim.resume_offset -------------------------------

    _id_key = property(lambda self: _c("id"))

    def _boundary_keys(self, df, comps, bid: int):
        row = df.filter(_c("id") == bid).select(
            *[c.alias(f"__k{i}") for i, (c, _d, _p) in enumerate(comps)]
        ).head()
        return None if row is None else _key_tuple(row, len(comps))

    @staticmethod
    def _null_class(df, col, null: bool):
        return df.filter(col.isNull() if null else col.isNotNull())

    @staticmethod
    def _count_before(df, comps, keys) -> int:
        # null keys sort greatest (asc_nulls_last / desc_nulls_first):
        # a distributed count of the rows ordering strictly before
        # ``keys``, never a global window
        before = _l(False)
        eq_prefix = _l(True)
        for (k, desc, _p), cv in zip(comps, keys):
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
        return df.filter(before).count()

    def _sortsim_run(self, con, plan, df, P_sim: int, resume_guid,
                     sort_body=None):
        """Collect candidate sort keys in producer (id) order and run
        the incremental sorter (sortsim.sorter_run).  Returns
        (surviving page ids in sort order, accepted count, trailing)."""
        comps = sort_components(self, con, plan)
        tagged = df.select(
            _c("id"),
            *[c.alias(f"__k{i}") for i, (c, _d, _p) in enumerate(comps)],
        ).orderBy("id").collect()
        entries = [(_key_tuple(r, len(comps)), r["id"]) for r in tagged]
        arr, accepted, trailing = sorter_run(
            self, con, plan, comps, entries, P_sim, resume_guid, sort_body
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
        """``con``'s bound read plan and the frame rendering it."""
        plan = bind_plan(con, exists_only)
        return plan, self._render(plan)

    def _render(self, plan: SetPlan):
        con = plan.con
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
        for chain, cp in zip(con.or_chains, plan.chains):
            df = self._apply_or_chain(df, chain, cp)
        for sp in plan.sub_plans:
            df, _flag = self._attach_sub(df, sp)
            for newcol, vcol in sp.imports:
                df = df.withColumn(newcol, _first_of(sp.arr_col, vcol))
        for vcol, fld, lit in plan.assigns:
            df = df.withColumn(vcol, _l(lit) if fld is None else _c(fld))
        return df

    # -- subconstraints ----------------------------------------------------

    def _attach_sub(self, df, sp: SubPlan):
        """Join one bound subconstraint onto the parent candidate set.

        Returns (df, flag): an or-branch sub filters nothing — the
        flag column says whether its count bounds hold for each parent
        row (the branch ANDs it into its match flag)."""
        sub = sp.sub
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
        # expansion instead (match.guid_sets).
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

        child_df = self._render(sp.plan)
        if kind == "my" and lk == "bi":
            child_df = child_df.withColumn(
                "__bikey",
                F.explode(F.array("left", "right")),
            )
        child_df = child_df.filter(child_key.isNotNull())

        if sp.mode != "agg":
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
            if sp.mode == "skip":
                return df, None  # optional, unused
            how = "left_anti" if sp.mode == "anti" else "left_semi"
            return df.join(keys, parent_key == _c("__k"), how), None

        # aggregation path: per-parent ordered contents + counts.
        child_df = self._sub_cursor_setup(sub, sp.plan, child_df)
        cnt, arr = sp.cnt_col, sp.arr_col
        elem = self._elem_struct(sub, sp.plan)
        order = self._sort_exprs(sub, sp.plan)
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
        # collect only the rendered page into the aggregation buffer:
        # collect_list drops the when()'s nulls, so a 10^6-fan-out
        # parent costs O(resultpagesize) memory, not O(fan-out); the
        # exact count still aggregates over every child.  start= on a
        # subconstraint offsets the page (test/unit/start-unsorted.sh)
        lo = sp.lo
        agg = kdf.groupBy("__k").agg(
            F.count(_l(1)).alias(cnt),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (_c("__rn") > _l(lo))
                            & (_c("__rn") <= _l(lo + sp.rps)),
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
        flag = _l(True)
        for op, k in sp.bounds:
            flag = flag & _OPS[op](cnt_eff, k)
        if sp.branch:
            out = df.join(agg, parent_key == agg["__k"], "left").drop("__k")
            return out, flag
        out = df.join(
            agg,
            parent_key == agg["__k"],
            "left" if sp.outer else "inner",
        ).drop("__k")
        # the inner join already holds an implicit count>=1
        if sp.bounds and (sp.outer or sp.bounds != ((">=", 1),)):
            out = out.filter(flag)
        return out, None

    def _sub_cursor_setup(self, sub, sub_plan, child_df):
        """Subconstraint cursors (per-parent contents pagination, ref
        graphd-read-set-cursor.c; test/unit/cursor6.sh): narrow the
        children to freeze.thaw_sub's restriction, and when the sub's
        result wants a cursor, build the per-parent iterator context
        the shared assembler freezes from (see sub_cursor_mode for the
        probed freeze family).

        The per-parent index sets come from the store's in-memory
        index mirror via a FastReader helper, so both execution paths
        freeze byte-identical cursors; without a current mirror (a
        partially-loaded ParquetLogStore) the legacy accepted-set
        materialization below stands in — its frozen positions count
        accepted rather than raw producer elements, which only
        differs once candidates are rejected by the generational
        newest test (versioned children)."""
        cstate, t, ctx = freeze.thaw_sub(self, sub)
        child_df = self._restrict(child_df, t)
        if ctx is None:
            return child_df
        mode = effective_sub_cursor_mode(sub)
        mirror = (
            getattr(self.store, "_covers_all", True)
            and self.store.mirror_current()
        )
        if mode is not None and mode != "sort" and mirror:
            # the sub's index as the fast path freezes it: within the
            # asof horizon, not the bound the sub's [n:] gives the root
            with self._thaw_scope(None):
                fr = self._mirror_reader()
            ctx.update(fr.sub_cursor_index(sub, mode, cstate))
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

    # -- or-chains ---------------------------------------------------------

    def _apply_or_chain(self, df, chain, cp):
        """A primitive matches if any branch accepts it.

        Pure-intrinsic branches fold into one disjunctive filter (no
        shuffle).  Branches with subconstraints left-join their sub
        aggregates and contribute a per-row match flag; the chain
        filters on the OR of flags.  The bound plan's first-match
        columns become ``when`` cascades over each branch path's
        guard: a branch's flag and no earlier branch's, at every
        nesting level (or4: '{} || (... $a=...)' binds nothing)."""
        if cp is None:
            return df.filter(reduce(
                operator.or_, [self._branch_pred(b) for b in chain]
            ))
        flags: dict = {}
        for bp in cp.branches:
            df = self._branch_flag(df, bp, flags)
        effs: dict = {}
        _first_match(cp.branches, flags, effs)

        def guard(path):
            g = effs[path[-1]]
            for bp in reversed(path[:-1]):
                g = effs[bp] & g
            return g

        for path, col, arr in cp.guards:
            g = guard(path)
            df = df.withColumn(col, (
                F.when(g, _l(True)).otherwise(_l(False)) if arr is None
                else F.when(g, _c(arr))
            ))
        for vcol, kcol, cases in cp.cases.values():
            # branches binding different pattern kinds: carry the
            # winning branch's kind per row (values ride as strings,
            # the assembler re-types them)
            expr = kexpr = None
            for c in cases:
                g = guard(c.path)
                v = (
                    _first_of(c.sp.arr_col, c.col) if c.sp is not None
                    else _l(c.lit) if c.col is None else _c(c.col)
                )
                if kcol is not None:
                    v = v.cast("string")
                    kexpr = (F.when(g, _l(c.kind)) if kexpr is None
                             else kexpr.when(g, _l(c.kind)))
                expr = F.when(g, v) if expr is None else expr.when(g, v)
            df = df.withColumn(vcol, expr)
            if kcol is not None:
                df = df.withColumn(kcol, kexpr)
        return df.filter(reduce(
            operator.or_, [flags[bp] for bp in cp.branches]
        ))

    def _branch_flag(self, df, bp, flags: dict):
        """One or-branch's match flag into ``flags``: its intrinsics,
        its subs' count bounds, and one matching branch per nested
        sub-bearing chain (probed against the reference, ref
        graphd/graphd-read-or.c recursive rom slots)."""
        # never null: a later branch's first-match test negates it
        flag = F.coalesce(self._branch_pred(bp.con), _l(False))
        for sp in bp.subs:
            df, sflag = self._attach_sub(df, sp)
            flag = flag & sflag
        for ibs in bp.chains:
            if ibs is None:
                continue  # folded into _branch_pred
            for x in ibs:
                df = self._branch_flag(df, x, flags)
            flag = flag & reduce(operator.or_, [flags[x] for x in ibs])
        flags[bp] = flag
        return df

    def _branch_pred(self, b: Constraint):
        """An or-BRANCH's intrinsic match and its intrinsic NESTED
        or-chains, folded recursively (probed: the reference answers
        `{ { A | B } | C }` as A|B|C row-wise).  Chains whose branches
        carry subs or assignments take the recursive slot/winner
        machinery (_branch_flag)."""
        pred = self._intrinsic_pred(b, in_branch=True)
        for chain in b.or_chains:
            if all(intrinsic_branch(x) for x in chain):
                pred = pred & reduce(
                    operator.or_, [self._branch_pred(x) for x in chain]
                )
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

    def _sort_exprs(self, con: Constraint, plan: SetPlan):
        # graphd sorts SQL-null values last ascending
        # (graph_fuzzycmp: NULL compares greater than any string)
        return [
            col.desc_nulls_first() if desc else col.asc_nulls_last()
            for col, desc, _p in sort_components(self, con, plan)
        ]

    def _sort_key(self, pat: Pattern, con: Constraint, plan: SetPlan,
                  comparator: str):
        """sortsim's key step: the Spark Column one sort key orders by
        (``comparator`` resolved), None when the plan has none."""
        k = pat.kind
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
        """``con``'s bound intrinsic match (match.bind) as a Column."""
        return _column(bind(self.store, self.types, con, in_branch))


#: base-frame columns that hold no nulls: tests on them need no guard
_NOT_NULL = frozenset((
    "live", "archival", "id", "guid", "datatype", "timestamp", "generation",
))


def _column(node, cols: Optional[dict] = None):
    """A ``match.bind`` tree as a boolean Column over the base frame.

    The Column equals the tree's answer wherever it is not null, and
    is null only where the tree answers false, so a filter keeps
    exactly the matching rows: a negated leaf states its null result
    with an explicit null test rather than negating a null.  ``cols``
    shares one Column per field within one rendering."""
    if cols is None:
        cols = {}
    t = type(node)
    if t is match.And:
        return reduce(operator.and_, [
            c for x in node.parts for c in _conjuncts(x, cols)
        ])
    if t is match.Or:
        return reduce(operator.or_, [_column(x, cols) for x in node.parts])
    if t is match.Not:
        return _negated(node.part, cols)
    if t is match.Const:
        return _l(node.value)
    if t is match.Newest:
        if (node.op, node.n) == ("=", 0):
            # in every compiled node: one cached JVM expression
            return _cc("gendist0", lambda: _gendist() == 0)
        return _OPS[node.op](_gendist(), _l(node.n))
    if t is match.Bin:
        return reduce(operator.and_, _conjuncts(node, cols))
    col = _field(node.field, cols)
    if t is match.Glob:
        return glob_column(col, node.pattern,
                           case_sensitive=node.case_sensitive)
    if t is match.Delim:
        return delimited_match_column(col, node.pattern)
    x = _test(node, col)
    if not node.null or node.field in _NOT_NULL:
        return x if x is not None else _l(False)
    return col.isNull() if x is None else (x | col.isNull())


def _negated(node, cols: dict):
    """``Not(node)`` as a Column (see _column)."""
    t = type(node)
    if t is match.Not:
        return _column(node.part, cols)
    if t is match.And:
        return reduce(operator.or_, [_negated(x, cols) for x in node.parts])
    if t is match.Or:
        return reduce(operator.and_, [_negated(x, cols) for x in node.parts])
    if t is match.Const:
        return _l(not node.value)
    if t is match.Newest:
        return ~_column(node, cols)
    if t is match.Bin:
        s = _scan(node, cols)
        if node.op is None:
            return s.isNull()
        return s.isNull() | ~_OPS[node.op](s, _l(node.bound))
    col = _field(node.field, cols)
    if t in (match.Glob, match.Delim):
        x, null = _column(node, cols), False
    else:
        x, null = _test(node, col), node.null
    if node.field in _NOT_NULL:
        return ~x if x is not None else _l(True)
    if null:
        return col.isNotNull() if x is None else (col.isNotNull() & ~x)
    return _l(True) if x is None else (col.isNull() | ~x)


def _conjuncts(node, cols: dict) -> list:
    """``node``'s Columns as conjuncts of an enclosing And: a bin test
    contributes its surfacing test and its bound separately."""
    if type(node) is not match.Bin:
        return [_column(node, cols)]
    s = _scan(node, cols)
    out = [s.isNotNull()]
    if node.op is not None:
        out.append(_OPS[node.op](s, _l(node.bound)))
    return out


def _test(node, col):
    """An In or Cmp leaf's test on a non-null field (None: no value
    can pass)."""
    su = node.field == "value_norm"  # stored su_encode'd
    if type(node) is match.Cmp:
        lit = su_encode(node.lit) if su else node.lit
        return _OPS[node.op](col, _l(lit))
    if not node.values:
        return None
    if node.values == (True,):
        return col  # a boolean flag
    return col.isin([su_encode(v) for v in node.values] if su
                    else list(node.values))


def _gendist():
    """Distance from the lineage's newest generation."""
    return _cc("gendist", lambda: _c("__maxgen") - _c("generation"))


def _field(field, cols: dict):
    col = cols.get(field)
    if col is None:
        if isinstance(field, str):
            col = _c(field)
        elif field[0] == "lower":
            col = F.lower(_c(field[1]))
        else:  # ("key", field, comparator)
            col = sort_key_column(_c(field[1]), field[2])
        cols[field] = col
    return col


def _scan(node, cols: dict):
    """A Bin leaf's scan-position Column."""
    key = ("scan", node.order, node.field)
    s = cols.get(key)
    if s is None:
        s = cols[key] = scan_order_column(
            match.SCAN_ORDERS[node.order], _c(node.field)
        )
    return s


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
