"""The read plan both evaluators run: a constraint tree bound once.

``bind_plan(con, exists_only)`` does for a read's structure what
``match.bind`` does for one constraint's predicates.  It walks the
tree once and decides everything the two evaluators must agree on:

- each subconstraint's mode: ``anti``/``semi``/``skip`` existence
  tests, or ``agg`` — the per-parent count and page array;
- its count bounds: the implicit minimum ``(start or 0) + 1`` (ref
  graphd-semantic.c:740-743), ``outer`` (a parent may have no match),
  the page ``lo``/``rps``, and every bound as one ``(op, k)`` test;
- whether a sub's rows are needed at all (contents shown, or a
  ``$var`` bound anywhere below);
- the row column names — ``n#`` counts, ``c#`` page arrays, ``v#``
  variables and flags — numbered chains first, then subs, then
  assignments (the order of the compiled DataFrame's columns);
- ``$var`` plumbing: scalar imports from a sub's first paged row,
  set-shaped variables evaluated over a sub's array, own assignments;
- each or-chain whose branches carry subs or assignments: its branches
  in order with their nested chains, the columns that gate a branch's
  contents slots and set-shaped variables on the first match, and the
  first-match case table of every variable the chain binds;
- the ``contents`` slot order (parse order, or-branch subs included).

``Compiler`` renders the plan as joins, aggregates and ``when``
cascades; ``FastReader`` evaluates it per candidate over the driver
mirror.  A set-shaped or aliasing assignment inside an or-branch
(``{... $f=((value))}``, ``{... $b=$a}``) binds nothing: the variable
renders null.
"""

from __future__ import annotations

from collections import namedtuple
from dataclasses import dataclass, field as dfield
from typing import Any, Optional

from graphd_spark.gql.ir import Constraint
from graphd_spark.match import intrinsic_branch
from graphd_spark.pattern import (
    GraphdError,
    default_read_pattern,
    pattern_shows_contents,
)
from graphd_spark.sortsim import result_pagesize

_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}

#: scalar assignment pattern kind -> the primitive field it binds
#: (``literal`` binds its text; every other kind is set-shaped)
SCALAR_FIELDS = {
    "value": "value", "name": "name", "guid": "guid", "left": "left",
    "right": "right", "typeguid": "typeguid", "scope": "scope",
    "timestamp": "timestamp", "datatype": "datatype",
    "valuetype": "datatype", "generation": "generation", "live": "live",
    "archival": "archival", "previous": "prev",
}

#: does a constraint without result= show its subs' contents?
_DEFAULT_SHOWS_CONTENTS = pattern_shows_contents(default_read_pattern(), None)

#: one first-match binding of a variable: the branch path from the
#: chain's branch down to the binding branch, the pattern kind, and
#: the source — ``sp``'s first paged row's column ``col`` (a sub
#: import), else the primitive field ``col``, else the literal ``lit``
Case = namedtuple("Case", "path kind sp col lit")


def counts_ok(bounds, n: int) -> bool:
    """Do all of a sub's ``(op, k)`` count bounds hold for ``n``?"""
    for op, k in bounds:
        if not _OPS[op](n, k):
            return False
    return True


@dataclass(eq=False, slots=True)
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
    sub: Optional[Constraint] = None
    count_min: int = 1
    #: a parent without matches stays (left join): count=0 / count>=0,
    #: and every or-branch sub
    outer: bool = False
    lo: int = 0   # start=: the page's first row
    rps: int = 0  # the page's size
    #: the (op, k) tests the per-parent count must pass
    bounds: tuple = ()
    #: (parent column, child column): scalar variables sampled from
    #: the first paged row (root subs; or-branch subs bind by Case)
    imports: tuple = ()
    #: an or-branch sub: its count bounds feed the branch flag
    branch: bool = False
    # the fast path's per-request data plane (FastReader._build_specs):
    # the thawed cursor state and restriction, the sorted-sub sorter,
    # and whether a live sorted-cursor thaw sits strictly below
    cstate: Any = None
    cfilter: Any = None
    ssim: Any = None
    has_thaw: bool = False


@dataclass(eq=False, slots=True)
class BranchPlan:
    con: Constraint
    subs: list      # agg SubPlans, branch=True
    #: per con.or_chains: None for an intrinsic chain (it folds into
    #: the branch's match), else its BranchPlans in order
    chains: list
    slots: list     # contents slots in this branch's parse order


@dataclass(eq=False, slots=True)
class ChainPlan:
    branches: list
    #: (path, column, array column | None), in column order: a branch
    #: path's first-match flag for its subs' contents slots, or the
    #: guarded array of a set-shaped variable
    guards: list = dfield(default_factory=list)
    #: var -> (vcol, kcol | None, [Case]): the first case whose path
    #: wins binds; kcol carries the winning kind when kinds mix
    cases: dict = dfield(default_factory=dict)
    slots: list = dfield(default_factory=list)


@dataclass(eq=False)
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
    #: SubPlans attached by or-branches, nested branches included, in
    #: branch order (their cnt/arr columns must ride along in the
    #: element struct for variable assembly)
    or_sub_plans: list = dfield(default_factory=list)
    #: per con.or_chains: None (intrinsic) or its ChainPlan
    chains: list = dfield(default_factory=list)
    #: own scalar assignments: (column, field | None, literal)
    assigns: list = dfield(default_factory=list)
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


def bind_plan(con: Constraint, exists_only: bool = False) -> SetPlan:
    """``con``'s read plan; ``exists_only`` when only the existence of
    its rows matters (no payload rides up to a parent)."""
    return _Binder().set_plan(con, exists_only)


def _paths(bp: BranchPlan, above: tuple = ()):
    """(path, branch) for ``bp`` and every branch nested below it,
    depth first in parse order."""
    path = above + (bp,)
    yield path, bp
    for ibs in bp.chains:
        for x in ibs or ():
            yield from _paths(x, path)


def _deep_assignments(con: Constraint) -> bool:
    return any(node.assignments for node in con.walk())


class _Binder:
    """One bind: numbers the row columns in the compiled frame's order."""

    __slots__ = ("n",)

    def __init__(self):
        self.n = 0

    def col(self) -> str:
        self.n += 1
        return f"v{self.n}"

    def set_plan(self, con: Constraint, exists_only: bool) -> SetPlan:
        plan = SetPlan(con=con)
        if not (con.subs or con.or_chains or con.assignments):
            plan.contents_slots = []
            return plan
        plan.chains = [self.chain(ch, plan) for ch in con.or_chains]
        for sub in con.subs:
            sp = self.sub(sub, con, exists_only, False)
            plan.sub_plans.append(sp)
            if sp.mode != "agg":
                continue
            # the sub's variables reach the parent (pat_sample: scalar
            # vars take the first paged child's value; set-shaped vars
            # evaluate over the whole child array at assembly)
            child = sp.plan
            imports = []
            for var, vcol in child.var_cols.items():
                newcol = self.col()
                imports.append((newcol, vcol))
                plan.var_cols[var] = newcol
                plan.var_kinds[var] = child.var_kinds[var]
            sp.imports = tuple(imports)
            for var, pat in child.pending_pattern_vars:
                plan.var_patterns[var] = (child, sp.arr_col, sp.cnt_col, pat)
            # grandchild set-vars pass up unchanged: they resolve
            # against nested arrays inside this sub's rows
            for var, entry in child.var_patterns.items():
                plan.var_patterns.setdefault(var, entry)
        for var, pat in con.assignments:
            if pat.kind == "variable":
                # alias to a child-sampled variable ($b=$a, david_9.sh)
                src = plan.var_cols.get(pat.var)
                if src is not None:
                    plan.var_cols[var] = src
                    plan.var_kinds[var] = plan.var_kinds.get(pat.var, "value")
                elif pat.var in plan.var_patterns:
                    plan.var_patterns[var] = plan.var_patterns[pat.var]
                continue
            field = SCALAR_FIELDS.get(pat.kind)
            if field is None and pat.kind != "literal":
                # set-shaped ($f=((value))): the parent binds it
                # against its aggregated array of this constraint's rows
                plan.pending_pattern_vars.append((var, pat))
                continue
            vcol = self.col()
            plan.assigns.append((vcol, field, pat.literal))
            plan.var_cols[var] = vcol
            plan.var_kinds[var] = pat.kind
            plan.var_kind_cols.pop(var, None)  # own assignment wins
        plan.contents_slots = _slots(con, plan.sub_plans, [
            None if cp is None else cp.slots for cp in plan.chains
        ])
        return plan

    def sub(self, sub: Constraint, parent: Constraint, exists_only: bool,
            branch: bool) -> SubPlan:
        if sub.linkage is None:
            raise GraphdError(
                "SEMANTICS", "subconstraint is not connected to its parent"
            )
        count_min = (
            sub.count_min if sub.count_min is not None
            # implicit minimum follows start=: a page beginning at
            # `start` requires start+1 matches
            # (ref graphd-semantic.c:740-743)
            else (sub.start or 0) + 1
        )
        need_payload = not exists_only and (
            (_DEFAULT_SHOWS_CONTENTS if parent.result is None
             else pattern_shows_contents(parent.result, parent))
            or _deep_assignments(sub)
        )
        child = self.set_plan(sub, not need_payload)
        counting = (
            sub.count_eq not in (None, 0) or sub.count_max is not None
            or count_min > 1
        )
        if not branch and not need_payload and not counting:
            mode = (
                "anti" if sub.count_eq == 0
                else "semi" if count_min >= 1 else "skip"  # skip: optional
            )
            return SubPlan(mode, child, sub=sub, count_min=count_min)
        self.n += 1
        if sub.count_eq is not None:
            bounds = (("=", sub.count_eq),)
        else:
            bounds = ((">=", count_min),) if count_min > 0 else ()
            if sub.count_max is not None:
                bounds += (("<=", sub.count_max),)
        return SubPlan(
            "agg", child, cnt_col=f"n{self.n}", arr_col=f"c{self.n}",
            sub=sub, count_min=count_min,
            outer=branch or count_min == 0 or sub.count_eq == 0,
            lo=sub.start or 0, rps=result_pagesize(sub), bounds=bounds,
            branch=branch,
        )

    def branch(self, b: Constraint, plan: SetPlan) -> BranchPlan:
        subs = []
        for sub in b.subs:
            sp = self.sub(sub, b, False, True)
            plan.or_sub_plans.append(sp)
            subs.append(sp)
        chains = [
            None if all(intrinsic_branch(x) for x in ch)
            else [self.branch(x, plan) for x in ch]
            for ch in b.or_chains
        ]
        return BranchPlan(b, subs, chains, _slots(b, subs, [
            None if ibs is None else [s for x in ibs for s in x.slots]
            for ibs in chains
        ]))

    def chain(self, chain: list, plan: SetPlan) -> Optional[ChainPlan]:
        """An or-chain: a row matches if any branch accepts it, and the
        FIRST matching branch's bindings and contents slots apply (with
        '|' too: the reference evaluates branches in order).  Nested
        chains recurse: a nested branch binds only when every branch on
        its path is its chain's first match (probed, round 9).  None
        for an intrinsic chain."""
        if all(intrinsic_branch(b) for b in chain):
            return None
        cp = ChainPlan([self.branch(b, plan) for b in chain])
        flat = []
        for bp in cp.branches:
            paths = list(_paths(bp)) if any(bp.chains) else [((bp,), bp)]
            if bp.subs:
                # the branch's own subs share one flag; a nested
                # branch's subs gate on their own path
                col = self.col()
                for sp in bp.subs:
                    sp.eff_col = col
                cp.guards.append(((bp,), col, None))
            for path, x in paths[1:]:
                for sp in x.subs:
                    sp.eff_col = self.col()
                    cp.guards.append((path, sp.eff_col, None))
            for path, x in paths:
                for sp in x.subs:
                    child = sp.plan
                    for var, vcol in child.var_cols.items():
                        kind = child.var_kinds[var]
                        flat.append((var, Case(path, kind, sp, vcol, None)))
                        plan.var_kinds.setdefault(var, kind)
                    for var, pat in child.pending_pattern_vars:
                        # the set-shaped var's array, null unless the
                        # path wins
                        col = self.col()
                        cp.guards.append((path, col, sp.arr_col))
                        plan.var_patterns[var] = (
                            child, col, sp.cnt_col, pat
                        )
                        plan.var_cols.pop(var, None)
                        plan.var_kind_cols.pop(var, None)
                for var, pat in x.con.assignments:
                    # a set-shaped branch assignment binds nothing
                    field = SCALAR_FIELDS.get(pat.kind)
                    if field is not None or pat.kind == "literal":
                        flat.append((var, Case(
                            path, pat.kind, None, field, pat.literal
                        )))
                        plan.var_kinds.setdefault(var, pat.kind)
        cases: dict = {}
        for var, case in flat:
            cases.setdefault(var, []).append(case)
        for var, cl in cases.items():
            vcol = self.col()
            kcol = self.col() if len({c.kind for c in cl}) > 1 else None
            cp.cases[var] = (vcol, kcol, cl)
            plan.var_cols[var] = vcol
            if kcol is not None:
                plan.var_kind_cols[var] = kcol
        cp.slots = [s for bp in cp.branches for s in bp.slots]
        return cp


def _slots(con: Constraint, subs: list, chain_slots: list) -> list:
    """``con``'s contents slots in parse order: its subs, and the slots
    of its chains as written (an intrinsic chain has none)."""
    if not chain_slots:
        return list(subs)
    slots = []
    n_sub = n_chain = 0
    for kind, _item in con.ordered_clauses():
        if kind == "sub":
            slots.append(subs[n_sub])
            n_sub += 1
        else:
            slots.extend(chain_slots[n_chain] or ())
            n_chain += 1
    return slots
