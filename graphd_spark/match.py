"""A read constraint's intrinsic match, bound once for both evaluators.

Each read constraint is a conjunction of predicates over one primitive
(SURVEY.md §2.3).  :func:`bind` resolves a constraint's intrinsic
clauses against the store and type system once (type names to lineage
guids, guid~= lineages, next= predecessors, timestamp bounds to id
bounds, literals to comparator keys) and returns a small tree of tests
over named primitive fields.  The compiler renders the tree as a Spark
Column (``compiler._column``), the serving fast path as a Python check
(``fastread._check``): one semantics, two executors.

Fields are the primitive's stored fields (``"name"``, ``"value_fkey"``,
``"typeguid_lin"``, ``"id"``...) or derived ones: ``("lower", f)`` is
``f`` case-folded and ``("key", f, comparator)`` is ``f``'s sort key
under the comparator (``comparators.literal_key``).  Every leaf states
its result on a null field, so neither rendering relies on SQL's
three-valued logic: :class:`In` and :class:`Cmp` carry ``null``;
:class:`Bin`, :class:`Glob` and :class:`Delim` are false on a null
field.

The module also holds the pure constraint algebra both evaluators
share: the guid and string set play-offs (``guid_sets``,
``merged_strcons``), the iterator-level string test
(``_strcon_is_bin``), the intrinsic or-branch test
(``intrinsic_branch``) and the timestamp envelope.
"""

from __future__ import annotations

from collections import namedtuple
from functools import lru_cache
from typing import Any, Optional

from graphd_spark.comparators import (
    datetime_scan_order,
    decode_number,
    fuzzy_key,
    literal_key,
    number_bin_lookup,
    number_scan_order,
    resolve_comparator,
    string_bin_order,
    value_eq,
    value_norm_key,
)
from graphd_spark.gql.ir import FALSE, TRUE, StrCon
from graphd_spark.model import ts_from_string
from graphd_spark.pattern import GraphdError

RANGE_OPS = ("<", "<=", ">", ">=")

#: a Bin leaf's order: a value's position in the comparator's range
#: scan, None when the scan never surfaces it
SCAN_ORDERS = {
    "string": string_bin_order,
    "number": number_scan_order,
    "datetime": datetime_scan_order,
}


# -- the tree ----------------------------------------------------------------
#
# Renderers dispatch on the node type.  Leaves:
#: ``field`` is one of ``values``; ``null`` on a null field
In = namedtuple("In", "field values null", defaults=(False,))
#: ``field op lit`` (= != < <= > >=); ``null`` on a null field
Cmp = namedtuple("Cmp", "field op lit null", defaults=(False,))
#: ``field`` surfaces in a comparator's range scan (``order``: a
#: SCAN_ORDERS key) and, with ``op``, its scan position is ``op bound``
Bin = namedtuple("Bin", "order field op bound", defaults=(None, None))
#: ``field`` matches the word glob ``pattern``
Glob = namedtuple("Glob", "field pattern case_sensitive")
#: ``field`` matches the datetime comparator's delimited ``pattern``
Delim = namedtuple("Delim", "field pattern")
#: the distance from the lineage's newest version is ``op n``
Newest = namedtuple("Newest", "op n")
Const = namedtuple("Const", "value")
# connectives
And = namedtuple("And", "parts")
Or = namedtuple("Or", "parts")
Not = namedtuple("Not", "part")

TRUE_ = Const(True)
FALSE_ = Const(False)
_LIVE, _ARCHIVAL = In("live", (True,)), In("archival", (True,))
_NEWEST = Newest("=", 0)


def _and(parts) -> Any:
    parts = tuple(parts)
    return parts[0] if len(parts) == 1 else And(parts) if parts else TRUE_


def _or(parts) -> Any:
    parts = tuple(parts)
    return parts[0] if len(parts) == 1 else Or(parts) if parts else FALSE_


# -- the binder --------------------------------------------------------------

def bind(store, types, con, in_branch: bool = False,
         iter_level: bool = False, generation: bool = True):
    """``con``'s intrinsic clauses as one test tree, in the compiled
    filter's conjunct order.

    ``in_branch``: an or-branch, whose timestamps are checks only (no
    iterator compiles for a branch, so no id bound applies; or-chain
    fuzz seed 1151).  ``iter_level``: the clauses the reference
    compiles into the constraint's iterator tree, which its sub-cursor
    pre-evaluation applies to raw primitives: no prev/next, no
    generation test, only the string constraints with a bin
    (``_strcon_is_bin``), and a value range that is the only producer
    scans whole bins (probed round 8).  ``generation=False`` leaves
    out the generation test at any level.

    Raises GraphdError for a timestamp that does not parse (SYNTAX)
    and for ``~=`` under the number comparator or an unknown operator
    (SEMANTICS)."""
    if con.false:
        return FALSE_
    tests: list = []
    if con.live == TRUE:
        tests.append(_LIVE)
    elif con.live == FALSE:
        tests.append(Not(_LIVE))
    if con.archival == TRUE:
        tests.append(_ARCHIVAL)
    elif con.archival == FALSE:
        tests.append(Not(_ARCHIVAL))
    # meta markers never filter at match time: GRAPHD_META_NODE is
    # read only by constraint-to-string, and the matcher has no meta
    # check (graphd-match.c; differential seed 4 — the reference
    # answers `node left->(...)` with left-links).  The metas act
    # earlier, as linkage-defaulting hints in the semantic pass
    # (graphd-semantic.c:677-720) and write shaping; a parentless '->'
    # matches nodes too (test/unit/nullguid2.sh).
    if con.dateline is not None:
        tests.append(_dateline(con.dateline))
    if con.guid:
        tests.append(_guids(store, "guid", con.guid))
    for lk, gcs in con.links.items():
        if gcs:
            tests.append(_guids(store, lk, gcs))
    if not iter_level:
        # prev/next are lineage-generational: acceptance-level only,
        # they never pre-evaluate (probed round 8).  Empty-set cons
        # are the consumed prev=null/next=null rewrite markers
        # (parser._normalize_version_pointers): they sign "=()" in
        # cursor envelopes but carry no match semantics
        live_prev = con.prev and [gc for gc in con.prev if gc.guids]
        if live_prev:
            tests.append(_guids(store, "prev", live_prev))
        for gc in con.next:
            if gc.guids:
                tests.append(_next(store, gc))

    # value-comparator overrides matching only (david_8.sh)
    match_comp = con.value_comparator or con.comparator
    comp = resolve_comparator(match_comp)
    tscs, nscs, vscs = (
        con.type_strcons, con.name_strcons, con.value_strcons
    )
    producer = False
    if iter_level:
        # check-only string constraints (no hmap/prefix/vrange bins)
        # never enter the pre-evaluated set
        tscs, nscs, vscs = (
            [sc for sc in scs if _strcon_is_bin(sc)]
            for scs in (tscs, nscs, vscs)
        )
        # a value RANGE is the producer only when no other bin
        # predicate (type/name/value equality or prefix) can produce
        producer = all(
            sc.op in RANGE_OPS for scs in (tscs, nscs, vscs) for sc in scs
        )
    for sc in merged_strcons(tscs, match_comp):
        tests.append(_type(store, types, sc))
    for sc in merged_strcons(nscs, match_comp):
        tests.append(_string("name", sc.op, tuple(sc.values), comp, False))
    for sc in merged_strcons(vscs, match_comp):
        tests.append(
            _string("value", sc.op, tuple(sc.values), comp, producer)
        )

    if con.valuetype is not None:
        tests.append(Cmp("datatype", "=", con.valuetype))
    if con.timestamps:
        # one inclusive [min, max] envelope, NOT per-op row predicates
        # — ops fold in parse order with the reference's quirks
        try:
            tmin, tmax, ts_false = timestamp_envelope(con)
        except ValueError as e:
            raise GraphdError(
                "SYNTAX", f"cannot parse timestamp {e.args[0]!r}"
            )
        if ts_false:
            tests.append(FALSE_)
        else:
            if tmin is not None:
                tests.append(Cmp("timestamp", ">=", tmin))
            if tmax is not None:
                tests.append(Cmp("timestamp", "<=", tmax))
    if con.timestamps and not in_branch:
        # timestamp bounds ALSO compile to id-range datelines via a
        # bsearch that assumes timestamp order
        # (graphd_read_compile_timestamps, graphd-read.c:300-420;
        # graphd-timestamp.c:46).  Explicit timestamp= writes break
        # monotonicity, so the id bound can exclude rows the row test
        # matches — probed: ts>0 skips an out-of-order stamp below the
        # boundary id
        tmin, tmax = timestamp_bounds(con)
        if tmin is not None and tmin > 0:
            b = store.timestamp_to_id(tmin, "ge")
            tests.append(FALSE_ if b is None else Cmp("id", ">=", b))
        if tmax is not None:
            b = store.timestamp_to_id(tmax, "le")
            tests.append(FALSE_ if b is None else Cmp("id", "<", b + 1))

    if generation and not iter_level:
        # default newest=0 — only current versions match (ref
        # graphd/graphd.h:458-472).  A next= constraint naming a real
        # successor implies non-newest candidates, so it lifts the
        # default (test/unit/guid2.sh: next=G finds the versioned
        # predecessor)
        if con.gens:
            for g in con.gens:
                tests.append(
                    Newest(g.op, g.n) if g.field == "newest"
                    else Cmp("generation", g.op, g.n)
                )
        elif not con.next or not any(
            g is not None for gc in con.next for g in gc.guids
        ):
            tests.append(_NEWEST)
    return _and(tests)


def _dateline(dl):
    """dateline OP "db.count": an id-horizon test with the reference's
    <=-is-< / >-is->= collapses (graphd/graphd-dateline.c); an
    unparseable count matches nothing."""
    op, text = dl
    _db, _, count = text.strip().lower().rpartition(".")
    try:
        n = int(count, 16)  # dateline counts are hexadecimal
    except ValueError:
        return FALSE_
    return Cmp("id", {"<=": "<", ">": ">="}.get(op, op), n)


def _guids(store, field, gcs):
    """guid_sets' merge of one field's guid constraints."""
    include, standalone, excludes = guid_sets(store, gcs)
    tests = []
    for s in ([include] if include is not None else []) + standalone:
        tests.append(
            In(field, tuple(g for g in s if g is not None), None in s)
        )
    for ex in excludes:
        # standalone '!=': the linkage must exist and differ
        tests.append(Not(In(field, tuple(ex), True)))
    return _and(tests)


def _next(store, gc):
    """next=G: this primitive's successor is G <=> G.prev == guid;
    next~=G widens to the whole lineage of G (any member's prev — ref
    test/unit/guid2.sh); next=null: no successor."""
    prevs = []
    for g in gc.guids:
        if g is None:
            continue
        targets = [g]
        if gc.op == "~=":
            p = store.get(g)
            if p is not None:
                targets = store.lineage_members(p.lineage)
        for t in targets:
            tp = store.get(t)
            if tp is not None and tp.prev is not None:
                prevs.append(tp.prev)
    newest = _NEWEST
    if gc.op in ("=", "~="):
        tests = [In("guid", tuple(prevs))] if prevs else []
        if None in gc.guids:
            tests.append(newest)
        return _or(tests)
    tests = [Not(newest)]  # must have a successor
    if prevs:
        tests.append(Not(In("guid", tuple(prevs))))
    return _and(tests)


def _type(store, types, sc):
    """type="name": names bind to typeguids pre-plan (ref
    graphd-read.c:36-135); matching is lineage-canonical.  Every
    operator but '=' tests difference."""
    guids = []
    for nm in sc.values:
        if nm is not None:
            g = types.resolve(nm)
            if g is not None:
                p = store.get(g)
                guids.append(p.lineage if p is not None else g)
    test = In("typeguid_lin", tuple(guids), None in sc.values)
    if sc.op == "=":
        return test
    return Not(test)


@lru_cache(maxsize=1024)
def _string(field, op, values, comp, producer):
    """One merged name/value string constraint ``field op values``
    under the resolved comparator ``comp``; ``producer``: an
    iterator-level value range with no other bin to produce it.  A
    pure function of its arguments, kept for the literals a serving
    workload repeats (the comparator keys cost microseconds)."""
    is_value = field == "value"
    nonnull = [v for v in values if v is not None]
    has_null = len(nonnull) < len(values)
    is_null = In(field, (), True)
    # the equality key per comparator:
    # - default: fuzzy-key equality (word-aware, numbers normalize;
    #   validated by test/unit/numberequal r1/r8) via value_fkey
    # - number/datetime: hash-normalized equality
    # - case/octet: exact bytes; otherwise case-folded
    if is_value and comp == "default":
        eq, keys = "value_fkey", [fuzzy_key(v) for v in nonnull]
    elif is_value and comp == "number":
        # strict: only parseable numbers equal a number literal
        eq, keys = "value_num", [
            value_norm_key(v)
            if decode_number(v, scientific=True) is not None
            else v.lower()
            for v in nonnull
        ]
    elif is_value and comp == "datetime":
        eq, keys = "value_norm", [value_norm_key(v) for v in nonnull]
    elif comp in ("case", "octet"):
        eq, keys = field, nonnull
    else:
        eq, keys = ("lower", field), [v.lower() for v in nonnull]

    if op == "=":
        tests = []
        if is_value and "" in nonnull:
            # value="" also finds string-datatype primitives whose
            # value is stored null (test/unit/nullvalue.sh); the
            # literal keeps matching stored empty/whitespace values
            # through the regular comparator path (david_6.sh)
            tests.append(And((is_null, Cmp("datatype", "=", 2))))
        if nonnull and is_value and comp == "default":
            # candidates come from the value-hash bucket, then check
            # with the fuzzy comparison (ref comparator_default_
            # iterator GRAPHD_OP_EQ + vrange_check_value; numberequal
            # r8: ' 1' fuzzy-equals '1' but hashes as '1', not '1e0',
            # so it never surfaces) — both must match
            tests.extend(
                And((Cmp("value_fkey", "=", k),
                     Cmp("value_norm", "=", value_norm_key(v))))
                for k, v in zip(keys, nonnull)
            )
        elif nonnull:
            tests.append(In(eq, tuple(keys)))
        if has_null:
            tests.append(is_null)
        return _or(tests)
    if op == "!=":
        if not nonnull and not has_null:
            # != () — the empty exclusion set still demands the field
            # exist (ref test/unit/ne.sh 'name!=()')
            return Not(is_null)
        # '!=' is a check only (no hash-bucket iterator), so only the
        # comparator's equality applies: ' 1' equals '1' by default.
        # A null field, or a value with no comparator key (a
        # non-number under comparator="number"), differs from every
        # non-null literal — value!="x" matches unvalued primitives
        # exactly like name!=/type!= match unnamed ones (reference
        # behavior, verified via differential probes)
        tests = [Not(In(eq, tuple(keys)))] if nonnull else []
        if has_null:
            tests.append(Not(is_null))
        return _and(tests)
    if op in RANGE_OPS:
        # range under the comparator's ordering: compare
        # order-preserving sort keys (null values never match — the
        # reference's vrange iterators scan value indexes, which don't
        # contain nulls)
        if not nonnull:
            return FALSE_
        lit = nonnull[0]
        up = op in (">", ">=")
        lo_bin = (
            number_bin_lookup(lit) if is_value and comp == "number"
            else None
        )
        if producer and is_value and comp == "default":
            # ITERATOR-level vrange membership when the range IS the
            # producer: the scan covers whole string bins up to (from)
            # the bound's bin and the exact comparison is an
            # acceptance-level refinement (probed round 8:
            # `value<"b"` pre-evaluates "b" — same bin — but not "ban"
            # — the next bin).  With another bin as producer the range
            # is an and-CHECK at the comparator's fuzzy order
            # (writepaged seed 125: `value>="12" value="12"` keeps
            # "+12")
            b = Bin("string", field, ">=" if up else "<=",
                    string_bin_order(lit))
            return Or((b, is_null)) if up else b  # the null tail
        if producer and comp == "number" and lo_bin is not None:
            return _number_bins(field, up, lo_bin)
        key = (
            "value_fkey" if is_value and comp == "default"
            else ("key", field, comp)
        )
        test = Cmp(key, op, literal_key(lit, comp))
        if is_value and comp == "datetime":
            # datetime ranges enumerate the three date bin segments
            # only (negative years / years / times, ref
            # datetime_inc/dec/skip) — values outside them (and nulls)
            # never surface
            return And((test, Bin("datetime", field)))
        if comp == "number":
            if lo_bin is None:
                # literal doesn't decode: the reference builds no
                # vrange (ENOTSUP); only parseable numbers match —
                # number keys sort below the \x02 non-number class
                return And((test, Cmp(key, "<", b"\x02")))
            # enumeration = bins from/to the literal's bin; each bin's
            # value-hash bucket can carry non-numbers whose
            # normalization collides with the boundary's canonical
            # string (' 0' -> '0', ref number_vrange_it_next +
            # pdb_hash_number_iterator; test numberequal r6)
            return And((test, _number_bins(field, up, lo_bin)))
        if is_value and up:
            # null values compare greater than any string under the
            # default ordering (graph_fuzzycmp NULL rule), so they
            # satisfy > ranges (ref test/unit/david_5.sh)
            return Or((test, is_null))
        return test
    if op == "~=":
        if comp == "number":
            raise GraphdError(
                "SEMANTICS", 'cannot use ~= with comparator="number"'
            )
        # value~=null matches null values (test/unit/nullvalue.sh);
        # date patterns match with the delimiter-aware matcher, not
        # the word glob (ref delimited_string_match; test datetime-2)
        cs = comp in ("case", "octet")
        return _or(([is_null] if has_null else []) + [
            Delim(field, v) if is_value and comp == "datetime"
            else Glob(field, v, cs)
            for v in nonnull
        ])
    raise GraphdError("SEMANTICS", f"unsupported operator {op!r}")


def _number_bins(field, up: bool, lo_bin: int) -> Bin:
    """The number scan from (``up``) or to the literal's bin."""
    return Bin("number", field, ">=" if up else "<=",
               2 * lo_bin if up else 2 * lo_bin + 1)


# -- constraint algebra ------------------------------------------------------

def merged_strcons(scs, comparator):
    """String constraints merge like guid sets when an '=' include
    set exists (ref graphd-string-constraint.c set play-off, test
    guidlist2): '=' sets intersect, '!=' subtracts from the include,
    and a null-only '~=' reduces the include to its null member.
    Other operators keep AND semantics."""
    eqs = [sc for sc in scs if sc.op == "="] if len(scs) > 1 else ()
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


def expand_lineage(store, guids) -> list:
    """All version GUIDs of the listed guids' lineages (~= match)."""
    out: list[str] = []
    for g in guids:
        p = store.get(g)
        if p is not None:
            out.extend(store.lineage_members(p.lineage))
    return out


def guid_sets(store, gcs) -> tuple:
    """All guid constraints on one column, merged with the reference's
    set algebra (ref graphd-guid-constraint.c:150-330), as ``(include,
    standalone, excludes)``: a value matches when it is in ``include``
    (None: no include set) and in every ``standalone`` set, and is
    not null and outside every ``excludes`` set.  '=' sets intersect,
    '~=' expands lineages (null expands to null; an empty/null-only
    match equals =null) and intersects an existing include set, and
    '!=' subtracts from the include set when one exists — so
    =(G null) != (G) keeps the null member (test/unit/guidlist3.sh).
    A standalone '~=' or '!=' keeps its own set."""
    include: Optional[set] = None
    standalone = []
    excludes = []
    for gc in gcs:
        if gc.op == "=":
            s = set(gc.guids)
            include = s if include is None else (include & s)
        elif gc.op == "~=":
            nonnull = [g for g in gc.guids if g is not None]
            if not nonnull:
                s = {None}  # ~=() / ~=null reduces to =null
            else:
                s = set(expand_lineage(store, nonnull))
                if len(nonnull) < len(gc.guids):
                    s.add(None)
            if include is None and nonnull:
                standalone.append(s)
            else:
                include = s if include is None else (include & s)
        else:
            excludes.append(gc.guids)
    if include is not None:
        for ex in excludes:
            include -= set(ex)
        return include, standalone, []
    return include, standalone, [
        {g for g in ex if g is not None} for ex in excludes
    ]


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


def intrinsic_branch(b) -> bool:
    """An or-branch whose match is intrinsic: no subs or assignments,
    nor below it — its nested chains fold into a disjunction (probed:
    the reference answers `{ { A | B } | C }` as A|B|C row-wise)."""
    return not b.subs and not b.assignments and all(
        intrinsic_branch(x) for ch in b.or_chains for x in ch
    )


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
        return None, None  # the row-test binder reports it
    if false:
        return 1, 0
    return tmin, tmax
