"""Reference-format read cursors: signature, checksum, freeze/thaw.

The reference hands out cursors of the form ``cursor:XXXX:<body>``
where ``<body>`` is ``[o:<offset>][n:<horizon>]`` + the frozen state
of the read's iterator, and ``XXXX`` is a 16-bit rotate-xor checksum
of the constraint's canonical *signature* xor the body's checksum
(ref graphd/graphd-constraint-cursor.c:238-262, checksum
libcm/cm-buffer.c:271-288).  A resumed read validates the checksum
against its own signature (same query => same signature), so cursors
can't be replayed against a different query
(graphd-constraint-cursor.c:90-185; test/unit/cursor5.sh).

Iterator freeze bodies handled here:

- ``all:LOW-HIGH/POS/``                 plain id scan
  (libpdb/pdb-iterator-all.c freeze format)
- ``fixed:N:id1,...,idN[/POS/]``        materialized id set
  (graphd/graphd-iterator-fixed.c)
- ``without:(all:L-H)#(any-value)/POS/<state>``   subtractive scan
  (graphd/graphd-iterator-without.c)
- ``gmap:LOW-HIGH:L->SRC/POS/``         linkage index scan, L the
  linkage's first letter (t/l/r/s) and SRC the source's local id;
  POS counts index elements consumed (libpdb/pdb-iterator-gmap.c:339,
  tests will5, brendan4)

- ``and:#L-H:N:[opts](SUB)...(SUB)[pro:P]/POS[pp:..]/@STAMP``
  multi-index intersection; POS is the last delivered candidate
  (graphd/graphd-iterator-and-freeze.c; test slip)
- ``isa:L-H:LK<-(SUB)/POS:~-[sp:N]/STATE``   linkage expansion with
  frozen statistics (graphd/graphd-iterator-isa.c; test isa)
- ``or:(or-linksto:...)/POS/@STAMP``   links-to expansion wearing the
  or masquerade (graphd/graphd-iterator-linksto.c:3610)
- ``fixed:(fixed-isa:...)/POS/[cache:@STAMP]``   masqueraded fixed
  set (test colors3)

POS is the iterator position: the next candidate id for scans, the
next list index for fixed sets, the last delivered id for and/or/isa.
Unrecognized bodies with a known engine prefix (vrange:, ...) resume
leniently through the position heuristics in the compiler; everything
else is the reference's "cannot parse old-style cursor" BADCURSOR.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from graphd_spark.gql.ir import Constraint, GenCon, Pattern, StrCon
from graphd_spark.model import DATATYPE_NAMES, guid_serial, ts_from_string
from graphd_spark.pattern import GraphdError


_HEX = frozenset("0123456789abcdefABCDEF")


def _xx_decode(s: str) -> str:
    """Inverse of pdb_xx_encode (libpdb/pdb-util.c:70+): %xx escapes
    are single BYTES of the UTF-8 form, so collect bytes first and
    decode once.  A '%' followed by two chars that are not both strict
    hex digits is a syntax error (pdb_xx_decode returns
    PDB_ERR_SYNTAX; int() alone would accept '+f' / ' f'); a '%' with
    fewer than two chars left passes through literally, as in the
    reference."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        if s[i] == "%" and i + 2 < n:
            a, b = s[i + 1], s[i + 2]
            if a not in _HEX or b not in _HEX:
                raise BadCursor(
                    f'expected two hex digits after %, got "{s[i:i + 3]}"'
                )
            out.append(int(a + b, 16))
            i += 3
            continue
        out.extend(s[i].encode("utf-8", "surrogateescape"))
        i += 1
    return out.decode("utf-8", "surrogateescape")


def checksum16(s: str) -> int:
    """cm_buffer_checksum_text with 16 bits: xor a byte, rotate by 1."""
    x = 0
    for b in s.encode("utf-8", "surrogateescape"):
        x = (x ^ b) & 0xFFFF
        x = 0xFFFF & ((x << 1) | (1 & (x >> 15)))
    return x


# -- constraint signature (ref graphd-constraint-signature.c) -------------

_PAT_LABELS = {
    "value": "value", "name": "name", "guid": "guid", "type": "type",
    "typeguid": "typeguid", "left": "left", "right": "right",
    "scope": "scope", "meta": "meta", "live": "live",
    "archival": "archival", "datatype": "datatype",
    "valuetype": "valuetype", "generation": "generation",
    "timestamp": "timestamp", "contents": "contents", "count": "count",
    "cursor": "cursor", "estimate": "estimate",
    "estimate-count": "estimate-count", "iterator": "iterator",
    "timeout": "timeout", "previous": "previous", "next": "next",
    "unspecified": "unspecified",
}


def pattern_to_string(pat: Optional[Pattern]) -> str:
    """graphd_pattern_to_string: lists join with ", " (sic)."""
    if pat is None:
        return "null"
    prefix = "-" if pat.negated else ""
    if pat.kind == "list":
        return (
            prefix + "("
            + ", ".join(pattern_to_string(c) for c in pat.children)
            + ")"
        )
    if pat.kind == "pick":
        return (
            prefix + "<"
            + ", ".join(pattern_to_string(c) for c in pat.children)
            + ">"
        )
    if pat.kind == "none":
        return prefix + '""'
    if pat.kind == "literal":
        return prefix + f'"{pat.literal or ""}"'
    if pat.kind == "variable":
        return prefix + (pat.var or "")
    return prefix + _PAT_LABELS.get(pat.kind, pat.kind)


def _strcon_sig(name: str, sc: StrCon, write_values: bool) -> str:
    """graphd_string_constraint_to_signature: value constraints omit
    their text; a bare null has no elements and renders "null"."""
    op = sc.op
    vals = sc.values
    if vals == [None]:
        # value=null / name=null parse with no string elements
        return f"{name}{op}null"
    if len(vals) == 1 or not write_values:
        v = vals[0]
        if v is None:
            return f"{name}{op}(null)"
        if write_values:
            return f'{name}{op}"{v}"'
        return f'{name}{op}"..."'
    items = " ".join('null' if v is None else f'"{v}"' for v in vals)
    return f"{name}{op}({items})"


def _sep(parts: list[str], frag: str) -> None:
    """seperate() + append: space-separate unless after ( = or space."""
    if parts and parts[-1] and parts[-1][-1] not in "(= \t":
        parts.append(" ")
    parts.append(frag)


#: pdb_linkage_to_string (libpdb/pdb-linkage.c:21): the typeguid
#: linkage's display name is "type", which is what signatures print
_LINKAGE_NAMES = {"typeguid": "type"}


class _GC:
    """Merged guid-set view used only for signature rendering."""

    __slots__ = ("op", "guids")

    def __init__(self, op, guids):
        self.op = op
        self.guids = guids


def _typeguid_guidcons(con: Constraint, resolve) -> list:
    """type= strcons resolve to typeguid guid sets at read time (ref
    graphd-read.c graphd_read_convert_types: the strcons are dropped
    and merged into the typeguid accumulator, match/include/exclude —
    graphd-guid-constraint.c graphd_guid_constraint_merge), so the
    cursor signature prints "type=<guid>", never the type name
    (calibrated against will5/brendan4 checksums)."""
    match = None
    include = None
    exclude: list = []

    def merge(op, gs):
        nonlocal match, include
        if op == "~=":
            match = gs if match is None else [
                g for g in match if g in gs
            ]
        elif op == "=":
            include = gs if include is None else [
                g for g in include if g in gs
            ]
        elif op == "!=":
            exclude.extend(gs)

    for gc in con.links.get("typeguid", []):
        merge(gc.op, list(gc.guids))
    for sc in con.type_strcons:
        gs = []
        for nm in sc.values:
            if nm is None:
                gs.append(None)
                continue
            g = resolve(nm)
            if g is not None:
                gs.append(g)
        merge(sc.op, gs)
    out = []
    if match is not None:
        out.append(_GC("~=", match))
    if include is not None:
        out.append(_GC("=", include))
    if exclude:
        out.append(_GC("!=", exclude))
    return out


def constraint_signature(con: Constraint, resolve=None,
                         asof: bool = False) -> str:
    """Canonical signature of a constraint subtree (checksum input).

    Ports the field order and renderings of graphd_constraint_signature
    with GRAPHD_SIGNATURE_OMIT_CURSOR (the cursor= field never signs
    itself).  Calibrated byte-for-byte against the checksums in
    test/unit/{cursor1,cursor5,without,infcur,will5,brendan4}.out.exp.

    ``resolve`` maps a type name to its typeguid; when given, type=
    strcons sign as resolved "type=<guid>" linkage constraints the way
    the read path sees them (graphd-read.c convert_types).
    """
    parts: list[str] = []
    _signature(con, parts, resolve, asof)
    return "".join(parts)


def _var_used_in(node, v: str) -> bool:
    pats = [q for _, q in node.assignments]
    if node.result is not None:
        pats.append(node.result)
    if node.sort:
        pats.extend(sk.pattern for sk in node.sort)
    return any(
        p.kind == "variable" and p.var == v
        for q in pats
        for p in q.walk()
    )


def _keeps_sub_results(con: Constraint, keep_result: bool) -> bool:
    """gva_remove_unused_results gate: a con_head owner whose
    patterns never sample ``contents`` has every sub's result=
    REMOVED before the signature runs (the signed fallback is the
    NULL-pattern "result=()"), and the removal cascades — a sub
    whose own (possibly removed) patterns lack contents drops its
    children's results in turn.  A root without result= carries the
    default read pattern, which samples contents.  Calibrated round
    9 (cursor seed 4323: an inner-branch cursor sub under a
    contents-less root signs "result=()" + its pagesize, not the
    cursor-bearing result pattern)."""
    pats = [q for _, q in con.assignments]
    if con.result is not None and keep_result:
        pats.append(con.result)
    elif con.result is None and con.parent is None:
        return True  # default read pattern samples contents
    if con.sort:
        pats.extend(sk.pattern for sk in con.sort)
    return any(
        p.kind == "contents" for q in pats for p in q.walk()
    )


def _signature(con: Constraint, parts: list[str], resolve=None,
               asof: bool = False, ancestors=(),
               keep_result: bool = True) -> None:
    if con.parent is not None and con.linkage is not None:
        kind, lk = con.linkage
        lk = _LINKAGE_NAMES.get(lk, lk)
        if kind == "iam":
            _sep(parts, f"{lk}->(")
        else:
            _sep(parts, f"(<-{lk}")
    elif con.parent is not None:
        _sep(parts, "(")

    if resolve is None:
        for sc in con.type_strcons:
            _sep(parts, _strcon_sig("type", sc, True))
    for sc in con.name_strcons:
        _sep(parts, _strcon_sig("name", sc, True))
    for sc in con.value_strcons:
        _sep(parts, _strcon_sig("value", sc, False))

    if con.valuetype is not None:
        _sep(parts, f"datatype={DATATYPE_NAMES.get(con.valuetype, con.valuetype)}")

    # flags: archive defaults dontcare, live defaults true; unspecified
    # never prints
    if con.archival not in ("unspecified", "dontcare"):
        _sep(parts, f"archive={con.archival}")
    if con.live not in ("unspecified", "true"):
        _sep(parts, "live=*" if con.live == "dontcare" else f"live={con.live}")

    if con.result is not None and keep_result:
        # the implicit default result pattern never signs (it compares
        # pointer-equal to graphd_pattern_read_default and is skipped)
        _sep(parts, f"result={pattern_to_string(con.result)}")
    elif con.parent is not None and not (
        keep_result and con.result is None
    ):
        # a sub whose result was REMOVED as unused (parent samples no
        # contents; gva_remove_unused_results), and a result-less sub
        # under a contents-LESS parent, sign the NULL-pattern
        # fallback (calibrated against cursor3/cursor4 checksums); a
        # result-less sub under a CONTENTS parent default-fills with
        # graphd_pattern_read_default, which never signs (round-9
        # matrix: d2-nocur under a contents root)
        _sep(parts, "result=()")

    if con.sort is not None:
        # the semantic layer appends the decisive guid tiebreak to
        # every sort, so sort=() signs as "sort=(guid)" (calibrated
        # against test/unit/sort3.out.exp checksums)
        bare = None
        if getattr(con, "sort_bare", False) and len(con.sort) == 1:
            s0 = pattern_to_string(con.sort[0].pattern)
            if con.sort[0].descending and not s0.startswith("-"):
                s0 = "-" + s0
            if s0 in ("guid", "-guid"):
                # a bare guid/-guid key needs no tiebreak append, so
                # it never listifies and signs unparenthesized
                # (probed: cursor fuzz seed 335's pagesize=0
                # sort=guid probe checksums over "sort=guid")
                bare = s0
        if bare is not None:
            _sep(parts, f"sort={bare}")
        else:
            items = []
            for sk in con.sort:
                s = pattern_to_string(sk.pattern)
                if sk.descending and not s.startswith("-"):
                    s = "-" + s
                items.append(s)
                if s in ("guid", "-guid"):
                    # guid is a total order: keys after it are
                    # unreachable and the semantic layer drops them
                    # (probed: sort=(-guid value) signs "sort=(-guid)")
                    break
            if not items or items[-1] not in ("guid", "-guid"):
                items.append("guid")
            _sep(parts, "sort=(" + ", ".join(items) + ")")

    is_iam = con.linkage is not None and con.linkage[0] == "iam"
    if con.countlimit is not None and con.countlimit != (
        con.pagesize or 0
    ) and (con.countlimit != 1 or not is_iam):
        _sep(parts, f"countlimit={con.countlimit}")
    if con.resultpagesize is not None and (
        (con.resultpagesize != 1 or not is_iam)
        and con.resultpagesize != (con.pagesize or 0)
        and con.resultpagesize != 1024
    ):
        _sep(parts, f"resultpagesize={con.resultpagesize}")
    if con.pagesize is not None and (con.pagesize != 1 or not is_iam):
        _sep(parts, f"pagesize={con.pagesize}")
    if con.start != 0:
        _sep(parts, f"start={con.start}")

    # generational constraints; the engine default is newest=0, which
    # signs as "newest<=0" (gencon_min == 0 prints <=max)
    # generational constraints sign as the reference's folded
    # (min, max) gencon structs (graphd-constraint-signature.c:462-
    # 468 emits a field only while gencon_valid): the newest=0
    # default applies only when NEITHER field is assigned, a bound
    # spanning the whole range (>=0) is invalidated and signs
    # nothing (graphd-guid-constraint.c:507-511), and multiple
    # bounds fold into one struct
    newest = [g for g in con.gens if g.field == "newest"]
    oldest = [g for g in con.gens if g.field == "oldest"]
    if not newest and not oldest:
        _sep(parts, "newest<=0")  # the default
    else:
        if newest:
            mn, mx = _gencon_fold(newest)
            if not (mn == 0 and mx == _GEN_MAX):
                _sep(parts, _gen_sig("newest", mn, mx))
        if oldest:
            mn, mx = _gencon_fold(oldest)
            if not (mn == 0 and mx == _GEN_MAX):
                _sep(parts, _gen_sig("oldest", mn, mx))

    for gc in con.guid:
        _sep(parts, "guid" + _guidcon_sig(gc))
    for gc in con.next:
        _sep(parts, "next" + _guidcon_sig(gc))
    for gc in con.prev:
        _sep(parts, "previous" + _guidcon_sig(gc))
    # linkage order: typeguid, right, left, scope (PDB_LINKAGE_*);
    # names per pdb_linkage_to_string ("type" for typeguid)
    for lk in ("typeguid", "right", "left", "scope"):
        name = _LINKAGE_NAMES.get(lk, lk)
        if lk == "typeguid" and resolve is not None:
            for gc in _typeguid_guidcons(con, resolve):
                _sep(parts, name + _guidcon_sig(gc))
            continue
        for gc in con.links.get(lk, []):
            _sep(parts, name + _guidcon_sig(gc))

    if con.timestamps:
        has_lo = any(t.op in (">", ">=", "=", "~=") for t in con.timestamps)
        has_hi = any(t.op in ("<", "<=", "=", "~=") for t in con.timestamps)
        if has_lo and has_hi:
            _sep(parts, "timestamp~=#..#" if not any(
                t.op == "=" for t in con.timestamps
            ) else "timestamp=#...")
        elif has_lo:
            _sep(parts, "timestamp>=#...")
        elif has_hi:
            _sep(parts, "timestamp<=#...")

    # count: lo==1 with no hi is the default and doesn't sign;
    # optional (lo==0) signs as the keyword
    lo = con.count_eq if con.count_eq is not None else con.count_min
    hi = con.count_eq if con.count_eq is not None else con.count_max
    if lo is not None or hi is not None:
        if not (hi is None and lo == 1):
            if lo == 0 and hi is None:
                _sep(parts, "optional")
            else:
                if lo is not None:
                    _sep(parts, f"count>={lo}")
                if hi is not None:
                    # (sic) the reference prints count>= twice
                    _sep(parts, f"count>={lo if lo is not None else 0}")

    # datelines sign structurally (min then max; signature_dateline,
    # graphd-constraint-signature.c:324-340); an asof= pushes a
    # dateline maximum into EVERY constraint of the tree
    # (graphd_read_compile_datelines, graphd-read.c:271-288), so
    # asof'd cursors sign "dateline<=#..." at each level
    dl_op = con.dateline[0] if con.dateline is not None else None
    if dl_op == ">":
        _sep(parts, "dateline>=#...")
    if dl_op == "<" or asof:
        _sep(parts, "dateline<=#...")

    for var, pat in con.assignments:
        # same-level aliases are fully inlined by the variable pass
        # and their assignments ERASED before signing — only a
        # variable an ANCESTOR still references keeps its assignment
        # in the signature (probed: `$c=cursor result=($c (value))`
        # checksums identically to `result=(cursor (value))`; a sub
        # `$v=value` used by the root signs and shifts the checksum).
        # The REAL parent chain is walked (not the signature walk's
        # path) because sub-level cursors sign the SUB subtree alone;
        # every surviving assignment is used same-level or above
        # (validation), so "not used above" == "inlined alias".
        anc_node = con.parent
        used = False
        while anc_node is not None and not used:
            used = _var_used_in(anc_node, var)
            anc_node = anc_node.parent
        if used:
            _sep(parts, f"{var}={pattern_to_string(pat)}")

    anc = (con,) + tuple(ancestors)
    keep_sub = _keeps_sub_results(con, keep_result)
    for sub in con.subs:
        _signature(sub, parts, resolve, asof, anc, keep_sub)
    for chain in con.or_chains:
        for b in chain:
            # or-branch INTRINSICS never sign: the reference's
            # signature walk only covers con_head, and branch
            # constraints live on the or-prototype lists — but a
            # branch's SUBCONSTRAINTS are reparented onto the
            # chain owner's parent chain (graphd-constraint-or.c:86
            # sub->con_parent = prototype->con_parent) and sign as
            # ordinary subs (calibrated: `(<-left { value="k1" |
            # value="k2" } ...)` checksums identically to the
            # chain-free sub; or-branch sub-cursor fuzz pins the
            # sub-bearing case)
            for sub in b.subs:
                _signature(sub, parts, resolve, asof, anc, keep_sub)
            for ch2 in b.or_chains:
                for b2 in ch2:
                    for sub in b2.subs:
                        _signature(
                            sub, parts, resolve, asof, anc, keep_sub
                        )

    if con.parent is not None:
        parts.append(")")


_GEN_MAX = (1 << 64) - 1  # ULONG_MAX


def _gencon_fold(gcs) -> tuple:
    """Fold our per-op GenCon list into the reference's single
    (gencon_min, gencon_max) struct."""
    mn, mx = 0, _GEN_MAX
    for g in gcs:
        if g.op == "=":
            mn = mx = g.n
        elif g.op == ">=":
            mn = g.n
        elif g.op == "<=":
            mx = g.n
        elif g.op == ">":
            mn = g.n + 1
        elif g.op == "<":
            mx = g.n - 1
    return mn, mx


def _gen_sig(field: str, mn: int, mx: int) -> str:
    """signature_gencon's valid-branch forms."""
    if mn == 0:
        return f"{field}<={mx}"
    if mx == _GEN_MAX:
        return f"{field}>={mn}"
    if mn == mx:
        return f"{field}={mn}"
    return f"{field}~={mn}..{mx}"


def _guidcon_sig(gc) -> str:
    op = gc.op
    guids = gc.guids
    if len(guids) == 0:
        return f"{op}()"
    if len(guids) == 1:
        g = guids[0]
        return f"{op}{g if g is not None else 'null'}"
    return (
        f"{op}("
        + " ".join(g if g is not None else "null" for g in guids)
        + ")"
    )


def signature_checksum(con: Constraint, resolve=None,
                       asof: bool = False) -> int:
    return checksum16(constraint_signature(con, resolve, asof))


# -- freeze / thaw ---------------------------------------------------------

#: engine iterator prefixes we don't model; their cursors resume through
#: the lenient position heuristics instead of erroring
_KNOWN_PREFIXES = (
    "and:", "or:", "vrange:", "gmap:", "hmap:", "isa:", "linksto:",
    "prefix:", "bgmap:", "null:", "sort:", "position:", "all:",
    "fixed:", "without:", "cursor:", "vip:",
)


@dataclass
class CursorState:
    form: str  # 'all' | 'fixed' | 'without' | 'other'
    offset: int = 0            # [o:] — elements already delivered
    horizon: Optional[int] = None   # [n:] — id write horizon
    pos: int = 0               # iterator position
    low: int = 0
    high: Optional[int] = None
    fixed_ids: list[int] = field(default_factory=list)
    tail: str = ""             # without-iterator internal state
    lk: str = ""               # gmap linkage letter (t/l/r/s)
    src: int = 0               # gmap source local id
    #: fixed-with-masquerade (graphd-iterator-fixed.c freeze when the
    #: set was produced by an isa expansion): the provenance string
    #: between the parens, and the cached-resource stamp if the state
    #: was saved as [cache:@STAMP] (graphd-iterator-resource.c)
    masq: str = ""
    cache_stamp: str = ""
    #: backward iterator (the '~' direction flag): a descending
    #: timestamp/guid "perfect" sort runs the producer high-to-low and
    #: freezes pos = elements consumed (graphd_sort_iterator_direction,
    #: graphd-sort.c:1704-1716; probed: sort=(-timestamp) pages freeze
    #: all:~/hmap:~/gmap:~/fixed:~ with pos == [o:])
    backward: bool = False
    #: isa-form extras: the thawed statistics triple to echo back
    #: (a resumed isa keeps its thawed stats, graphd-iterator-isa.c
    #: isa_statistics_thaw) and the dup subiterator's position
    echo: str = ""
    sd_pos: int = 0
    #: vip-form extras (the (endpoint, typeguid) combined index,
    #: libpdb/pdb-vip.c): the typeguid guid string, and the position
    #: of the nested pre-evaluated fixed state.  Probed format:
    #: ``vip:LO-HI:l+TG->SRC/POS/(fixed:N:ids/P/)`` where POS is the
    #: last consumed ID (not an element count) and P counts consumed
    #: elements of the inner fixed set.
    tg: str = ""
    inner_pos: int = 0


class BadCursor(Exception):
    def __init__(self, message: str):
        self.message = message
        super().__init__(message)


def _old_style(text: str) -> BadCursor:
    shown = text if len(text) <= 1024 else text[:1024] + "..."
    return BadCursor(f'cannot parse old-style cursor "{shown}"')


def parse_cursor(text: str, con: Constraint,
                 resolve=None, asof: bool = False) -> Optional[CursorState]:
    """Parse + validate a cursor= value.

    Returns a CursorState for the forms this engine freezes, None for
    known-but-unmodeled engine forms (caller falls back to position
    heuristics), and raises BadCursor for garbage or a checksum
    mismatch (ref graphd_constraint_cursor_thaw).
    """
    body = text
    signed: Optional[int] = None
    m = re.match(r"(?i)^cursor:([0-9a-f]{1,4}):", text)
    if m:
        body = text[m.end():]
        signed = int(m.group(1), 16)
    elif not text.lower().startswith(_KNOWN_PREFIXES):
        raise _old_style(text)
    checksum_body = body  # checksum spans the [o:][n:] prefix too

    def _validated(st: CursorState) -> CursorState:
        if signed is not None:
            expect = signature_checksum(
                con, resolve, asof
            ) ^ checksum16(checksum_body)
            if signed != expect:
                raise BadCursor(
                    f'cursor "{text}" and checksum {expect:x} '
                    "don't match"
                )
        return st

    st = CursorState(form="other")
    # leading [o:..][n:..] prefix blocks (scan_prefix)
    while body.startswith("["):
        close = body.find("]")
        if close < 0:
            break
        mm = re.match(r"\[([onON]):(\d+)\]$", body[: close + 1])
        if not mm:
            break
        if mm.group(1).lower() == "o":
            st.offset = int(mm.group(2))
        else:
            st.horizon = int(mm.group(2))
        body = body[close + 1:]

    mm = re.match(r"^all:(~?)(\d+)-(\d+)/(\d+)/$", body)
    if mm:
        st.form = "all"
        st.backward = mm.group(1) == "~"
        st.low, st.high, st.pos = (int(x) for x in mm.groups()[1:])
        return _validated(st)
    if body.startswith("and:"):
        # and-iterator: and:DLOW[-HIGH]:N:[opts](SUB)...(SUB)[pro:P]
        # /POS[pp:..]/STATE — POS is the last delivered candidate id
        # ('$' at eof); resume scans ids above it
        # (graphd-iterator-and-freeze.c:619-805)
        mm = re.match(r"^and:([+~#_-]?)(\d+)(?:-(\d+))?:(\d+):", body)
        if not mm:
            raise _old_style(text)
        st.form = "and_it"
        # '-' (and '~') mark a backward and-iterator (descending
        # perfect sorts); '#' is the forward-sorted marker
        st.backward = mm.group(1) in ("-", "~")
        st.low = int(mm.group(2))
        st.high = int(mm.group(3)) if mm.group(3) else None
        rest = body[mm.end():]
        # skip option blocks and the parenthesized subiterator sets
        depth = 0
        slash = None
        for j, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "/" and depth == 0:
                slash = j
                break
        if slash is None:
            raise _old_style(text)
        posm = re.match(r"^(\$|\d+)", rest[slash + 1:])
        if not posm:
            raise _old_style(text)
        if posm.group(1) == "$":
            st.tail = "$"  # exhausted
            st.pos = -1
        else:
            st.pos = int(posm.group(1))
        mm = re.search(r"/@([0-9a-zA-Z]+)\s*$", rest)
        if mm:
            st.cache_stamp = mm.group(1)
        return _validated(st)
    mm = re.match(
        r"^hmap:(~?)(\d+)-(\d+):pool:(name|value|word):\d+:(.*)/(\d+)/$",
        body,
    )
    if mm:
        # hash-bin iterator: key + position in the bin
        # (pdb-iterator-hmap.c:146-186)
        st.form = "hmap"
        st.backward = mm.group(1) == "~"
        st.low, st.high = int(mm.group(2)), int(mm.group(3))
        st.lk = mm.group(4)
        st.masq = _xx_decode(mm.group(5))
        st.pos = int(mm.group(6))
        return _validated(st)
    if body.startswith(("isa:", "or:(")):
        # isa:LOW-HIGH:L<-(SUB)/POS:.../STATE  (graphd-iterator-isa.c
        # isa_freeze) and the or-linksto masquerade or:(MASQ)/POS/STATE
        # (graphd-iterator-or.c or_iterator_freeze).  Split on
        # top-level '/' — slashes inside parens/brackets are state.
        parts: list[str] = []
        depth = 0
        start = 0
        for j, ch in enumerate(body):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "/" and depth == 0:
                parts.append(body[start:j])
                start = j + 1
        parts.append(body[start:])
        if len(parts) < 2:
            raise _old_style(text)
        st.form = "isa_it" if body.startswith("isa:") else "or_it"
        posm = re.match(r"^(\$|\d+)", parts[1])
        if not posm:
            raise _old_style(text)
        if posm.group(1) == "$":
            st.tail = "$"
            st.pos = -1
        else:
            st.pos = int(posm.group(1))
        state = parts[2] if len(parts) > 2 else ""
        if st.form == "isa_it":
            mm = re.search(r"\)-:(\d+:\d+:\d+):", state)
            if mm:
                st.echo = mm.group(1)
            mm = re.search(r"\[sd:\([^)]*?/(\d+)/", state)
            if mm:
                st.sd_pos = int(mm.group(1))
            mm = re.search(r"@([0-9a-zA-Z]+)\]\s*$", state)
            if mm:
                st.cache_stamp = mm.group(1)
        else:
            mm = re.match(r"^@([0-9a-zA-Z]+)\s*$", state)
            if mm:
                st.cache_stamp = mm.group(1)
        return _validated(st)
    if body.startswith("fixed:("):
        # masqueraded fixed set: fixed:(PROVENANCE)/POS/STATE — the
        # provenance records how to regenerate the ids (an isa
        # expansion); the state is either [cache:@STAMP] or an inline
        # N:id,... list (graphd-iterator-fixed.c:532-612)
        depth = 0
        i = len("fixed:")
        for i in range(len("fixed:"), len(body)):
            if body[i] == "(":
                depth += 1
            elif body[i] == ")":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise _old_style(text)
        st.masq = body[len("fixed:("): i]
        rest = body[i + 1:]
        mm = re.match(r"^/(\d+)/(~?)(.*)$", rest)
        if not mm:
            raise _old_style(text)
        st.form = "fixed_masq"
        st.pos = int(mm.group(1))
        # '~' after the position: backward (descending) fixed set —
        # the inner fixed-isa:~ marker appears on the first page only
        st.backward = mm.group(2) == "~"
        state = mm.group(3)
        cm = re.match(r"^\[cache:@([0-9a-zA-Z]+)\]$", state)
        if cm:
            st.cache_stamp = cm.group(1)
        elif re.match(r"^\d+:[0-9,]*$", state):
            n, _, ids = state.partition(":")
            st.fixed_ids = [int(x) for x in ids.split(",") if x != ""]
            if len(st.fixed_ids) != int(n):
                raise _old_style(text)
        elif state:
            raise _old_style(text)
        # spelled-out linkage names ("left<-") come from older freeze
        # formats whose checksums we can't reproduce; skip validation
        if re.search(r"(?:left|right|typeguid|scope)[<+-]", st.masq):
            signed = None
        return _validated(st)
    mm = re.match(r"^fixed:(~?)(\d+):([0-9,]*?)(?:/(\d+)/)?$", body)
    if mm:
        st.form = "fixed"
        st.backward = mm.group(1) == "~"
        ids = [int(x) for x in mm.group(3).split(",") if x != ""]
        if len(ids) != int(mm.group(2)):
            raise _old_style(text)
        st.fixed_ids = ids
        st.pos = int(mm.group(4)) if mm.group(4) is not None else 0
        return _validated(st)
    mm = re.match(
        r"^vip:(~?)(\d+)-(\d+):([tlrs])\+([0-9a-f]{32})->(\d+)"
        r"/(\d+)/\(fixed:(~?)(\d+):([0-9,]*?)/(\d+)/\)$",
        body,
    )
    if mm:
        # vip iterator: the (endpoint, typeguid) combined index with
        # its pre-evaluated fixed set nested as local state
        # (libpdb/pdb-vip.c; probed: a `(<-left type="T")` sub freezes
        # vip:LO-HI:l+TG->SRC/LAST_ID/(fixed:N:ids/CONSUMED/), with
        # '~' on both levels for descending perfect sorts)
        st.form = "vip"
        st.backward = mm.group(1) == "~" or mm.group(8) == "~"
        st.low, st.high = int(mm.group(2)), int(mm.group(3))
        st.lk = mm.group(4)
        st.tg = mm.group(5)
        st.src = int(mm.group(6))
        st.pos = int(mm.group(7))
        ids = [int(x) for x in mm.group(10).split(",") if x != ""]
        if len(ids) != int(mm.group(9)):
            raise _old_style(text)
        st.fixed_ids = ids
        st.inner_pos = int(mm.group(11))
        return _validated(st)
    mm = re.match(r"^gmap:(~?)(\d+)-(\d+):([a-z]+)->(\d+)/(\d+)/$", body)
    if mm:
        st.form = "gmap"
        st.backward = mm.group(1) == "~"
        st.low, st.high = int(mm.group(2)), int(mm.group(3))
        st.lk = mm.group(4)[0]
        st.src = int(mm.group(5))
        st.pos = int(mm.group(6))
        # the linkage name may be spelled out ("type->10", will5.sh);
        # the engine freezes one letter, and the checksum spans the
        # body as frozen — skip validation for the long spelling
        if len(mm.group(4)) > 1:
            signed = None
        return _validated(st)
    mm = re.match(
        r"^without:\(all:(\d+)-(\d+)\)#\(any-value\)/(\d+)/(.*)$", body
    )
    if mm:
        st.form = "without"
        st.low, st.high, st.pos = (
            int(mm.group(1)), int(mm.group(2)), int(mm.group(3))
        )
        st.tail = mm.group(4)
        return _validated(st)
    if body.lower().startswith(_KNOWN_PREFIXES):
        # recognized engine form we don't model: resume leniently —
        # but the reference validates the signed envelope BEFORE
        # thawing any body (graphd_constraint_cursor_thaw computes
        # signature ^ checksum16(body) regardless of form), so a
        # checksum mismatch is BADCURSOR even for unmodeled bodies
        # (cursor fuzz seed 1210: a corrupted gmap body resumed
        # leniently where the reference rejected it)
        if signed is not None:
            expect = signature_checksum(
                con, resolve, asof
            ) ^ checksum16(checksum_body)
            if signed != expect:
                raise BadCursor(
                    f'cursor "{text}" and checksum {expect:x} '
                    "don't match"
                )
        return None
    raise _old_style(text)


def asof_horizon(store, asof: str) -> int:
    """asof= binds to an id bound (ref graphd-read.c:203-486): a guid,
    a dateline "db-id.count" whose count is the next unwritten id
    (ref libgraph/graph-dateline.c), or a timestamp, which binds the
    last id at or under it (timestamps are monotone with ids)."""
    t = asof.strip()
    tl = t.lower()
    if len(tl) == 32 and all(c in "0123456789abcdef" for c in tl):
        return guid_serial(tl)
    if "." in tl:
        db, _, count = tl.rpartition(".")
        if count and db and all(
            c in "0123456789abcdef" for c in db + count
        ):
            return int(count, 16) - 1
    try:
        ts = ts_from_string(t, round_up=True)
    except ValueError:
        raise GraphdError("SYNTAX", f"cannot parse asof value {asof!r}")
    return store.asof_id_for_ts(ts)


#: thaw_envelope's state for a read without cursor=
_NO_CURSOR = (None, 0, None, None, None, 0)


def thaw_envelope(con: Constraint, resolve=None, asof: bool = False):
    """The root read's resume state from ``con.cursor``, as
    ``(cstate, resume, horizon, resume_guid, sort_body, sort_o)``;
    a read without cursor= decodes nothing.

    A modeled iterator freeze (all / fixed / gmap / ...) thaws into
    ``cstate`` and resumes by iterator position, except the
    offset-positioned forms: ``fixed_masq`` resumes at ``pos`` unless
    the evaluator recovers the raw masqueraded id array, ``isa_it``
    at its cumulative [o:].  Otherwise the envelope is read directly:
    ``position:N``; ``sort:[o:N][n:N]<keys>`` and
    ``cursor:XXXX:[o:N][n:N]<state>``, where [o:] is the resume
    offset and [n:] caps the id horizon so the page sequence ignores
    later writes (ref graphd-constraint-cursor.c:20-80
    graphd_constraint_cursor_scan_prefix).  A sort state positions
    the scan after the page's last element, which its trailing
    ``g<guid>`` tiebreak identifies (ref graphd-sort.c:1553-1650);
    the reference re-enters through the boundary KEY (the sortsim
    cursor grid), so ``sort_body`` keeps the frozen key payload and
    ``sort_o`` the cumulative emitted count.  An unrecognized body
    restarts, save the trailing ``/N/`` position of the reference's
    and-iterator freeze; "null:" is the exhausted cursor."""
    cur = con.cursor
    if cur is None:
        return _NO_CURSOR
    if cur == "null:":
        raise GraphdError("EMPTY", "not found")
    try:
        cstate = parse_cursor(cur, con, resolve, asof=asof)
    except BadCursor as e:
        raise GraphdError("BADCURSOR", e.message)
    if cstate is not None:
        if cstate.form == "fixed_masq":
            resume = cstate.pos
        elif cstate.form == "isa_it":
            resume = cstate.offset
        else:
            resume = 0
        return cstate, resume, cstate.horizon, None, None, 0
    if cur.startswith("position:"):
        try:
            resume = int(cur.split(":", 1)[1].split("/")[0])
        except ValueError:
            resume = 0
        return None, resume, None, None, None, 0
    resume = 0
    horizon = None
    body = cur
    is_sort = body.lower().startswith("sort:")
    if is_sort:
        body = body[5:]
    else:
        m = re.match(r"(?i)cursor:[0-9a-f]+:", body)
        if m:
            body = body[m.end():]
    saw_offset = False
    while body.startswith("["):
        close = body.find("]")
        if close < 0:
            break
        m = re.match(r"\[([onON]):(\d+)\]", body[: close + 1])
        if m:
            if m.group(1).lower() == "o":
                resume = int(m.group(2))
                saw_offset = True
            else:
                horizon = int(m.group(2))
        body = body[close + 1:]
    if is_sort:
        m = re.search(r"g([0-9a-f]{32})$", body)
        if m:
            return None, 0, horizon, m.group(1), body, resume
    elif not saw_offset and horizon is None:
        m = re.search(r"/(\d+)/$", cur)
        if m:
            resume = int(m.group(1))
    return None, resume, horizon, None, None, 0


#: iterator freezes that resume by position: their evaluation counts
#: only the remaining tail, so [o:] rebases it
_POSITIONED = frozenset(
    ("all", "without", "fixed", "gmap", "hmap", "and_it", "or_it")
)


def needs_total(con: Constraint, counted: bool) -> bool:
    """Must the root set be counted past its page?  ``counted`` says
    the result renders a cursor, count or estimate; count bounds
    beyond the default count-min need the count too."""
    return (
        counted
        or con.count_eq is not None
        or con.count_max is not None
        or (con.count_min or 0) > 1
    )


def count_root_set(ev, src, full, con, plan, *, cstate, masq_raw,
                   sort_o, resume, rps, start, limit, n_prefix,
                   need_total, wants_estimate):
    """Count the root set just far enough, check its count bounds and
    return ``(total, shown)``: ``total`` in the resumed frame, the
    count the reply renders as ``shown`` (ref graphd-read-set-count.c).

    ``full`` is the set's exact size when the evaluator knows it (the
    mirror's matches, the sorter's accepted count), else None, and
    ``ev._count_upto(src, cap)`` counts at most ``cap`` rows.
    ``sort_o`` is the sorter's cumulative [o:] when the incremental
    sorter ran, else None; ``n_prefix`` is min(set size, ``limit``).
    Sets ``plan.countlimit``; raises EMPTY for an unsatisfied bound
    (ref graphd-read.c:606)."""
    # a positioned resume counts the REMAINING tail; o_base converts
    # to the absolute frame (probed: resumed pages keep rendering the
    # original capped count, and the emptiness check is o+1)
    if cstate is not None and (
        cstate.form in _POSITIONED
        or (cstate.form == "fixed_masq" and masq_raw)
    ):
        o_base = cstate.offset
    else:
        o_base = sort_o or 0
    # a page starting beyond the end is EMPTY (default count-min is
    # start+1) unless an explicit count bound overrides; a pagesize=0
    # probe needs one element regardless of start= (probed: start=1
    # pagesize=0 answers ok with [o:1])
    count_min_chk = (
        con.count_min
        if con.count_min is not None
        else (o_base + 1 if (o_base or rps == 0) else start + 1)
    )
    # the implicit countlimit (start + pagesize) follows the cursor
    # offset on resume (graphd-constraint-cursor.c:52-55 defaults
    # start to the offset); explicit ones don't move
    countlimit = con.countlimit
    if countlimit is not None and getattr(
        con, "countlimit_defaulted", False
    ):
        countlimit += resume if sort_o is None else sort_o
    plan.countlimit = countlimit
    # count bounds are absolute; verify in the remaining frame
    verify_need = max(count_min_chk - o_base, 0)
    if con.count_eq is not None:
        verify_need = max(verify_need, con.count_eq + 1 - o_base)
    if con.count_max is not None:
        verify_need = max(verify_need, con.count_max + 1 - o_base)
    if n_prefix >= limit and (need_total or verify_need > n_prefix):
        if not need_total:
            # page capped below count_min (e.g. pagesize=0): probe
            # just enough rows to decide emptiness
            cap = verify_need
        elif countlimit is not None and not wants_estimate:
            # count-bound checks count just far enough to verify
            # (count=1 must see a second element to fail; test
            # count2); estimates look past the count cap ("the count
            # page size is unlimited", graphd-semantic.c:297)
            cap = max(countlimit, verify_need)
        else:
            cap = None
        if full is None:
            total = ev._count_upto(src, cap)
        else:
            total = full if cap is None else min(full, cap)
    else:
        total = n_prefix  # page not full: exact
    total_abs = o_base + total
    if con.count_eq is not None:
        ok = total_abs == con.count_eq
    else:
        ok = total_abs >= count_min_chk and (
            con.count_max is None or total_abs <= con.count_max
        )
    if not ok:
        raise GraphdError("EMPTY", "not found")
    # rendered counts clamp at the ORIGINAL (unshifted) countlimit
    # (probed: resumed pages keep rendering the first page's capped
    # count; pagesize=0 renders 0); estimates look past the cap
    if (
        con.countlimit is not None
        and not wants_estimate
        and total_abs > con.countlimit
    ):
        return total, con.countlimit
    return total, total_abs


def _suspend_stamp(ev, con: Constraint) -> None:
    """A sorted scan this large exceeds the request budget and
    suspends, freezing the iterator's state into the resource cache
    once per query shape (graphd-stack.c:139, graphd-iterator-
    state.c; the slip golden's stamp sequence)."""
    if ev.store.count() >= 1000:
        from graphd_spark.freeze import _and_members, resource_stamp

        members = _and_members(ev, con)
        if members is not None and len(members) >= 2:
            resource_stamp(
                ev.store,
                key="suspend:" + ";".join(
                    f"{lk}->{src}" for lk, src in members
                ),
            )


def _sort_cursor(ev, con, plan, rows, consumed, horizon) -> str:
    from graphd_spark.compiler import sort_cursor_string

    return sort_cursor_string(
        ev.store, ev.types, ev.asof, con, plan, rows, consumed, horizon
    )


def emit_root_cursor(ev, src, con: Constraint, plan, *, cstate, rows,
                     page, resume, start, limit, total, horizon,
                     sort_o, trailing, skipped, backward):
    """Set ``plan.cursor`` for a root read that renders ``cursor``
    (ref graphd-read-set-cursor.c).

    ``rows`` is the rendered page, ``page`` the same elements in the
    form freeze._iterator_cursor freezes (through the evaluator's
    index probes, see freeze.py).  The evaluator's other steps:
    ``_probe_cursor(con, cstate, src, total, delivered, backward)`` for
    the count-min probe of an empty pagesize=0 page and
    ``_more_than(src, limit)``.  ``trailing`` is the incremental
    sorter's truncation flag, None when it did not run; ``sort_o`` its
    cumulative [o:].  Runs after count_root_set, which set
    ``plan.countlimit``."""
    if trailing is not None:
        # the exact cursor-nullness rule of the incremental sorter
        # (graphd_sort_cursor_get:1478-1481 after graphd_sort_finish
        # drops the con_start prefix): null unless the final array
        # still holds P - con_start elements AND a condense truncated,
        # so start > 0 sorted chains always end after one page and
        # countlimit never changes cursor nullness
        if rows and con.start == 0 and start + len(rows) == limit and (
            trailing
        ):
            _suspend_stamp(ev, con)
            plan.cursor = _sort_cursor(
                ev, con, plan, rows, start + len(rows) + sort_o, horizon
            )
        else:
            plan.cursor = "null:"
    else:
        from graphd_spark.freeze import _iterator_cursor

        consumed = start + len(rows)
        # [o:] is cumulative: the thawed offset (or the resumed one)
        # plus this page's start= skip and delivered rows (probed:
        # start=1 pagesize=1 freezes [o:2], [o:4], ...)
        o_base = cstate.offset if cstate is not None else resume
        delivered = o_base + con.start + len(rows)
        if (
            not rows
            and con.pagesize == 0
            and total > consumed
            and (not con.sort or skipped)
        ):
            # pagesize=0 still consumes the count-min probe elements,
            # and the cursor points past them (ref
            # test/unit/brendan4.sh: [o:1] on an empty page).  The
            # probe runs FORWARD even under a skipped descending sort
            # (probed: sort=(-timestamp) pagesize=0 freezes all:0-N/1/)
            plan.cursor = ev._probe_cursor(
                con, cstate, src, total, o_base + total, backward
            ) or "null:"
        elif consumed >= total or not rows:
            # countlimit caps the count, not the scan: a full page
            # whose capped total looks exhausted may still have
            # candidates beyond it (ref graphd-read-set-count.c;
            # test/unit/nick6.sh with the implicit countlimit =
            # start + pagesize)
            if (
                rows
                and plan.countlimit is not None
                and total >= plan.countlimit
                and consumed >= limit
                and ev._more_than(src, limit)
            ):
                if con.sort and not skipped:
                    plan.cursor = _sort_cursor(
                        ev, con, plan, rows, consumed, horizon
                    )
                else:
                    plan.cursor = _iterator_cursor(
                        ev, con, cstate, page, src, delivered, backward
                    ) or f"position:{consumed}/{total}"
            else:
                plan.cursor = "null:"
        elif con.sort and not skipped:
            _suspend_stamp(ev, con)
            plan.cursor = _sort_cursor(
                ev, con, plan, rows, consumed, horizon
            )
        else:
            plan.cursor = _iterator_cursor(
                ev, con, cstate, page, src, delivered, backward
            ) or f"position:{consumed}/{total}"
    if ev.asof is not None and plan.cursor != "null:":
        # asof pages omit the [n:] block (probed)
        plan.cursor = strip_cursor_horizon(
            plan.cursor, con, ev.types.resolve
        )


def cursor_envelope_horizon(cur: str) -> Optional[int]:
    """The [n:H] store horizon in a cursor's leading bracket envelope
    (after the ``sort:`` / ``cursor:XXXX:`` prefix), or None.  Only the
    ENVELOPE is inspected — [n:...] byte sequences inside serialized
    string values never match (probed: the reference scans the same
    prefix blocks, graphd-constraint-cursor.c)."""
    body = cur
    low = body.lower()
    if low.startswith("sort:"):
        body = body[5:]
    elif low.startswith("position:"):
        return None
    else:
        m = re.match(r"(?i)cursor:[0-9a-f]{1,4}:", body)
        if m:
            body = body[m.end():]
    horizon = None
    while body.startswith("["):
        close = body.find("]")
        if close < 0:
            break
        m = re.match(r"\[([onON]):(\d+)\]$", body[: close + 1])
        if m and m.group(1).lower() == "n":
            horizon = int(m.group(2))
        body = body[close + 1:]
    return horizon


def _boundary_mandatory(con: Constraint) -> bool:
    """GRAPHD_CONSTRAINT_IS_MANDATORY for boundary propagation: an
    optional (count>=0) or anti (count=0) sub proves nothing about its
    parent's ids."""
    if con.count_eq == 0:
        return False
    return not (con.count_min == 0 and con.count_eq is None)


def cursor_high_bounds(con: Constraint) -> dict[int, int]:
    """Per-node EXCLUSIVE id high bounds from cursor [n:H] envelopes,
    propagated exactly like the reference's set_boundary
    (graphd-constraint-iterator.c:229-271): a primitive can only point
    at an already-written (smaller-id) one, so a high bound on a node
    cascades to every node it POINTS AT, minus one —

    - [n:H] narrows the cursor-bearing node's own high to H
      (graphd-constraint-cursor.c:70 ``con_high = min(con_high, H)``);
    - high H on a node whose linkage is 'my' (its L points at the
      parent, e.g. ``<-left``) gives the parent H-1 — IF the node is
      mandatory and not an or-branch (writepaged seed 454: the
      top-level producer thaws as ``all[0...50]`` under a sub chain
      frozen at [n:80]);
    - high H on a node gives each 'iam' sub (the node's L points at
      the sub, e.g. ``left->``) H-1;
    - nothing propagates INTO a 'my' sub: a ``<-left`` child may be
      written AFTER its parent froze, so a top-level cursor's [n:H]
      must NOT bound sub contents (directed write-into-window fuzz,
      round 9: a hot-key child appended between pages DOES render).

    Returns {id(node): exclusive_high}."""
    highs: dict[int, int] = {}

    def or_member(n: Constraint) -> bool:
        p = n.parent
        if p is None:
            return False
        return any(n in chain for chain in p.or_chains)

    def set_high(n: Constraint, h: int) -> None:
        cur = highs.get(id(n))
        if cur is not None and cur <= h:
            return
        highs[id(n)] = h
        p = n.parent
        if (
            p is not None
            and n.linkage is not None
            and n.linkage[0] == "my"
            and n.linkage[1] != "bi"
            and _boundary_mandatory(n)
            and not or_member(n)
        ):
            set_high(p, h - 1)
        kids = list(n.subs)
        for chain in n.or_chains:
            # or-branch subs live on the enclosing node's con_head in
            # the reference (hoisted at parse), so they receive the
            # node's downward bounds like root subs
            for b in chain:
                kids.extend(b.subs)
        for s in kids:
            if (
                s.linkage is not None
                and s.linkage[0] == "iam"
                and s.linkage[1] != "bi"
            ):
                set_high(s, h - 1)

    for c in con.walk():
        cur = c.cursor
        if cur is None or cur == "null:":
            continue
        ch = cursor_envelope_horizon(cur)
        if ch is not None:
            set_high(c, ch)
    return highs


def strip_cursor_horizon(cur: str, con: Constraint, resolve=None) -> str:
    """asof'd pages omit the [n:] horizon block entirely (probed:
    ``cursor:xxxx:[o:3]hmap:0-9:.../3/`` and ``sort:[o:3]...`` with no
    [n:]): drop the block from a built cursor and re-sign the
    envelope, since the checksum spans the body."""
    m = re.match(r"(?i)^cursor:[0-9a-f]{1,4}:(.*)$", cur, flags=re.S)
    if m:
        body = re.sub(r"\[n:\d+\]", "", m.group(1), count=1)
        return sign_cursor(con, body, resolve, asof=True)
    return re.sub(r"\[n:\d+\]", "", cur, count=1)


def sign_cursor(con: Constraint, body: str, resolve=None,
                asof: bool = False) -> str:
    """Wrap a fully-built freeze body in the signed cursor envelope
    (graphd_constraint_cursor_from_iterator:
    ``cursor:%4.4hx:`` = set-signature checksum ^ body checksum)."""
    check = signature_checksum(con, resolve, asof) ^ checksum16(body)
    return f"cursor:{check:04x}:{body}"


def freeze_cursor(
    con: Constraint,
    state: CursorState,
    delivered: int,
    horizon: int,
    resolve=None,
) -> str:
    """Emit the signed cursor string for the page just delivered.

    ``state`` carries the (possibly thawed) iterator form with ``pos``
    already advanced past the last returned element; ``delivered`` is
    the number of elements this page handed out ([o:]); ``horizon`` is
    the id write horizon ([n:], the store count unless the cursor being
    resumed pinned an older one).
    """
    if state.form == "fixed_masq":
        # masqueraded fixed set (isa expansion): provenance + position
        # + local state — the binary cache stamp when the set is big
        # enough to be worth caching (GRAPHD_ITERATOR_FIXED_CACHE_MIN
        # = 10), the inline id list otherwise
        # (graphd-iterator-fixed.c:482-612)
        if state.cache_stamp:
            tail = f"[cache:@{state.cache_stamp}]"
        else:
            tail = "{}:{}".format(
                len(state.fixed_ids),
                ",".join(str(i) for i in state.fixed_ids),
            )
        t = "~" if state.backward else ""
        body = f"fixed:({state.masq})/{state.pos}/{t}{tail}"
    elif state.form == "all":
        t = "~" if state.backward else ""
        body = f"all:{t}{state.low}-{state.high}/{state.pos}/"
    elif state.form == "fixed":
        ids = ",".join(str(i) for i in state.fixed_ids)
        t = "~" if state.backward else ""
        body = f"fixed:{t}{len(state.fixed_ids)}:{ids}/{state.pos}/"
    elif state.form == "gmap":
        t = "~" if state.backward else ""
        body = (
            f"gmap:{t}{state.low}-{state.high}:{state.lk}->{state.src}"
            f"/{state.pos}/"
        )
    elif state.form == "vip":
        # (endpoint, typeguid) combined index with the pre-evaluated
        # fixed set nested as local state; the outer position is the
        # last consumed ID, the inner one counts consumed elements —
        # from the top of the set when backward ('~' on both levels)
        # (libpdb/pdb-vip.c freeze; probed round 6)
        ids = ",".join(str(i) for i in state.fixed_ids)
        t = "~" if state.backward else ""
        body = (
            f"vip:{t}{state.low}-{state.high}:{state.lk}+{state.tg}"
            f"->{state.src}/{state.pos}/"
            f"(fixed:{t}{len(state.fixed_ids)}:{ids}"
            f"/{state.inner_pos}/)"
        )
    elif state.form == "without":
        body = (
            f"without:(all:{state.low}-{state.high})#(any-value)"
            f"/{state.pos}/{state.tail}"
        )
    else:
        raise ValueError(f"cannot freeze form {state.form!r}")
    body = f"[o:{delivered}][n:{horizon}]{body}"
    check = signature_checksum(con, resolve) ^ checksum16(body)
    return f"cursor:{check:04x}:{body}"
