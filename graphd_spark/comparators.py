"""Comparators: graphd's pluggable value ordering/equality/globbing.

The reference defines ordering over the single string ``value`` column
through comparators (registry ref graphd/graphd-comparator.c:26-29).
The ``default`` comparator sorts with graph_fuzzycmp (ref
libgraph/graph-fuzzy-compare.c:466-534): values are split into
fragments (numbers / words / punctuation; spaces skipped), numbers
compare numerically with unbounded precision, numbers sort before
words, words compare case-insensitively bytewise.

Spark-first design: instead of a comparison *function* (which Spark
cannot sort by at scale), each comparator is compiled to an
**order-preserving binary sort key**: ``key(a) < key(b) iff
cmp(a, b) < 0`` under plain bytewise ordering.  The key is computed by
a vectorized pandas UDF once per row; after that every orderBy /
range-filter / window over values is a native Tungsten binary sort —
this is what lets a 100 TB sort-by-value run distributed with no
Python in the comparison loop.

Fragmentation rules ported from word_fragment_next
(libgraph/graph-fuzzy-compare.c:56-168); number decoding from
graph_decode_number (:215-372); comparison order from graph_fuzzycmp
(:466-534).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

import pandas as pd

# fragment types (ref graph-fuzzy-compare.c:21-24)
NUMBER, SPACE, ATOM, PUNCT = 1, 2, 3, 4

_SIGNS = "+-"


def _isword(c: str) -> bool:
    # ref ISWORD: any non-ASCII byte or alnum
    return ord(c) >= 0x80 or c.isalnum()


def _isdigit(c: str) -> bool:
    return "0" <= c <= "9"


def _isspace(c: str) -> bool:
    return ord(c) < 0x80 and c in " \t\v\n\r\f"


def _ispunct(c: str) -> bool:
    o = ord(c)
    return o < 0x80 and not c.isalnum() and not _isspace(c) and o > 0x20


def _isbreak(c: str) -> bool:
    return _isspace(c) or (_ispunct(c) and c not in "+-")


# run scanners for the hot inner loops of ``fragments``: each matches
# exactly the character class of the per-char helpers above (ASCII
# alnum or any non-ASCII codepoint = ISWORD; the 6 ASCII spaces =
# ISSPACE), so `.match(s, pos).end()` advances identically to the
# while-loops it replaces — just at C speed
import re as _re

_DIGIT_RUN = _re.compile(r"[0-9]*")
_ATOM_RUN = _re.compile(r"(?:[0-9A-Za-z]|[^\x00-\x7f])+")
_SPACE_RUN = _re.compile(r"[ \t\v\n\r\f]+")


def fragments(s: str):
    """Yield (fragment, type) per word_fragment_next.

    A leading sign is part of a number only at the start of the string
    or after a break character (ref ISSIGNPTR).
    """
    i, n = 0, len(s)
    dmatch = _DIGIT_RUN.match
    while i < n:
        start = i
        r = i
        # longest number at this position
        if s[r] in _SIGNS and (r == 0 or _isbreak(s[r - 1])):
            r += 1
        pre_s = r
        r = dmatch(s, r).end()
        pre_e = r
        if (
            (pre_s == 0 or s[pre_s - 1] != ".")
            and (pre_e > pre_s or r == 0 or not _isdigit(s[r - 1]))
            and r < n
            and s[r] == "."
        ):
            r += 1
            post_s = r
            r = dmatch(s, r).end()
            post_e = r
            if (r >= n or not _isword(s[r])) and (
                post_e > post_s or pre_e > pre_s
            ):
                if r >= n or s[r] != ".":
                    yield s[start:r], NUMBER
                    i = r
                    continue
                if pre_e > pre_s:
                    # IP addresses / dotted names: one segment at a time
                    yield s[start:pre_e], NUMBER
                    i = pre_e
                    continue
                yield s[start:post_s], PUNCT
                i = post_s
                continue
        if pre_e > pre_s and (pre_e == n or not _isword(s[pre_e])):
            yield s[start:pre_e], NUMBER
            i = pre_e
            continue
        # not a number: word / space / punctuation run
        r = start
        c = s[r]
        if _isword(c):
            r = _ATOM_RUN.match(s, r).end()
            yield s[start:r], ATOM
        elif _isspace(c):
            r = _SPACE_RUN.match(s, r).end()
            yield s[start:r], SPACE
        else:
            r += 1
            while (
                r < n
                and _ispunct(s[r])
                and not (s[r] in _SIGNS and _isbreak(s[r - 1]))
            ):
                r += 1
            yield s[start:r], PUNCT
        i = r


def decode_number(
    s: str, scientific: bool = False
) -> Optional[tuple[bool, bool, int, str]]:
    """graph_decode_number: -> (positive, zero, exponent,
    significant_digits) or None if not a number.

    ``scientific`` additionally accepts inf/+inf/-inf (exponent field
    None marks infinity) and an e/E exponent suffix
    (ref libgraph/graph-fuzzy-compare.c:215-372).
    """
    if not s:
        return None
    if scientific:
        low = s.lower()
        if low in ("inf", "+inf"):
            return True, False, None, ""
        if low == "-inf":
            return False, False, None, ""
        epos = low.find("e")
        if epos >= 0:
            base = decode_number(s[:epos])
            exp_s = s[epos + 1 :]
            sign = 1
            if exp_s[:1] == "-":
                sign = -1
                exp_s = exp_s[1:]
            elif exp_s[:1] == "+":
                exp_s = exp_s[1:]
            if base is None or not exp_s.isdigit():
                return None
            # the reference accumulates the exponent into a C int and
            # treats wraparound as "not a number" (strntoi, ref
            # libgraph/graph-fuzzy-compare.c:168-198; test sortnumber's
            # 1e-123123123123123123123 is a plain string)
            n = 0
            for ch in exp_s:
                on = n
                n = n * 10 + ord(ch) - 48
                n = (n + 2**31) % 2**32 - 2**31  # wrap to int32
                if on > n:
                    return None
            positive, zero, exp, digits = base
            if zero:
                return positive, zero, exp, digits
            return positive, zero, exp + sign * n, digits
    i = 0
    positive = True
    if s[0] == "-":
        positive = False
        i = 1
    elif s[0] == "+":
        i = 1
    body = s[i:]
    if not body:
        return None
    if any(not (_isdigit(c) or c == ".") for c in body):
        return None
    if body.count(".") > 1:
        return None
    if body == ".":
        return None
    digits = body.replace(".", "")
    if digits == "":
        return None
    sig = digits.strip("0")
    if sig == "":
        return True, True, 0, ""
    dot = body.find(".")
    # exponent: position of the first significant digit relative to
    # the decimal point (ref graph_decode_number:325-338)
    fnz = 0
    while body[fnz] in "0.":
        fnz += 1
    if dot < 0:
        exp = len(body) - fnz - 1
    elif dot > fnz:
        exp = dot - fnz - 1
    else:
        exp = dot - fnz
    # strip trailing zeros/dots from the significant span
    lnz = len(body) - 1
    while body[lnz] in "0.":
        lnz -= 1
    span = body[fnz : lnz + 1].replace(".", "")
    return positive, False, exp, span


def _ascii_lower(s: str) -> str:
    # ASCII-only lowering (the reference folds [A-Z] only).  For ASCII
    # input str.lower() is identical and runs at C speed; the per-char
    # fallback stays for non-ASCII so e.g. 'É' is NOT folded.
    if s.isascii():
        return s.lower()
    return "".join(
        chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s
    )


def render_sci(dec: tuple[bool, bool, Optional[int], str]) -> str:
    """Canonical number form (ref pdb_number_to_string,
    libpdb/pdb-word.c:908-929): mantissa digits with an implicit
    decimal point after the first, 'e', decimal exponent; zero is "0",
    infinities are "+Inf"/"-Inf"."""
    positive, zero, exp, digits = dec
    if zero:
        return "0"
    if exp is None:
        return "+Inf" if positive else "-Inf"
    return f"{'' if positive else '-'}{digits}e{exp}"


def word_number_normalize(frag: str) -> str:
    """String-level number-fragment normalization (ref
    pdb_word_number_normalize, libpdb/pdb-word.c:782-870): strip '+',
    strip leading zeros (keep one), strip trailing fraction zeros and
    a bare trailing point, '.15' -> '0.15', and drop the sign of zero.
    NOT the scientific form — ' 1' hashes as '1', which is a different
    bucket than the full-number normalization '1e0' of '1' (validated
    by test/unit/numberequal r6/r8)."""
    sign = ""
    i = 0
    if frag[:1] == "+":
        i = 1
    elif frag[:1] == "-":
        sign = "-"
        i = 1
    body = frag[i:]
    dot = body.find(".")
    if dot < 0:
        int_part, frac = body, ""
    else:
        int_part, frac = body[:dot], body[dot + 1:].rstrip("0")
    if int_part == "":
        int_part = "0"
    else:
        int_part = int_part[:-1].lstrip("0") + int_part[-1]
    if int_part == "0" and frac == "":
        sign = ""
    return sign + int_part + ("." + frac if frac else "")


def normalize_value(s: str) -> str:
    """The value-hash normalization (ref pdb_hmap_value_normalize,
    libpdb/pdb-word.c:1098-1120): a value that parses in FULL as a
    (scientific) number becomes its canonical number string
    (pdb_number_normalize -> "<digits>e<exp>"); otherwise the word
    path (pdb_word_normalize): leading space stripped, whitespace runs
    collapse to one space, trailing space stripped, and embedded
    number fragments get the *string-level* normalization only.
    Matching is case-insensitive (pdb_case_insensitive_hash), so
    callers compare the ascii-lowered form.

    The engine stores this as the ``value_norm`` column at write time —
    the Spark analog of the reference's hmap value index — so equality
    filters stay native column comparisons.
    """
    dec = decode_number(s, scientific=True)
    if dec is not None:
        return render_sci(dec)
    out: list[str] = []
    for frag, typ in fragments(s):
        if typ == SPACE:
            if not out:
                continue  # leading space stripped
            out.append(" ")
            continue
        if typ == NUMBER:
            d = decode_number(frag)
            if d is not None:
                out.append(word_number_normalize(frag))
                continue
        out.append(frag)
    while out and out[-1] == " ":
        out.pop()
    return "".join(out)


def value_norm_key(s: Optional[str]) -> Optional[str]:
    """Case-folded normalized value (the stored ``value_norm``).
    Pure string function; memoized — the serving loop recomputes it
    per request for hot template literals."""
    if s is None:
        return None
    return _value_norm_key_cached(s)


@lru_cache(maxsize=65536)
def _value_norm_key_cached(s: str) -> str:
    return _ascii_lower(normalize_value(s))


# --- order-preserving binary keys ---------------------------------------

# class prefixes inside a fragment slot: number < word/punct
_K_NUM = b"\x01"
_K_STR = b"\x02"
# sign classes within numbers
_K_NEG, _K_ZERO, _K_POS = b"0", b"1", b"2"


def _exp_key(e: int) -> bytes:
    """Order-preserving encoding of an arbitrary-size integer exponent
    (the reference compares exponents as unbounded decimal strings, ref
    graphd-comparator-number.c; test sortnumber uses e-1.2e20)."""
    if e >= 0:
        m = e.to_bytes(max(1, (e.bit_length() + 7) // 8), "big")
        # longer magnitude = larger value; length byte keeps order
        return b"\x02" + len(m).to_bytes(2, "big") + m
    m = (-e).to_bytes(max(1, ((-e).bit_length() + 7) // 8), "big")
    comp = bytes(0xFF - b for b in m)
    return b"\x00" + (0xFFFF - len(m)).to_bytes(2, "big") + comp


def _number_key(positive: bool, zero: bool, exp: int, digits: str) -> bytes:
    if zero:
        return _K_NUM + _K_ZERO
    if positive:
        return (
            _K_NUM
            + _K_POS
            + _exp_key(exp)
            + digits.encode()
            + b"\x00"
        )
    # negative: invert exponent and nine's-complement the digits so
    # bytewise ascending equals numeric ascending
    comp = bytes(ord("9") - ord(d) + ord("0") for d in digits)
    neg_exp = _exp_key(exp)
    neg_exp = bytes(0xFF - b for b in neg_exp)  # flip for negatives
    return _K_NUM + _K_NEG + neg_exp + comp + b"\xff"


def fuzzy_key(s: Optional[str]) -> Optional[bytes]:
    """Order-preserving key for the ``default`` comparator.

    bytewise(fuzzy_key(a), fuzzy_key(b)) == sign(graph_fuzzycmp(a, b)).
    SQL NULL sorts after every string in graphd (graph_fuzzycmp:473-475
    returns >0 for NULL) — expressed Spark-side with asc_nulls_last /
    desc_nulls_first, so None maps to None here.
    """
    if s is None:
        return None
    out = bytearray()
    for frag, typ in fragments(s):
        if typ == SPACE:
            continue
        if typ == NUMBER:
            dec = decode_number(frag)
            if dec is not None:
                out += _number_key(*dec)
                continue
        out += _K_STR + _ascii_lower(frag).encode("utf-8", "surrogateescape")
        out += b"\x00"
    return bytes(out)


def fuzzy_cmp(a: Optional[str], b: Optional[str]) -> int:
    """Reference-shaped comparison (for tests; Spark sorts by the key)."""
    if a is None and b is None:
        return 0
    if a is None:
        return 1
    if b is None:
        return -1
    ka, kb = fuzzy_key(a), fuzzy_key(b)
    return (ka > kb) - (ka < kb)


# --- other comparators ----------------------------------------------------

KNOWN_COMPARATORS = {"default", "case", "octet", "number", "datetime",
                     "case-insensitive"}

#: registered aliases (ref graphd-comparator-{case,number,octet}.c
#: cmp_alias tables: "case" aliases the case-insensitive comparator,
#: "case-sensitive" aliases octet, "numeric" aliases number)
_COMPARATOR_ALIASES = {
    "case": "case-insensitive",
    "numeric": "number",
    "case-sensitive": "octet",
}


def resolve_comparator(name: Optional[str]) -> str:
    """Comparator names may carry a locale prefix ("i;octet") and
    aliases (ref graphd/graphd-comparator.c graphd_comparator_from_string;
    "unspecified" aliases default)."""
    if name is None:
        return "default"
    if ";" in name:
        name = name.rsplit(";", 1)[1]
    name = name.strip().lower()
    if name in ("", "unspecified"):
        return "default"
    name = _COMPARATOR_ALIASES.get(name, name)
    if name in KNOWN_COMPARATORS:
        return name
    return "default"


def number_sort_key(s: Optional[str]) -> Optional[bytes]:
    """Order-preserving key for the ``number`` comparator (ref
    graphd_number_compare, graphd-comparator-number.c:498-538):
    parseable (scientific) numbers order numerically and sort before
    everything else; non-numbers compare case-insensitively."""
    if s is None:
        return None
    dec = decode_number(s, scientific=True)
    if dec is None:
        return b"\x02" + _ascii_lower(s).encode("utf-8", "surrogateescape")
    positive, zero, exp, digits = dec
    if exp is None:  # infinities
        return b"\x013" if positive else b"\x01/"
    return _number_key(positive, zero, exp, digits)


def datetime_sort_key(s: Optional[str]) -> Optional[bytes]:
    """Order-preserving key for the ``datetime`` comparator (ref
    datetime_sort_compare, graphd-comparator-datetime.c:469-482):
    plain case-insensitive byte order, except when BOTH strings are
    '-'-prefixed (BCE dates) the comparison reverses.  Against
    anything else a '-'-prefixed string compares by its RAW first
    byte, so the BCE block sits at the '-' position of the byte order
    ("+12" < "-3" < "007"; sortcursor seed 249), reversed internally."""
    if s is None:
        return None
    if s.startswith("-"):
        body = _ascii_lower(s[1:]).encode("utf-8", "surrogateescape")
        return b"-" + bytes(0xFF - b for b in body) + b"\xff"
    return _ascii_lower(s).encode("utf-8", "surrogateescape")


# --- datetime comparator: bin-scan order, domain, delimited glob ---------


def _dt_skip_bin(before: str, after: str) -> bool:
    """datetime_skip (graphd-comparator-datetime.c:167-238): a bin
    [before, after) is skipped when provably no 4-digit year prefix can
    sort inside it."""
    if before[:1] == "-" or after[:1] == "-":
        return False
    diff = 0
    while (
        diff < len(before)
        and diff < len(after)
        and _isdigit(before[diff])
        and _isdigit(after[diff])
    ):
        diff += 1
    if diff >= 4:
        return False
    test = (after[:diff] + "0000")[:4]
    if before <= test <= after:
        return False
    test = (before[:diff] + "9999")[:4]
    if before <= test <= after:
        return False
    return True


_DT_STATE: dict = {}


def _dt_tables():
    """Lazy: the datetime comparator's three contiguous STRING_BINS
    segments + derived limits/skip flags."""
    if _DT_STATE:
        return _DT_STATE
    from bisect import bisect_right

    from graphd_spark.binset import STRING_BINS

    neg = [
        b for b in STRING_BINS
        if b[:1] == "-" and _isdigit(b[1:2] or " ")
    ]
    pos = [b for b in STRING_BINS if _isdigit(b[:1] or " ")]
    tim = [
        b for b in STRING_BINS
        if b[:1] == "t" and _isdigit(b[1:2] or " ")
    ]
    pos_after = STRING_BINS[STRING_BINS.index(pos[-1]) + 1]
    # maximum_positive_year_bin = lookup("999:") + 1: bins above never
    # surface (uuid-ish 9xxx strings aren't dates)
    pos_max = bisect_right(pos, "999:") - 1
    skipped = set()
    for i in range(len(pos)):
        after = pos[i + 1] if i + 1 < len(pos) else pos_after
        if _dt_skip_bin(pos[i], after):
            skipped.add(i)
    _DT_STATE.update(
        neg=neg,
        pos=pos,
        tim=tim,
        pos_max=pos_max,
        skipped=skipped,
        bisect=bisect_right,
    )
    return _DT_STATE


def datetime_scan_order(s: Optional[str]) -> Optional[int]:
    """Position of a value in the datetime comparator's value-bin
    traversal (ref datetime_inc/dec/skip,
    graphd-comparator-datetime.c:125-287): negative-year bins in
    reverse bin order, then positive-year bins, then time bins;
    None = the value never surfaces in a datetime range scan (outside
    the three segments, beyond a segment limit, or in a skipped bin).
    Unsorted datetime range reads order by (this, id)."""
    if s is None:
        return None
    t = _dt_tables()
    k = _ascii_lower(s)
    c0, c1 = k[:1], k[1:2]
    if c0 == "-" and _isdigit(c1):
        i = t["bisect"](t["neg"], k) - 1
        return 1_000_000 - i
    if _isdigit(c0):
        i = t["bisect"](t["pos"], k) - 1
        if i > t["pos_max"] or i in t["skipped"]:
            return None
        return 2_000_000 + i
    if c0 == "t" and _isdigit(c1):
        i = t["bisect"](t["tim"], k) - 1
        if i >= len(t["tim"]) - 1:
            # maximum_time_bin = lookup("T24")-1: the last time bin
            # (T23:*) is past it and never enumerated
            return None
        return 3_000_000 + i
    return None


# --- default / number comparators: bin-scan order ------------------------


def string_bin_order(s: Optional[str]) -> Optional[int]:
    """Bin index of a value in STRING_BINS (ref pdb_bin_lookup over
    PDB_BINSET_STRINGS, graph_strcasecmp order).  Unsorted
    default-comparator range reads surface in (this, id) order (ref
    comparator_default_range_bins; test/unit/numberequal r2/r3)."""
    if s is None:
        return None
    from bisect import bisect_right

    from graphd_spark.binset import STRING_BINS

    return bisect_right(STRING_BINS, _ascii_lower(s)) - 1


_NUM_STATE: dict = {}


def _num_tables():
    """Lazy: NUMBER_BINS boundary sort keys + canonical hash strings."""
    if _NUM_STATE:
        return _NUM_STATE
    from graphd_spark.binset import NUMBER_BINS

    keys: list[bytes] = []
    canon: list[str] = []
    for inf, zero, positive, exp, mant in NUMBER_BINS:
        if inf:
            keys.append(b"\x013" if positive else b"\x01/")
            canon.append("+inf" if positive else "-inf")
        elif zero:
            keys.append(_K_NUM + _K_ZERO)
            canon.append("0")
        else:
            keys.append(_number_key(positive, False, exp, mant))
            canon.append(
                ("" if positive else "-") + mant + "e" + str(exp)
            )
    _NUM_STATE.update(
        keys=keys, canon=canon,
        canon_index={c: i for i, c in enumerate(canon)},
    )
    return _NUM_STATE


def number_bin_lookup(lit: str) -> Optional[int]:
    """Bin index of a number literal in NUMBER_BINS; None when the
    literal doesn't decode (the reference then builds no vrange —
    ENOTSUP in number_vrange_start)."""
    from bisect import bisect_right

    t = _num_tables()
    key = number_sort_key(lit)
    if key is None or key >= b"\x02":
        return None
    return bisect_right(t["keys"], key) - 1


def number_scan_order(s: Optional[str]) -> Optional[int]:
    """Position of a value in the number comparator's scan (ref
    number_vrange_it_next, graphd-comparator-number.c:255-310): per
    bin, first the value-hash bucket of the boundary's canonical
    string (which can include NON-numbers whose normalization
    collides, e.g. ' 0' -> '0'; test numberequal r6), then the bin's
    strictly-between numbers; None = never enumerated."""
    if s is None:
        return None
    t = _num_tables()
    norm = value_norm_key(s)
    i = t["canon_index"].get(norm)
    if i is not None:
        return 2 * i
    key = number_sort_key(s)
    if key >= b"\x02":
        return None
    from bisect import bisect_right

    return 2 * (bisect_right(t["keys"], key) - 1) + 1


def scan_order_column(fn, col):
    """Column of a bin-scan position function's values
    (``string_bin_order``, ``number_scan_order``,
    ``datetime_scan_order``; Arrow-vectorized)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _order(vs: pd.Series) -> pd.Series:
        return vs.map(fn)

    return _order(col)


def delimited_match(pat: str, s: Optional[str]) -> bool:
    """The datetime comparator's ~= matcher (delimited_string_match,
    graphd-comparator-datetime.c:299-334): '*' consumes up to the next
    literal delimiter (to end-of-string if last), a leading '-' on the
    value is skipped when '*' starts matching at position 0, other
    chars match bytewise, and a fully-consumed pattern accepts any
    suffix."""
    if s is None:
        return False
    p, n = 0, len(pat)
    c, e = 0, len(s)
    while p < n:
        if pat[p] == "*":
            if p == n - 1:
                return True
            if c == 0 and s[:1] == "-":
                c += 1
            delim = pat[p + 1]
            while c < e and s[c] != delim:
                c += 1
        else:
            if c >= e or pat[p] != s[c]:
                return False
            c += 1
        p += 1
    return True


def delimited_match_column(col, pattern: str):
    """Boolean column: datetime ~= match (Arrow-vectorized)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _dtmatch(vs: pd.Series) -> pd.Series:
        return vs.map(lambda v: delimited_match(pattern, v))

    return _dtmatch(col)


def value_eq(comparator: Optional[str], a: Optional[str],
             b: Optional[str]) -> bool:
    """Comparator-aware value equality (driver side, for the write
    pipeline's embedded matches: unique/key/anchor)."""
    if a is None or b is None:
        return a is None and b is None
    comp = resolve_comparator(comparator)
    if comp in ("case", "octet"):
        return a == b
    if comp == "number":
        da = decode_number(a, scientific=True)
        db = decode_number(b, scientific=True)
        if da is not None or db is not None:
            return (
                da is not None
                and db is not None
                and render_sci(da) == render_sci(db)
            )
        return _ascii_lower(a) == _ascii_lower(b)
    if comp == "datetime":
        return value_norm_key(a) == value_norm_key(b)
    return fuzzy_key(a) == fuzzy_key(b)


def write_value_match(comparator: Optional[str], a: Optional[str],
                      b: Optional[str]) -> bool:
    """The write annotator's value match (unique=/key=/anchor,
    graphd-write-annotate.c): candidates come from the value hmap BIN
    — scientific number normalization when the whole string parses as
    a number, word normalization otherwise (pdb_hmap_value_normalize,
    libpdb/pdb-word.c:1098) — then verify with the comparator's
    (non-scientific) equality.  The bin gate makes number-vs-word
    pairs unequal even when fuzzy-compare accepts them: probed
    against the reference binary, \" 12\" does NOT match \"12\"
    (word bin vs number bin) and \"1.2e1\" does NOT match \"12\"
    (same bin, fuzzy verify fails), while \"+12\"/\"12.0\" match
    \"12\" and \" x\"/\"a  b \"/\"c 007 d\" match their collapsed
    word forms."""
    if a is None or b is None:
        return a is None and b is None
    if resolve_comparator(comparator) == "default":
        da = decode_number(a, scientific=True)
        db = decode_number(b, scientific=True)
        if (da is None) != (db is None):
            return False
        if da is not None and render_sci(da) != render_sci(db):
            return False
    return value_eq(comparator, a, b)


def literal_key(lit: str, comparator: str) -> bytes:
    """Driver-side sort key of a literal, for range predicates."""
    comp = resolve_comparator(comparator)
    if comp == "number":
        return number_sort_key(lit)
    if comp == "datetime":
        return datetime_sort_key(lit)
    if comp in ("case", "octet"):
        return lit.encode("utf-8", "surrogateescape")
    if comp == "case-insensitive":
        return _ascii_lower(lit).encode("utf-8", "surrogateescape")
    return fuzzy_key(lit)


# --- Spark integration ---------------------------------------------------


def sort_key_column(col, comparator: str = "default"):
    """Column of order-preserving sort-key bytes for ``comparator``.

    default/unspecified -> fuzzy key (pandas UDF, Arrow-vectorized);
    case/octet -> the raw string (binary orderings coincide for UTF-8);
    number/datetime get their own translations in this module as they
    are ported.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    if comparator in ("case", "octet"):
        return col.cast("binary")

    if comparator == "case-insensitive":
        # plain case-folded byte order — lexicographic, not word-aware
        # (ref test/unit/sortcomparators.sh)
        return F.lower(col).cast("binary")

    if comparator == "__fuzzy_list":
        # array<string> -> one binary key ordering arrays element-wise
        # under fuzzy order (used for sort-by-set-shaped-variable)
        @F.pandas_udf(BinaryType())
        def _fuzzy_list(vs: pd.Series) -> pd.Series:
            return vs.map(
                lambda arr: None
                if arr is None
                else b"".join(
                    (fuzzy_key(v) or b"") + b"\x00" for v in arr
                )
            )

        return _fuzzy_list(col)

    if comparator == "number":

        @F.pandas_udf(BinaryType())
        def _numkey(vs: pd.Series) -> pd.Series:
            return vs.map(number_sort_key)

        return _numkey(col)

    if comparator == "datetime":

        @F.pandas_udf(BinaryType())
        def _dtkey(vs: pd.Series) -> pd.Series:
            return vs.map(datetime_sort_key)

        return _dtkey(col)

    if comparator in ("default", "unspecified", None):

        @F.pandas_udf(BinaryType())
        def _fuzzy(vs: pd.Series) -> pd.Series:
            return vs.map(lambda v: None if v is None else fuzzy_key(v))

        return _fuzzy(col)

    raise NotImplementedError(f"comparator {comparator!r}")


# --- vrange "beyond" (the sorter's window exit) ---------------------------


def _dt_prev_bin_string(order: int) -> Optional[str]:
    """Boundary string of the datetime walk position PRECEDING the
    encoded ``order`` (datetime_dec, graphd-comparator-datetime.c:
    125-190): neg-year bins walk in reverse bin order, then pos-year
    bins (skipping the skip set), then time bins; None = no previous
    enumerable position (the walk's very first bin, where the
    reference's datetime_dec hits dts_lo and reports done=false)."""
    t = _dt_tables()
    neg, pos, tim = t["neg"], t["pos"], t["tim"]
    if 1_000_000 - len(neg) < order <= 1_000_000:
        i = 1_000_000 - order
        return neg[i + 1] if i + 1 < len(neg) else None
    if 2_000_000 <= order < 3_000_000:
        i = order - 2_000_000
        j = i - 1
        while j >= 0 and j in t["skipped"]:
            j -= 1
        if j >= 0:
            return pos[j]
        return neg[0] if neg else None
    if order >= 3_000_000:
        i = order - 3_000_000
        if i > 0:
            return tim[i - 1]
        j = t["pos_max"]
        while j >= 0 and j in t["skipped"]:
            j -= 1
        if j >= 0:
            return pos[j]
        return neg[0] if neg else None
    return None


def vrange_value_beyond(val: Optional[str], order: Optional[int],
                        comp: str, backward: bool = False) -> bool:
    """The vrange iterator's ``beyond`` verdict consulted by the
    sorter's window exit (sort_root_value_beyond, graphd-sort.c:686;
    graphd_iterator_vrange_beyond): True = the producer's current scan
    position can never again yield a value sorting <= (>= backward)
    the cutoff ``val``, so the set's scan ends (gsc_ended).

    ``order`` is the producer scan-order of the candidate CURRENTLY
    being offered (the comparator's bin the scan is draining);
    the verdict compares the cutoff against the PREVIOUS bin's
    boundary — "the last bin we completely evaluated".  Exact port of
    the observable rules of default_value_in_range
    (graphd-comparator-default.c:2031-2196: alpha-prefix test string
    with the non-alpha increment trick, the numeric-cutoff /
    non-alnum-cutoff first-byte hacks vs 'A'), number_value_in_range
    (graphd-comparator-number.c:424-485: numeric compare against the
    previous NUMBER_BINS boundary) and datetime_value_in_range
    (graphd-comparator-datetime.c:745-805: datetime_sort_compare
    against the previous datetime position's string bin).  A NULL
    cutoff never reaches here (sort_root_value_beyond bails on
    non-string values)."""
    if val is None or order is None:
        return False
    if comp == "number":
        t = _num_tables()
        b = order // 2
        if not backward:
            if b <= 0:
                return False
            b -= 1
        else:
            b += 1
            if b >= len(t["keys"]):
                return False
        test = number_sort_key(val)
        if test is None or test >= b"\x02":
            return False  # non-number cutoff: ERR_LEXICAL, no verdict
        bk = t["keys"][b]
        rel = -1 if test < bk else (1 if test > bk else 0)
        if backward:
            rel = -rel
        return rel < 0
    if comp == "datetime":
        if backward:
            return False  # backward datetime thaws are never built
        bs = _dt_prev_bin_string(order)
        if bs is None:
            return False
        tk, bk = datetime_sort_key(val), datetime_sort_key(bs)
        if tk is None or bk is None:
            return False
        return tk < bk
    # default comparator: STRING_BINS walk
    from graphd_spark.binset import STRING_BINS

    b = order
    if not backward:
        if b <= 0 or b >= len(STRING_BINS):
            return False
        b -= 1
    else:
        b += 1
        if b >= len(STRING_BINS):
            return False
    bs = STRING_BINS[b]
    s = val.lstrip(" \t\n\r\v\f")
    test: list = []
    if not backward:
        # first string known to sort >= the cutoff: the alpha prefix,
        # incrementing its last byte at a non-alpha boundary
        # ("foo0" -> "fop"); dvs_test_len is 32 for sort-root ranges
        for ch in s[:32]:
            if not ("a" <= ch <= "z" or "A" <= ch <= "Z"):
                if test:
                    test[-1] = chr(ord(test[-1]) + 1)
                break
            test.append(ch)
        if not test:
            if not bs:
                return False
            bfirst = bs[0]
            if not s:
                return bfirst > " "
            tf = s[0]
            if "0" <= tf <= "9" and bfirst >= "A":
                return True  # numeric cutoff, scan past all numbers
            if bfirst >= "A":
                return tf <= bfirst
            return False
        return fuzzy_cmp("".join(test), bs) < 0
    # backward: the alpha prefix truncated ("foo0" -> "foo")
    for ch in s[:32]:
        if not ("a" <= ch <= "z" or "A" <= ch <= "Z"):
            break
        test.append(ch)
    return fuzzy_cmp("".join(test), bs) >= 0
