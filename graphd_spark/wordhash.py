"""The reference's word index: 5-bit char hashes, 25-bit word codes.

The word index (``~=`` candidates) does not store words — it stores
**hash codes**: each indexed word maps to a 25-bit code of five 5-bit
per-character hash values (first five Unicode chars, left-aligned,
ref ``libpdb/pdb-word.c:163-263`` ``pdb_word_hash``), and the index
bin for a code holds every primitive id whose value contains ANY word
with that code.  Distinct words collide — the per-char table folds
case and projects digits into letter slots ('7' and 'z' share slot
28), so a value "007" (indexed under its number-normalized word "7")
lands in the same bin as "zebra"'s prefix bin.  A prefix scan for
``value~="P*"`` unions every existing bin whose code starts with
hash(P) (``libpdb/pdb-prefix.c``), so its CANDIDATE set legitimately
contains such false positives — the glob check filters them from
results, but frozen cursors expose the raw candidate ids, which is
why cursor parity needs this exact binning.

Tokenization for indexing is ``pdb_word_chop``
(``libpdb/pdb-word.c:305-400``): word fragments as-is; number
fragments contribute the integral part, the fraction digits, the
string-normalized number, and the normalized integral part.
"""

from __future__ import annotations

from graphd_spark.comparators import (
    ATOM,
    NUMBER,
    fragments,
    word_number_normalize,
)

# per-character 5-bit hash (ref libpdb/pdb-word.c:32-75 ascii_to_hash):
# letters a..z case-folded to 3..28; digits projected into letter slots
# for distribution; punctuation families share slots; unlisted -> 0
_ASCII_TO_HASH = [0] * 128
for _i, _c in enumerate("abcdefghijklmnopqrstuvwxyz"):
    _ASCII_TO_HASH[ord(_c)] = 3 + _i
    _ASCII_TO_HASH[ord(_c.upper())] = 3 + _i
for _c, _h in zip("0123456789", (1, 2, 17, 19, 24, 26, 27, 28, 29, 30)):
    _ASCII_TO_HASH[ord(_c)] = _h
for _c, _h in (
    (" ", 1), ("\t", 1), ("\n", 1), ("\r", 1),
    ("&", 2), ("*", 3), ("@", 4), ("^", 5),
    ("}", 6), (")", 6), ("]", 6), (":", 7), (",", 8), ("-", 9),
    ("$", 10), ('"', 11), ("=", 12), ("!", 13), (">", 14), ("<", 15),
    ("#", 16), ("{", 17), ("(", 17), ("[", 17), ("%", 18), ("+", 19),
    (".", 20), ("?", 22), ("'", 23), ("`", 23), (";", 24),
    ("/", 25), ("\\", 25), ("~", 27), ("_", 28), ("|", 29),
):
    _ASCII_TO_HASH[ord(_c)] = _h


def _hash_value(cp: int) -> int:
    """5-bit hash of one Unicode codepoint (pdb-word.c hash_value:
    table for ASCII; low 5 bits otherwise, 0x1F mapped to 0x1E so the
    stop value never occurs)."""
    if cp <= 0x7F:
        return _ASCII_TO_HASH[cp]
    v = cp & 0x1F
    return 0x1E if v == 0x1F else v


def word_hash(word: str) -> int:
    """25-bit packed code of the first five chars, left-aligned
    (pdb_word_hash, libpdb/pdb-word.c:163-263)."""
    h = 0
    n = 5
    for ch in word[:5]:
        h = (h << 5) | _hash_value(ord(ch))
        n -= 1
    return h << (n * 5)


def prefix_mask(prefix: str) -> int:
    """Bits of the code constrained by a prefix of this length
    (LAST_N_CHARS_MASKED(len) << 5*(5-len), libpdb/pdb-prefix.c:23);
    five or more chars constrain the full code — PDB makes no
    difference between 5-char prefixes and words
    (graphd-iterator-prefix.c:914-921)."""
    n = min(len(prefix), 5)
    return ((1 << (n * 5)) - 1) << (5 * (5 - n))


def prefix_bins(word_ids: dict, prefix: str):
    """The id lists of the word-index bins (``code -> ids``) a prefix
    scan for ``prefix`` enumerates: hash-bucket membership, a superset
    of the true matches (libpdb/pdb-prefix.c candidate arrays)."""
    mask = prefix_mask(prefix)
    want = word_hash(prefix) & mask
    return (lst for code, lst in word_ids.items() if (code & mask) == want)


def chop_words(value: str) -> list[str]:
    """The words pdb_word_chop indexes for one value (may repeat;
    the index dedups per (code, id))."""
    out: list[str] = []
    for frag, typ in fragments(value):
        if typ == ATOM:
            out.append(frag)
        elif typ == NUMBER:
            dot = frag.find(".")
            if dot < 0:
                int_part, frac = frag, ""
            else:
                int_part, frac = frag[:dot], frag[dot + 1 :]
            if int_part:
                out.append(int_part)
            if frac:
                out.append(frac)
            norm = word_number_normalize(frag)
            if norm != int_part:
                out.append(norm)
                ndot = norm.find(".")
                if ndot >= 0:
                    out.append(norm[:ndot])
    return out


def value_word_codes(value: str) -> set[int]:
    """All word-index codes one value occupies."""
    return {word_hash(w) for w in chop_words(value)}


def prefix_match_codes(value: str, prefix: str) -> bool:
    """True when any of the value's indexed words lands in a bin the
    prefix scan for ``prefix`` enumerates."""
    mask = prefix_mask(prefix)
    want = word_hash(prefix) & mask
    return any((c & mask) == want for c in value_word_codes(value))
