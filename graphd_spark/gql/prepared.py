"""Prepared-parse shape cache: serve repeated query SHAPES without
re-parsing.

A serving workload repeats a handful of request templates with only
the string literals changing (point reads, cursor chains, parametrized
dashboards).  This module caches the parse per template *shape* — the
token stream with string-literal contents masked — and re-binds the
literals of each new request into the cached constraint tree, the
Python analog of a prepared statement (the reference amortizes the
same cost differently: its C parser is ~free per request, and its
iterator resource cache reuses the compiled form across a cursor
chain, graphd/graphd-iterator-resource.c).

Safety model — the recipe is DERIVED, not assumed:

- The shape key is the full token stream with string-literal text
  masked, plus every token's source position and each literal's
  content length.  Equal keys imply the identical grammar path,
  identical raw layout (so every position-bearing leaf in the IR is
  identical), and identical literal lengths.
- On the second sighting of a shape, each literal slot is probed by
  parsing two variants of the line with that slot's raw span replaced
  by two per-character-distinct alphanumeric fillers.  Leaves that
  differ between the two parses are exactly the leaves derived from
  that slot; each must equal the filler verbatim (identity transform)
  or the shape is marked unpatchable and keeps the full parse
  forever.  Any parse error, structural mismatch, or non-identity
  leaf does the same.
- The derived recipe is validated end-to-end: the current line's
  literals are patched into the variant parse and the result must be
  deep-equal (every leaf, positions included) to the line's own full
  parse.
- A shape with no literal slot (or only empty ones) stands for one
  token stream, so its own parse is the patch target and is served
  unchanged.
- Evaluation never mutates the parsed tree, so one patch target per
  shape can be re-bound per request; sessions are single-threaded.

The differential fuzz campaigns (tests/test_differential.py) replay
randomized literals over repeated shapes through both this engine and
the reference binary, exercising the patching on every seed.
"""

from __future__ import annotations

import re
from dataclasses import fields, is_dataclass
from typing import Callable, Optional

from graphd_spark.gql.lexer import STR, LexError, Token, tokenize
from graphd_spark.lru import LRU

#: max cached shapes per session (each holds one parsed request)
_MAX_SHAPES = 128

# raw-line templating: one C-regex pass replaces each quoted literal
# with a raw-content-length marker.  Two lines with equal raw keys have
# byte-identical text outside the matched literals and equal raw
# literal lengths, so they tokenize to identical streams (kinds,
# positions, texts) except the STR contents — the raw key is a
# strictly-finer proxy for shape_key that costs no tokenize.  The
# literal regex mirrors the lexer's string scan (backslash escapes, no
# raw newlines); any divergence (quotes inside '(: :)' comments,
# escaped newlines) is caught by the registration-time alignment check
# in ShapeCache.serve, which refuses the raw mapping unless the regex
# matches sit exactly on the STR token positions.
_RAW_STR = re.compile(r'"(?:[^"\\\n]|\\[^\n])*"')
_RAW_UNESC = re.compile(r"\\(.)")
_RAW_ESC_MAP = {"\\": "\\", '"': '"', "n": "\n"}


def raw_template(line: str) -> tuple[str, list[str], list[int]]:
    """(raw_key, unescaped literal contents, literal start offsets)."""
    lits: list[str] = []
    poss: list[int] = []

    def repl(m: re.Match) -> str:
        s = m.group(0)
        poss.append(m.start())
        seg = s[1:-1]
        if "\\" in seg:
            seg = _RAW_UNESC.sub(
                lambda mm: _RAW_ESC_MAP.get(mm.group(1), mm.group(1)),
                seg,
            )
        lits.append(seg)
        return '"\x00%d"' % (len(s) - 2)

    key = _RAW_STR.sub(repl, line)
    return key, lits, poss

#: walker skip-list: backrefs that would cycle (Constraint.parent)
#: and the serving verdict memo (shape-constant, never literal-bound)
_SKIP_ATTRS = {"parent", "fr_memo"}


def shape_key(toks: list[Token]) -> tuple:
    """Hashable shape of a token stream: kinds + positions + non-str
    texts; string literals contribute only their content length."""
    return tuple(
        (t.kind, t.pos, len(t.text) if t.kind == STR else t.text)
        for t in toks
    )


def _str_raw_span(line: str, pos: int) -> Optional[tuple[int, int]]:
    """(start, end) of the raw quoted literal at ``pos`` (end is one
    past the closing quote), or None if the span can't be scanned."""
    if pos >= len(line) or line[pos] != '"':
        return None
    i, n = pos + 1, len(line)
    while i < n:
        c = line[i]
        if c == "\\":
            i += 2
            continue
        if c == '"':
            return (pos, i + 1)
        if c == "\n":
            return None
        i += 1
    return None


_FILL_A = "qQ7zJ"
_FILL_B = "wZ3kP"


def _fillers(raw: str) -> tuple[str, str]:
    """Two alphanumeric fillers of len(raw), differing from the raw
    character and from each other at EVERY position, case-folded —
    so any per-position or case-folding transform of the literal is
    visible in the A/B diff."""
    a, b = [], []
    for ch in raw:
        cl = ch.lower()
        ca = next(x for x in _FILL_A if x.lower() != cl)
        cb = next(
            x for x in _FILL_B
            if x.lower() != cl and x.lower() != ca.lower()
        )
        a.append(ca)
        b.append(cb)
    return "".join(a), "".join(b)


def _diff(a, b, path: tuple, out: list) -> bool:
    """Structural diff: append (path, leaf_a, leaf_b) for every
    differing leaf; False on any structural mismatch."""
    if a is b:
        return True
    if type(a) is not type(b):
        return False
    if isinstance(a, (str, bytes)):
        if a != b:
            out.append((path, a, b))
        return True
    if isinstance(a, (int, float, bool)) or a is None:
        # non-string leaves may not depend on literal content
        return a == b
    if is_dataclass(a):
        for f in fields(a):
            if f.name in _SKIP_ATTRS:
                continue
            if not _diff(
                getattr(a, f.name), getattr(b, f.name),
                path + (("a", f.name),), out,
            ):
                return False
        return True
    if isinstance(a, (list, tuple)):
        if len(a) != len(b):
            return False
        for i, (xa, xb) in enumerate(zip(a, b)):
            if not _diff(xa, xb, path + (("i", i),), out):
                return False
        return True
    if isinstance(a, dict):
        if a.keys() != b.keys():
            return False
        for k in a:
            if not _diff(a[k], b[k], path + (("i", k),), out):
                return False
        return True
    return False  # unknown node type: refuse


def _deep_eq(a, b) -> bool:
    sink: list = []
    return _diff(a, b, (), sink) and not sink


def _apply(root, path: tuple, value):
    """Set the leaf at ``path`` to ``value``, rebuilding any
    intermediate tuples (immutable containers) bottom-up."""

    def rec(obj, i):
        step, name = path[i]
        last = i == len(path) - 1
        if last:
            new = value
        else:
            child = (
                getattr(obj, name) if step == "a" else obj[name]
            )
            new = rec(child, i + 1)
            if new is child:
                return obj  # mutated in place below this level
        if step == "a":
            setattr(obj, name, new)
            return obj
        if isinstance(obj, tuple):
            lst = list(obj)
            lst[name] = new
            return tuple(lst)
        obj[name] = new
        return obj

    rec(root, 0)


class _Entry:
    __slots__ = (
        "state", "target", "recipe", "slots", "compiled", "raw_tried",
    )

    def __init__(self):
        self.state = "seen"  # seen -> ready | nope
        self.target = None  # the shared patch-target Request
        self.recipe = None  # list[ list[path] ] per literal slot
        self.slots = None  # token indices of the str literals
        self.compiled = None  # per-slot resolved (kind, container, key)
        self.raw_tried = False  # raw-key registration attempted


def _bind(e: _Entry, texts: list[str]):
    """Patch one literal per slot into the entry's shared target."""
    for text, sets in zip(texts, e.compiled):
        for kind, container, last in sets:
            if kind == "a":
                setattr(container, last, text)
            elif kind == "i":
                container[last] = text
            else:  # tuple somewhere on the path: interpreted
                _apply(e.target, last, text)
    return e.target


class ShapeCache:
    """Per-session prepared-parse cache (single-threaded use)."""

    def __init__(self, parse: Callable[[str, list], object]):
        self._parse = parse  # (line, toks) -> Request
        self._entries = LRU(_MAX_SHAPES)  # shape_key -> entry
        self._raw = LRU(_MAX_SHAPES)  # raw_template key -> entry
        # exact-line fast path: a hot serving template repeats the
        # SAME line, so the raw_template regex pass amortizes to one
        # dict probe; the stored literals are deterministic in the
        # line, and the patch is re-applied per request (the entry's
        # target is shared across every line of the shape)
        self._rawline = LRU(_MAX_SHAPES)  # line -> (entry, lits)

    # -- serving -----------------------------------------------------------

    def serve(self, toks: list[Token], line: Optional[str] = None):
        """Patched Request for this token stream, or None (miss /
        unpatchable / not derived yet).  With ``line``, a ready hit
        registers the line's raw template so later same-shape lines
        can be served by :meth:`serve_raw` without tokenizing."""
        key = shape_key(toks)
        e = self._entries.get(key)
        if e is None or e.state != "ready":
            return None
        if line is not None and not e.raw_tried:
            self._register_raw(line, toks, e)
        return _bind(e, [toks[si].text for si in e.slots])

    def serve_raw(self, line: str):
        """Patched Request straight from the raw line — no tokenize.
        None on miss; the caller then takes the token path (whose
        ready hit registers the raw mapping for next time)."""
        hit = self._rawline.get(line)
        if hit is not None:
            e, lits = hit
        else:
            key, lits, _poss = raw_template(line)
            e = self._raw.get(key)
            if (
                e is None
                or e.state != "ready"
                or len(lits) != len(e.slots)
            ):
                return None
            self._rawline.put(line, (e, lits))
        return _bind(e, lits)

    def _register_raw(self, line: str, toks: list[Token], e: _Entry):
        """Map the line's raw template to ``e`` iff the regex literals
        align 1:1 with the STR tokens (same positions, same unescaped
        contents) — the invariant that makes serve_raw's in-order
        patch equivalent to the token path for every line sharing the
        raw key."""
        e.raw_tried = True
        key, lits, poss = raw_template(line)
        if len(lits) != len(e.slots):
            return
        for si, text, pos in zip(e.slots, lits, poss):
            if toks[si].pos != pos or toks[si].text != text:
                return
        self._raw.put(key, e)

    @staticmethod
    def _compile_paths(target, recipe):
        """Resolve each recipe path to its final (container, key) in
        the fixed patch target — patching becomes one setattr/setitem
        per leaf.  Paths crossing a tuple stay interpreted (the
        rebuild replaces containers)."""
        compiled = []
        for paths in recipe:
            sets = []
            for path in paths:
                obj = target
                tupled = False
                for step, name in path[:-1]:
                    nxt = (
                        getattr(obj, name) if step == "a" else obj[name]
                    )
                    if isinstance(nxt, tuple):
                        tupled = True
                        break
                    obj = nxt
                if tupled:
                    sets.append(("t", None, path))
                else:
                    step, name = path[-1]
                    sets.append((step, obj, name))
            compiled.append(sets)
        return compiled

    def observe(self, line: str, toks: list[Token], req) -> None:
        """Record a full parse of ``line``; derive the recipe on the
        shape's second sighting (one-shot shapes never pay it)."""
        key = shape_key(toks)
        e = self._entries.get(key)
        if e is None:
            self._entries.put(key, _Entry())
            return
        if e.state != "seen":
            return
        try:
            self._derive(e, line, toks, req)
        except Exception:
            e.state = "nope"

    # -- derivation ----------------------------------------------------------

    def _derive(self, e: _Entry, line: str, toks: list[Token], req):
        e.state = "nope"  # prove patchability or stay unpatchable
        slots = [i for i, t in enumerate(toks) if t.kind == STR]
        spans = []
        for i in slots:
            span = _str_raw_span(line, toks[i].pos)
            if span is None:
                return
            spans.append(span)
        recipe: list[list] = []
        target = req
        for i, (start, end) in zip(slots, spans):
            raw = line[start + 1:end - 1]
            if not raw:
                recipe.append([])  # zero-length slot: constant ""
                continue
            fa, fb = _fillers(raw)
            la = line[:start + 1] + fa + line[end - 1:]
            lb = line[:start + 1] + fb + line[end - 1:]
            ra = self._parse(la, tokenize(la))
            rb = self._parse(lb, tokenize(lb))
            diffs: list = []
            if not _diff(ra, rb, (), diffs) or not diffs:
                return
            paths = []
            for path, va, vb in diffs:
                if va != fa or vb != fb:
                    return  # non-identity transform: unpatchable
                paths.append(path)
            recipe.append(paths)
            target = rb  # any variant parse works as patch target
        # end-to-end validation: bind this line's literals into the
        # variant parse; it must reproduce the full parse exactly
        for si, paths in zip(slots, recipe):
            for path in paths:
                _apply(target, path, toks[si].text)
        if not _deep_eq(target, req):
            return
        e.slots, e.recipe, e.target = slots, recipe, target
        e.compiled = self._compile_paths(target, recipe)
        e.state = "ready"
