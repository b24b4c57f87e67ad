"""Prepared-parse shape cache (graphd_spark/gql/prepared.py).

The derivation/validation safety model in unit form, plus an
end-to-end A/B: the same request stream through a shape-serving
session and a full-parse session must produce byte-identical replies.
(The differential fuzz campaigns exercise the patching against the
reference binary wholesale; these tests pin the mechanism itself.)
"""

from __future__ import annotations

import pytest

from graphd_spark.api import GraphSession
from graphd_spark.gql.lexer import tokenize
from graphd_spark.gql.parser import parse_request
from graphd_spark.gql.prepared import (
    ShapeCache,
    _deep_eq,
    _fillers,
    shape_key,
)


def _cache():
    return ShapeCache(lambda l, t: parse_request(l, toks=t))


def _teach(sc, lines):
    """First two sightings of a shape: full parse + observe."""
    for ln in lines:
        toks = tokenize(ln)
        assert sc.serve(toks) is None
        sc.observe(ln, toks, parse_request(ln, toks=toks))


TEMPLATE_2HOP = (
    'read (name="nation" value="{v}" result=((value)) '
    '(<-left name="in-region" right->(name="region" '
    "result=((value)))))"
)


def test_patched_ir_deep_equals_fresh_parse():
    sc = _cache()
    _teach(sc, [TEMPLATE_2HOP.format(v=f"n{i:06d}") for i in range(2)])
    for i in range(2, 6):
        ln = TEMPLATE_2HOP.format(v=f"n{i:06d}")
        got = sc.serve(tokenize(ln))
        assert got is not None
        assert _deep_eq(got, parse_request(ln, toks=tokenize(ln)))


def test_shape_key_separates_layouts():
    # same literals, different raw layout (added space) -> other shape
    a = tokenize('read (value="x" result=((value)))')
    b = tokenize('read (value="x"  result=((value)))')
    assert shape_key(a) != shape_key(b)
    # different literal LENGTH -> other shape (keeps positions and
    # any length-derived leaf shape-constant)
    c = tokenize('read (value="xy" result=((value)))')
    assert shape_key(a) != shape_key(c)
    # same length, different content -> same shape
    d = tokenize('read (value="y" result=((value)))')
    assert shape_key(a) == shape_key(d)


def test_fillers_differ_casefolded_everywhere():
    for raw in ("nation", "QQQQ", "q7zJ", "a", "zZzZzZ"):
        fa, fb = _fillers(raw)
        assert len(fa) == len(fb) == len(raw)
        for ra, ca, cb in zip(raw, fa, fb):
            assert ca.lower() != ra.lower()
            assert cb.lower() != ra.lower()
            assert ca.lower() != cb.lower()


def test_one_shot_shapes_never_derive():
    sc = _cache()
    ln = 'read (value="once" result=((value)))'
    toks = tokenize(ln)
    sc.observe(ln, toks, parse_request(ln, toks=toks))
    e = sc._entries[shape_key(toks)]
    assert e.state == "seen"  # no derivation work paid yet


def test_unparseable_variant_marks_shape_unpatchable():
    # a parse fn that rejects filler content proves the conservative
    # fallback: the shape is pinned 'nope', never patch-served
    def parse(line, toks):
        req = parse_request(line, toks=toks)
        for t in toks:
            if t.kind == "str" and t.text not in ("ab", "cd", "zz"):
                raise ValueError("content-validating parser")
        return req

    sc = ShapeCache(parse)
    lines = ['read (value="ab" result=((value)))',
             'read (value="cd" result=((value)))']
    for ln in lines:
        toks = tokenize(ln)
        sc.observe(ln, toks, parse(ln, tokenize(ln)))
    e = sc._entries[shape_key(tokenize(lines[0]))]
    assert e.state == "nope"
    assert sc.serve(tokenize('read (value="zz" result=((value)))')) is None


@pytest.fixture()
def _ab_sessions(spark):
    writes = [
        'write (name="nation" value="n%d" (<-left name="in-region" '
        'right->(name="region" value="R%d")))' % (i, i % 3)
        for i in range(8)
    ]
    a = GraphSession(spark)
    b = GraphSession(spark)
    b.prepared_shapes_enabled = False
    for w in writes:
        ra, rb = a.request(w), b.request(w)
        assert ra == rb
    return a, b


def test_ab_replies_identical_with_and_without_shapes(_ab_sessions):
    a, b = _ab_sessions
    reads = []
    for i in range(8):
        reads += [
            f'read (name="nation" value="n{i}" result=((value)) '
            f'(<-left name="in-region" right->(name="region" '
            f"result=((value)))))",
            f'read (value="R{i % 3}" result=((guid value name)))',
            f'read (value~="n{i}" result=((value)))',
            f'read (value="n{i}" pagesize=1 result=((value cursor)))',
        ]
    # interleave repeats so shapes derive and then serve
    for ln in reads * 3:
        assert a.request(ln) == b.request(ln), ln
    # the shape cache actually engaged (not vacuous)
    assert any(
        e.state == "ready" for e in a._shape_cache._entries.values()
    )


def test_literal_free_read_is_served_from_its_shape(spark, monkeypatch):
    # a read with no string literal has one token stream per shape:
    # its second sighting makes the shape ready with its own parse as
    # the target, and later repeats are served without a parse
    import graphd_spark.api as api

    s = GraphSession(spark)
    s.request('write (name="nation" value="n0")')
    line = "read (pagesize=1 result=((value)))"
    calls = []
    real = api.parse_request

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(api, "parse_request", counting)
    first = s.request(line)
    assert s.request(line) == first
    e = s._shape_cache._entries[shape_key(tokenize(line))]
    assert e.state == "ready"
    n = len(calls)
    assert s.request(line) == first == 'ok (("n0"))'
    assert len(calls) == n


def test_memos_stay_bounded_past_their_caps(_ab_sessions):
    # 150 distinct shapes, each seen four times with distinct lines
    # (observe, derive, token-path serve, raw-line serve): every
    # session memo evicts down to its cap, and the replies still
    # equal a full-parse session's
    a, b = _ab_sessions
    for k in range(1, 151):
        for j in range(4):
            ln = f'read (value="n{j}" pagesize={k} result=((value)))'
            assert a.request(ln) == b.request(ln), ln
    sc = a._shape_cache
    memos = [
        sc._entries, sc._raw, sc._rawline, a.store._eval_cache,
        a.store._base_frame_memo,
    ]
    assert all(len(m) <= m.cap for m in memos)
    assert len(sc._entries) == len(sc._raw) == len(sc._rawline) == 128
    assert len(a.store._eval_cache) == 32


def test_cursor_chain_pages_identically(_ab_sessions):
    a, b = _ab_sessions
    first = 'read (name="nation" pagesize=2 result=((value cursor)))'
    ra, rb = a.request(first), b.request(first)
    assert ra == rb
    import re

    for _ in range(5):
        m = re.search(r'"([^"]*graphd-cursor[^"]*)"', ra)
        if m is None:
            break
        nxt = (
            'read (name="nation" pagesize=2 cursor="%s" '
            "result=((value cursor)))" % m.group(1)
        )
        ra, rb = a.request(nxt), b.request(nxt)
        assert ra == rb
