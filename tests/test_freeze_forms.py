"""Snapshot of the root iterator freeze forms, through both read paths.

The two read evaluators (the Spark ``Compiler`` and the driver
``FastReader``) share one freeze layer (``graphd_spark/freeze.py``), so
a two-path sweep alone cannot catch a fault in it: both paths would
print the same wrong cursor.  Each case here builds a small store that
meets one freeze form's preconditions, pages the read through a
fast-path session and a ``fast_read_enabled=False`` session, and
asserts byte-identical replies AND the frozen cursor strings as
literals — forward and, where the form has one, backward
(``sort=(-timestamp)`` runs the producer high-to-low).

Forms and the helper that freezes each: the all-scan; guid= ``fixed``;
a bare ``gmap`` index; an ``hmap`` bin; eq/glob ``fixed`` over the
first match ids; prefix-bin ``fixed``; ``_preevaluate_small_set``
(``fixed`` over a cheap member intersection); ``_sub_gmap_cursor``;
``_and_cursor`` with ``_linksto_member`` members and with a gmap
producer (``[pp:]`` and its extra resource stamp); the
``_linksto_masquerade`` and ``_isa_masquerade`` (hmap, gmap and vip
subiterators) ``fixed:(...)`` sets; ``_or_linksto_cursor``; and
``_isa_prefix_cursor``.  Resumed pages re-freeze the continuation
(all, fixed, gmap forward and backward).
"""

from __future__ import annotations

import re

import pytest

from graphd_spark.api import GraphSession

_GUID = re.compile(r"\(([0-9a-f]{32})\)")
_CURSOR = re.compile(r'"((?:cursor|sort|position|null):[^"]*)"')


def _build(gs: GraphSession) -> dict:
    """One store, a cluster per form (ids in parentheses)."""
    def w(req):
        return _GUID.search(gs.request(req)).group(1)

    # A (0), B (1); 8 word values (2-9); 12 links A->B named "lnk"
    # whose values start with "ab" (10-21)
    v = {"A": w('write (value="a")'), "B": w('write (value="b")')}
    for i in range(8):
        gs.request(f'write (value="abc{i} x")')
    for i in range(12):
        gs.request(
            f'write (name="lnk" value="ab{i}" left={v["A"]} right={v["B"]})'
        )
    v["G0"], v["G1"], v["G2"] = (
        _GUID.findall(gs.request(
            'read (name="lnk" pagesize=3 result=((guid)))'
        ))
    )
    # two hubs and two targets, 9 links between them (22-34)
    hubs = [w('write (name="hub")') for _ in range(2)]
    tgts = [w('write (name="tgt")') for _ in range(2)]
    for i in range(9):
        gs.request(f'write (left={hubs[i % 2]} right={tgts[i % 2]})')
    # one hub H (35), two "tg2" targets, 320 links H->tg2 (38-357)
    v["H"] = w('write (value="h3")')
    t2 = [w('write (name="tg2")') for _ in range(2)]
    links = [
        w(f'write (left={v["H"]} right={t2[i % 2]})') for i in range(320)
    ]
    # Q (358), ten targets (359-368), each pointed at by one "src" row
    # of type "tt" (typeguid 376) whose right is Q (378-387)
    v["Q"] = w('write (value="q")')
    ps = [w(f'write (value="p{i}")') for i in range(10)]
    for p in ps:
        gs.request(f'write (name="src" type="tt" left={p} right={v["Q"]})')
    # 101 "zz" words, each pointing at a distinct link (388-488)
    for i in range(101):
        gs.request(f'write (value="zz{i}" left={links[i]})')
    return v


#: (read, frozen cursor of each page followed) — literals recorded on
#: both read paths; ``$X`` names a guid from _build
FORMS = [
    # all-scan, backward (resumed: all:~ re-freeze)
    ('read (any sort=(-timestamp) pagesize=8 result=(cursor (guid)))', [
        'cursor:127b:[o:8][n:489]all:~0-489/8/',
        'cursor:7b1e:[o:16][n:489]all:~0-489/16/',
    ]),
    # guid= fixed set in list order
    ('read (guid=($G0 $G1 $G2) pagesize=2 result=(cursor (guid)))', [
        'cursor:d12b:[o:2][n:489]fixed:3:10,11,12/2/',
    ]),
    # single-linkage gmap (resumed: gmap re-freeze)
    ('read (right=$B pagesize=5 result=(cursor (guid)))', [
        'cursor:8093:[o:5][n:489]gmap:10-22:r->1/5/',
        'cursor:fefc:[o:10][n:489]gmap:10-22:r->1/10/',
    ]),
    # hmap bin, forward and backward
    ('read (name="lnk" pagesize=5 result=(cursor (guid)))', [
        'cursor:a17c:[o:5][n:489]hmap:10-22:pool:name:121349:lnk/5/',
    ]),
    ('read (name="lnk" sort=(-timestamp) pagesize=5 result=(cursor (guid)))', [
        'cursor:d14e:[o:5][n:489]hmap:~10-22:pool:name:121349:lnk/5/',
    ]),
    # eq/glob fixed over the first match ids, backward (resumed:
    # fixed:~ re-freeze)
    ('read (left=$A value~="ab*" sort=(-timestamp) pagesize=5 result=(cursor '
     '(guid)))', [
         'cursor:c86d:[o:5][n:489]fixed:~12:10,11,12,13,14,15,16,17,18,19,20,'
         '21/5/',
         'cursor:7806:[o:10][n:489]fixed:~12:10,11,12,13,14,15,16,17,18,19,20'
         ',21/10/',
     ]),
    # prefix-bin fixed (resumed: fixed re-freeze)
    ('read (value~="abc*" pagesize=3 result=(cursor (guid)))', [
        'cursor:0088:[o:3][n:489]fixed:8:2,3,4,5,6,7,8,9/3/',
        'cursor:00b4:[o:6][n:489]fixed:8:2,3,4,5,6,7,8,9/6/',
    ]),
    # _preevaluate_small_set: two gmaps, forward; a gmap and a
    # single-source sub, backward
    ('read (left=$A right=$B pagesize=5 result=(cursor (guid)))', [
        'cursor:5931:[o:5][n:489]fixed:12:10,11,12,13,14,15,16,17,18,19,20,21'
        '/5/',
    ]),
    ('read (pagesize=2 result=(cursor (guid)) right->(value="b") left=$A sort'
     '=(-timestamp))', [
         'cursor:a167:[o:2][n:489]fixed:~12:10,11,12,13,14,15,16,17,18,19,20,'
         '21/2/',
     ]),
    # _sub_gmap_cursor, backward (resumed: gmap:~ re-freeze)
    ('read (pagesize=5 sort=(-timestamp) result=(cursor (guid)) left->(value='
     '"a"))', [
         'cursor:b992:[o:5][n:489]gmap:~10-22:l->0/5/',
         'cursor:98a7:[o:10][n:489]gmap:~10-22:l->0/10/',
     ]),
    # _and_cursor over two _linksto_member members ([psz:] drops on
    # the resume of a linksto-led and), forward and backward
    ('read (pagesize=3 result=(cursor (guid)) left->(name="hub") right->(name'
     '="tgt"))', [
         'cursor:844f:[o:3][n:489]and:#26-35:2:[psz:3][ov:0](or:(or-linksto:+'
         '26-35:r->(hmap:24-26:pool:name:129839:tgt)))(or:(or-linksto:+26-35:'
         'l->(hmap:22-24:pool:name:117215:hub)))[pro:0]/28/@0123456789ab1',
         'cursor:a9ef:[o:6][n:489]and:#26-35:2:[ov:0](or:(or-linksto:+26-35:r'
         '->(hmap:24-26:pool:name:129839:tgt)))(or:(or-linksto:+26-35:l->(hma'
         'p:22-24:pool:name:117215:hub)))[pro:0]/31/@0123456789ab2',
     ]),
    ('read (pagesize=3 sort=(-timestamp) result=(cursor (guid)) left->(name="'
     'hub") right->(name="tgt"))', [
         'cursor:c783:[o:3][n:489]and:-26-35:2:[psz:3][ov:0](or:(or-linksto:+'
         '26-35:r->(hmap:24-26:pool:name:129839:tgt)))(or:(or-linksto:+26-35:'
         'l->(hmap:22-24:pool:name:117215:hub)))[pro:0]/32/@0123456789ab3',
     ]),
    # _and_cursor with a gmap producer: [pp:] from position 5, one
    # extra stamp crossing the 6th pull
    ('read (left=$H pagesize=3 result=(cursor (guid)) right->(name="tg2"))', [
        'cursor:5c60:[o:3][n:489]and:#38-358:2:[psz:3][ov:0](gmap:38-358:l->3'
        '5)(or:(or-linksto:+38-358:r->(hmap:36-38:pool:name:129773:tg2)))[pro'
        ':0]/40/@0123456789ab4',
        'cursor:e1df:[o:6][n:489]and:#38-358:2:[psz:3][ov:0](gmap:38-358:l->3'
        '5)(or:(or-linksto:+38-358:r->(hmap:36-38:pool:name:129773:tg2)))[pro'
        ':0]/43[pp:6]/@0123456789ab6',
    ]),
    # _linksto_masquerade: an iam expansion of more than 7 links
    ('read (pagesize=4 result=(cursor (guid)) right->(name="tgt"))', [
        'cursor:8548:[o:4][n:489]fixed:(fixed-linksto:+25:r->(hmap:24-26:pool'
        ':name:129839:tgt))/4/9:26,27,28,29,30,31,32,33,34',
    ]),
    # _or_linksto_cursor: past the 100-id materialize window
    ('read (pagesize=100 result=(cursor (guid)) right->(name="tg2"))', [
        'cursor:e925:[o:100][n:489]or:(or-linksto:+38-358:r->(hmap:36-38:pool'
        ':name:129773:tg2))/137/@0123456789ab7',
    ]),
    # _isa_masquerade over an hmap sub (10 targets: a cached
    # resource), backward first: the forward chain then prints the
    # cached resource's direction marker
    ('read (pagesize=4 sort=(-timestamp) result=(cursor (guid)) (<-left name='
     '"src"))', [
         'cursor:5c06:[o:4][n:489]fixed:(fixed-isa:~359-369:l<-(hmap:378-388:'
         'pool:name:129096:src)[hint:0])/4/~[cache:@0123456789ab8]',
     ]),
    ('read (pagesize=4 result=(cursor (guid)) (<-left name="src"))', [
        'cursor:0707:[o:4][n:489]fixed:(fixed-isa:~359-369:l<-(hmap:378-388:p'
        'ool:name:129096:src)[hint:0])/4/[cache:@0123456789ab8]',
    ]),
    # _isa_masquerade over a gmap and a vip subiterator
    ('read (pagesize=4 result=(cursor (guid)) (<-left type="tt"))', [
        'cursor:1ce9:[o:4][n:489]fixed:(fixed-isa:359-369:l<-(gmap:378-388:t-'
        '>376)[hint:0])/4/[cache:@0123456789ab9]',
    ]),
    ('read (pagesize=4 result=(cursor (guid)) (<-left type="tt" right=$Q))', [
        'cursor:0c9b:[o:4][n:489]fixed:(fixed-isa:359-369:l<-(vip:378-388:r+0'
        '0000012400034568000000000000178->358)[hint:0])/4/[cache:@0123456789a'
        'b10]',
    ]),
    # _isa_prefix_cursor: 101 distinct targets of a word prefix
    ('read (pagesize=40 result=(cursor (guid)) (<-left value~="zz*"))', [
        'cursor:f91e:[o:40][n:489]isa:0-488:l<-(prefix:388-489:zz)/77:~-[sp:4'
        '0]/0:(-/[st:101:4:1515])-:34:16:100:-:[sd:(prefix:388-489:zz/160/[st'
        ':101:4:1515])@0123456789ab11]',
    ]),
]


def test_freeze_forms(spark):
    """Every form in FORMS, in order, on one pair of sessions (the
    resource stamps count up across the forms)."""
    fast = GraphSession(spark)
    slow = GraphSession(spark)
    slow.fast_read_enabled = False
    v = _build(fast)
    assert _build(slow) == v
    for read, cursors in FORMS:
        for name, g in v.items():
            read = read.replace("$" + name, g)
        got = []
        for _page in cursors:
            req = read
            if got:
                esc = got[-1].replace("\\", "\\\\").replace('"', '\\"')
                req = read.replace(
                    "result=(cursor", f'cursor="{esc}" result=(cursor', 1
                )
            reply = fast.request(req)
            assert slow.request(req) == reply, req
            m = _CURSOR.search(reply)
            assert m is not None, reply
            got.append(m.group(1))
        assert got == cursors, read
