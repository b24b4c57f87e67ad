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
(all, fixed, gmap, hmap forward and backward, the masqueraded
``fixed:(...)`` sets), which runs the one thaw both paths share
(``freeze.thaw``); so do the subconstraint forms (``gmap``, ``vip`` and
``fixed``, forward and backward).  ``REPLIES`` pins whole replies: a
subconstraint's ``null:`` resume, an unrecognized ``[...]`` block in
each cursor envelope scanner's input, pasted iterator cursors the
thaw resumes (a subconstraint's ``hmap``, ``and`` and masqueraded
``fixed``, a root's ``vip``), a sort: cursor in a sub sorted by
a generation key, and the root sort's number-comparator drop and
unsorted range order.  ``SORT_CASES`` pins the root sort policy
(``sortsim.py``) on small stores of their own: the number drop and
the producers that keep non-numbers, each comparator's range scan
order, and ``sort:`` chains over rows with and without the key, with
a boundary tombstoned between pages.
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
        'cursor:d456:[o:10][n:489]hmap:10-22:pool:name:121349:lnk/10/',
    ]),
    ('read (name="lnk" sort=(-timestamp) pagesize=5 result=(cursor (guid)))', [
        'cursor:d14e:[o:5][n:489]hmap:~10-22:pool:name:121349:lnk/5/',
        'cursor:eac2:[o:10][n:489]hmap:~10-22:pool:name:121349:lnk/10/',
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
        'cursor:864b:[o:8][n:489]fixed:(fixed-linksto:+25:r->(hmap:24-26:pool'
        ':name:129839:tgt))/8/9:26,27,28,29,30,31,32,33,34',
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
         'cursor:8406:[o:8][n:489]fixed:(fixed-isa:~359-369:l<-(hmap:378-388:'
         'pool:name:129096:src)[hint:0])/8/~[cache:@0123456789ab8]',
     ]),
    ('read (pagesize=4 result=(cursor (guid)) (<-left name="src"))', [
        'cursor:0707:[o:4][n:489]fixed:(fixed-isa:~359-369:l<-(hmap:378-388:p'
        'ool:name:129096:src)[hint:0])/4/[cache:@0123456789ab8]',
        'cursor:6b07:[o:8][n:489]fixed:(fixed-isa:~359-369:l<-(hmap:378-388:p'
        'ool:name:129096:src)[hint:0])/8/[cache:@0123456789ab8]',
    ]),
    # _isa_masquerade over a gmap and a vip subiterator
    ('read (pagesize=4 result=(cursor (guid)) (<-left type="tt"))', [
        'cursor:1ce9:[o:4][n:489]fixed:(fixed-isa:359-369:l<-(gmap:378-388:t-'
        '>376)[hint:0])/4/[cache:@0123456789ab9]',
        'cursor:d0e9:[o:8][n:489]fixed:(fixed-isa:359-369:l<-(gmap:378-388:t-'
        '>376)[hint:0])/8/[cache:@0123456789ab9]',
    ]),
    ('read (pagesize=4 result=(cursor (guid)) (<-left type="tt" right=$Q))', [
        'cursor:0c9b:[o:4][n:489]fixed:(fixed-isa:359-369:l<-(vip:378-388:r+0'
        '0000012400034568000000000000178->358)[hint:0])/4/[cache:@0123456789a'
        'b10]',
        'cursor:949a:[o:8][n:489]fixed:(fixed-isa:359-369:l<-(vip:378-388:r+0'
        '0000012400034568000000000000178->358)[hint:0])/8/[cache:@0123456789a'
        'b10]',
    ]),
    # _isa_prefix_cursor: 101 distinct targets of a word prefix
    ('read (pagesize=40 result=(cursor (guid)) (<-left value~="zz*"))', [
        'cursor:f91e:[o:40][n:489]isa:0-488:l<-(prefix:388-489:zz)/77:~-[sp:4'
        '0]/0:(-/[st:101:4:1515])-:34:16:100:-:[sd:(prefix:388-489:zz/160/[st'
        ':101:4:1515])@0123456789ab11]',
    ]),
    # subconstraint forms: the first page and its resume
    ('read (value="a" result=((guid contents)) (<-left pagesize=5 result=('
     'cursor (guid))))', [
        'cursor:023d:[o:5][n:489]gmap:10-22:l->0/5/',
        'cursor:6d62:[o:10][n:489]gmap:10-22:l->0/10/',
    ]),
    ('read (value="a" result=((guid contents)) (<-left sort=(-timestamp) '
     'pagesize=5 result=(cursor (guid))))', [
        'cursor:4830:[o:5][n:489]gmap:~10-22:l->0/5/',
        'cursor:6905:[o:10][n:489]gmap:~10-22:l->0/10/',
    ]),
    ('read (value="q" result=((guid contents)) (<-right type="tt" pagesize=4'
     ' result=(cursor (guid))))', [
        'cursor:15f8:[o:4][n:489]vip:378-388:r+0000001240003456800000000000'
        '0178->358/381/(fixed:10:378,379,380,381,382,383,384,385,386,387/4/'
        ')',
        'cursor:1498:[o:8][n:489]vip:378-388:r+0000001240003456800000000000'
        '0178->358/385/(fixed:10:378,379,380,381,382,383,384,385,386,387/8/'
        ')',
    ]),
    ('read (value="q" result=((guid contents)) (<-right type="tt" sort=(-ti'
     'mestamp) pagesize=4 result=(cursor (guid))))', [
        'cursor:50f9:[o:4][n:489]vip:~378-388:r+000000124000345680000000000'
        '00178->358/384/(fixed:~10:378,379,380,381,382,383,384,385,386,387/'
        '4/)',
        'cursor:5899:[o:8][n:489]vip:~378-388:r+000000124000345680000000000'
        '00178->358/380/(fixed:~10:378,379,380,381,382,383,384,385,386,387/'
        '8/)',
    ]),
    ('read (value="a" result=((guid contents)) (<-left value~="ab*" pagesiz'
     'e=5 result=(cursor (guid))))', [
        'cursor:941b:[o:5][n:489]fixed:12:10,11,12,13,14,15,16,17,18,19,20,'
        '21/5/',
        'cursor:3dbd:[o:10][n:489]fixed:12:10,11,12,13,14,15,16,17,18,19,20'
        ',21/10/',
    ]),
    ('read (value="a" result=((guid contents)) (<-left value~="ab*" sort=(-'
     'timestamp) pagesize=5 result=(cursor (guid))))', [
        'cursor:17f1:[o:5][n:489]fixed:~12:10,11,12,13,14,15,16,17,18,19,20'
        ',21/5/',
        'cursor:a79a:[o:10][n:489]fixed:~12:10,11,12,13,14,15,16,17,18,19,2'
        '0,21/10/',
    ]),
]

#: (read, reply) — literal replies, recorded on both read paths
REPLIES = [
    # an exhausted subconstraint cursor yields no children, and the
    # mandatory sub drops its parent
    ('read (value="a" result=((guid contents)) (<-left cursor="null:" pagesi'
     'ze=5 result=(cursor (guid))))', 'error EMPTY "not found"'),
    # an unrecognized [..] block in the cursor envelope: a modeled
    # iterator freeze refuses it ...
    ('read (right=$B pagesize=5 cursor="cursor:8093:[x:1][o:5][n:489]gmap:10'
     '-22:r->1/5/" result=(cursor (guid)))',
     'error BADCURSOR "cannot parse old-style cursor \\"cursor:8093:[x:1][o:'
     '5][n:489]gmap:10-22:r->1/5/\\""'),
    # ... a root sort: cursor skips it ...
    ('read (name="lnk" sort=(value) pagesize=5 cursor="sort:[x:1][o:5][n:489'
     ']s3:ab2g0000001240003456800000000000000c" result=(cursor (guid value)))',
     'ok ("sort:[o:10][n:489]s3:ab7g00000012400034568000000000000011" (00000'
     '01240003456800000000000000d "ab3") (0000001240003456800000000000000e "'
     'ab4") (0000001240003456800000000000000f "ab5") (0000001240003456800000'
     '0000000010 "ab6") (00000012400034568000000000000011 "ab7"))'),
    # ... and a sorted sub's sort: cursor stops at it (the fast path
    # refuses the cursor and the compiled path answers)
    ('read (value="a" result=((guid contents)) (<-left sort=(value) pagesize'
     '=5 cursor="sort:[o:5][x:1][n:489]s3:ab2g0000001240003456800000000000000'
     'c" result=(cursor (guid value))))',
     'ok ((00000012400034568000000000000000 ("null:" (0000001240003456800000'
     '000000000a "ab0") (0000001240003456800000000000000b "ab1") (0000001240'
     '0034568000000000000014 "ab10") (00000012400034568000000000000015 "ab11'
     '") (0000001240003456800000000000000c "ab2"))))'),
    # pasted iterator cursors resume the chain past their position, on
    # both read paths: a subconstraint's hmap, forward and backward,
    # and its and-iterator, a root's vip ...
    ('read (value="a" result=((guid contents)) (<-left name="lnk" pagesize=5 c'
     'ursor="hmap:10-22:pool:name:121349:lnk/5/" result=(cursor (guid))))',
     'ok ((00000012400034568000000000000000 ("cursor:71ff:[o:5][n:489]fixed:12'
     ':10,11,12,13,14,15,16,17,18,19,20,21/10/" (00000012400034568000000000000'
     '00f) (00000012400034568000000000000010) (0000001240003456800000000000001'
     '1) (00000012400034568000000000000012) (00000012400034568000000000000013)'
     ')))'),
    ('read (value="a" result=((guid contents)) (<-left name="lnk" sort=(-times'
     'tamp) pagesize=5 cursor="hmap:~10-22:pool:name:121349:lnk/5/" result=(cu'
     'rsor (guid))))',
     'ok ((00000012400034568000000000000000 ("cursor:b36d:[o:5][n:489]fixed:~1'
     '2:10,11,12,13,14,15,16,17,18,19,20,21/10/" (0000001240003456800000000000'
     '0010) (0000001240003456800000000000000f) (000000124000345680000000000000'
     '0e) (0000001240003456800000000000000d) (0000001240003456800000000000000c'
     '))))'),
    ('read (value="h3" result=((guid contents)) (<-left pagesize=3 right->(nam'
     'e="tg2") cursor="and:#38-358:2:[psz:3][ov:0](gmap:38-358:l->35)(or:(or-l'
     'inksto:+38-358:r->(hmap:36-38:pool:name:129773:tg2)))[pro:0]/40/@0123456'
     '789ab4" result=(cursor (guid))))',
     'ok ((00000012400034568000000000000023 ("null:" (000000124000345680000000'
     '00000029) (0000001240003456800000000000002a) (00000012400034568000000000'
     '00002b))))'),
    ('read (type="tt" right=$Q pagesize=4 cursor="vip:378-388:r+00000012400034'
     '568000000000000178->358/381/(fixed:10:378,379,380,381,382,383,384,385,38'
     '6,387/4/)" result=(cursor (guid)))',
     'ok ("cursor:d4f1:[o:4][n:489]fixed:10:378,379,380,381,382,383,384,385,38'
     '6,387/8/" (0000001240003456800000000000017e) (00000012400034568000000000'
     '00017f) (00000012400034568000000000000180) (0000001240003456800000000000'
     '0181))'),
    # ... and a subconstraint's masqueraded fixed set with inline ids
    ('read (name="tgt" result=((guid contents)) (<-right pagesize=2 cursor="fi'
     'xed:(fixed-linksto:+25:r->(hmap:24-26:pool:name:129839:tgt))/4/9:26,27,2'
     '8,29,30,31,32,33,34" result=(cursor (guid))))',
     'ok ((00000012400034568000000000000018 ("cursor:1d51:[o:2][n:489]gmap:26-'
     '35:r->24/4/" (0000001240003456800000000000001e) (00000012400034568000000'
     '000000020))) (00000012400034568000000000000019 ("null:" (000000124000345'
     '6800000000000001f) (00000012400034568000000000000021))))'),
    # a sort: cursor in a sub sorted by a key outside the modeled
    # sorted-sub family (generation) restarts the sub and freezes null:
    ('read (value="a" result=((guid contents)) (<-left sort=(value generation)'
     ' pagesize=5 cursor="sort:[o:5][n:489]s3:ab2#0.g0000001240003456800000000'
     '000000c" result=(cursor (guid value))))',
     'ok ((00000012400034568000000000000000 ("null:" (000000124000345680000000'
     '0000000a "ab0") (0000001240003456800000000000000b "ab1") (00000012400034'
     '568000000000000014 "ab10") (00000012400034568000000000000015 "ab11") (00'
     '00001240003456800000000000000c "ab2"))))'),
    # a number-comparator value sort drops non-number values ...
    ('read (name="lnk" sort=(value) sort-comparator="number" pagesize=5 res'
     'ult=((value)))', 'error EMPTY "not found"'),
    # ... unless a guid= set, a render-free result or a default-comparator
    # value range produces the candidates
    ('read (guid=($G0 $G1) sort=(value) sort-comparator="number" result=(('
     'value)))', 'ok (("ab0") ("ab1"))'),
    ('read (name="lnk" sort=(value) sort-comparator="number" result=(count'
     '))', 'ok (12)'),
    ('read (name="lnk" value>="ab5" sort=(value) sort-comparator="number" '
     'result=((value)))', 'ok (("ab5") ("ab6") ("ab7") ("ab8") ("ab9"))'),
    # an unsorted default-comparator value range surfaces in string-bin
    # order, ids within a bin
    ('read (value>="ab5" pagesize=30 result=((value)))',
     'ok (("ab5") ("ab6") ("ab7") ("ab8") ("ab9") ("abc0 x") ("abc1 x") ("a'
     'bc2 x") ("abc3 x") ("abc4 x") ("abc5 x") ("abc6 x") ("abc7 x") ("b") '
     '("boot") ("h3") ("has_key") ("p0") ("p1") ("p2") ("p3") ("p4") ("p5")'
     ' ("p6") ("p7") ("p8") ("p9") ("q") ("root_namespace") ("tt"))'),
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
    for read, want in REPLIES:
        for name, g in v.items():
            read = read.replace("$" + name, g)
        reply = fast.request(read)
        assert slow.request(read) == reply, read
        assert reply == want, read


def _pages(gs: GraphSession, read: str, n: int = 5) -> list:
    """The replies of a cursor chain, following the first cursor of
    each reply until it is exhausted."""
    out, req = [], read
    for _ in range(n):
        out.append(gs.request(req))
        m = _CURSOR.search(out[-1])
        if m is None or m.group(1) == "null:":
            break
        esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
        req = read.replace(
            "result=(cursor", f'cursor="{esc}" result=(cursor', 1
        )
    return out


@pytest.fixture(scope="module")
def hub_sessions(spark):
    """A fast-path and a compiled session over one parent (id 0) and
    six children (ids 1-6): the last child is the store's last
    primitive."""
    fast = GraphSession(spark)
    slow = GraphSession(spark)
    slow.fast_read_enabled = False
    for gs in (fast, slow):
        gs.request(
            'write (value="p" ' + " ".join(
                f'(<-left value="c{i}")' for i in range(1, 7)
            ) + ")"
        )
    return fast, slow


def test_sub_thaw_counts_under_its_own_horizon(hub_sessions):
    """A resumed subconstraint repositions in the index state its own
    cursor froze at ([n:7]), not under the bound that cursor gives its
    parent ([n:7] makes the parent's ids < 6): child 6 counts in the
    consumed prefix, on both read paths, forward and backward."""
    fast, slow = hub_sessions
    for read, want in (
        ('read (value="p" result=((value contents)) (<-left sort=(-timesta'
         'mp) pagesize=2 result=(cursor (value))))', [
             'ok (("p" ("cursor:6a92:[o:2][n:7]gmap:~1-7:l->0/2/" ("c6") ("c'
             '5"))))',
             'ok (("p" ("cursor:6c8a:[o:4][n:7]gmap:~1-7:l->0/4/" ("c4") ("c'
             '3"))))',
             'ok (("p" ("null:" ("c2") ("c1"))))',
         ]),
        ('read (value="p" result=((value contents)) (<-left pagesize=2 res'
         'ult=(cursor (value))))', [
             'ok (("p" ("cursor:1b10:[o:2][n:7]gmap:1-7:l->0/2/" ("c1") ("c2'
             '"))))',
             'ok (("p" ("cursor:1808:[o:4][n:7]gmap:1-7:l->0/4/" ("c3") ("c4'
             '"))))',
             'ok (("p" ("null:" ("c5") ("c6"))))',
         ]),
    ):
        assert _pages(fast, read) == want, read
        assert _pages(slow, read) == want, read


@pytest.mark.xfail(strict=True, reason=(
    "a guid= root whose list is not in id order freezes the list "
    "position of the page's last id while the page is delivered in id "
    "order; which half is wrong needs the reference binary"
))
def test_guid_list_order_chain_delivers_every_id(spark):
    """Every id a guid= list names is delivered exactly once across
    the cursor chain, on both read paths."""
    for fast_read in (True, False):
        gs = GraphSession(spark)
        gs.fast_read_enabled = fast_read
        g = [_GUID.search(gs.request(f'write (value="v{i}")')).group(1)
             for i in range(3)]
        pages = _pages(
            gs, f"read (guid=({g[2]} {g[0]} {g[1]}) pagesize=2 "
            "result=(cursor (guid)))",
        )
        got = [x for p in pages for x in _GUID.findall(p)]
        assert sorted(got) == sorted(g), (fast_read, pages)


def test_root_and_sub_thaw_one_restriction(hub_sessions):
    """A thawed iterator state restricts a root's candidates and a
    subconstraint's children alike, on both read paths: the backward
    all-scan ``all:~1-7/2/`` has consumed ids 6 and 5, leaving 1-4; a
    backward fixed set consumed past its size leaves nothing."""
    fast, slow = hub_sessions
    for read, want in (
        ('read (value~="c*" cursor="fixed:~3:1,2,3/5/" result=((value)))',
         'error EMPTY "not found"'),
        ('read (value~="c*" cursor="all:~1-7/2/" result=((value)))',
         'ok (("c1") ("c2") ("c3") ("c4"))'),
        ('read (value="p" result=((value contents)) (<-left cursor="all:~1-'
         '7/2/" result=((value))))',
         'ok (("p" (("c1") ("c2") ("c3") ("c4"))))'),
    ):
        assert fast.request(read) == want, read
        assert slow.request(read) == want, read


def _G(n: int) -> str:
    """The guid of the ``n``-th primitive of a fresh store."""
    return f"{0x12400034568000000000000000 + n:032x}"


#: six values, three of them named (v0 "n3", v2 "n1", v4 "n2")
_NAMED = [
    'write (value="v0" name="n3")', 'write (value="v1")',
    'write (value="v2" name="n1")', 'write (value="v3")',
    'write (value="v4" name="n2")', 'write (value="v5")',
]
#: numbers, a date, a word, a null value; one "only"-named value
_NUMS = [
    'write (value="10")', 'write (value="9")', 'write (value="1e2")',
    'write (value="apple")', 'write (value="2006-01-02" name="only")',
    'write (value=" 0")', 'write (value="0")', 'write (value="-0044")',
    'write (value="T12:00")', 'write (name="novalue")',
]

#: (writes, read, value tombstoned after the first page or None,
#: replies of the cursor chain) — literals recorded on both read paths
SORT_CASES = [
    # a number-comparator value sort drops non-numbers and nulls ...
    (_NUMS, 'read (sort=(value) sort-comparator="number" pagesize=20 resul'
     't=((value)))', None, ['ok (("-0044") ("0") ("9") ("10") ("1e2"))']),
    (_NUMS, 'read (sort=(-value) sort-comparator="number" pagesize=20 resu'
     'lt=((value)))', None, ['ok (("1e2") ("10") ("9") ("0") ("-0044"))']),
    # ... unless the result renders no element, a one-element name bin
    # or a default-comparator range produces, ...
    (_NUMS, 'read (sort=(value) sort-comparator="number" result=(count))',
     None, ['ok (10)']),
    (_NUMS, 'read (name="only" sort=(value) sort-comparator="number" resul'
     't=((value)))', None, ['ok (("2006-01-02"))']),
    (_NUMS, 'read (value>="1" sort=(value) sort-comparator="number" pagesi'
     'ze=20 result=((value)))', None,
     ['ok (("9") ("10") ("1e2") ("2006-01-02") ("apple") ("T12:00") (null)'
      ')']),
    # ... or a one-element name bin in a mandatory my-linkage sub; an
    # optional sub and a two-element bin keep the drop
    (['write (value="2006-01-02" (<-right name="label" value="L1"))',
      'write (value="apple")'],
     'read (pagesize=5 sort=(-value) sort-comparator="number" result=((val'
     'ue)) (<-right name="label"))', None, ['ok (("2006-01-02"))']),
    (['write (value="2006-01-02" (<-right name="label" value="L1"))',
      'write (value="apple")'],
     'read (pagesize=5 sort=(-value) sort-comparator="number" result=((val'
     'ue)) (<-right optional name="label"))', None,
     ['error EMPTY "not found"']),
    (['write (value="2006-01-02" (<-right name="two" value="A"))',
      'write (value="x" (<-right name="two" value="B"))'],
     'read (pagesize=5 sort=(-value) sort-comparator="number" result=((val'
     'ue)) (<-right name="two"))', None, ['error EMPTY "not found"']),
    # unsorted value ranges surface in the comparator's scan order
    (_NUMS, 'read (value>="5" pagesize=20 result=((value)))', None,
     ['ok (("10") ("1e2") ("2006-01-02") ("9") ("apple") ("T12:00") (null)'
      ')']),
    (_NUMS, 'read (value>="5" comparator="number" pagesize=20 result=((val'
     'ue)))', None, ['ok (("9") ("10") ("1e2"))']),
    (_NUMS, 'read (value>="-5" comparator="number" pagesize=20 result=((va'
     'lue)))', None, ['ok ((" 0") ("0") ("9") ("10") ("1e2"))']),
    (_NUMS, 'read (value>="2000" comparator="datetime" pagesize=20 result='
     '((value)))', None, ['ok (("2006-01-02") ("T12:00"))']),
    (_NUMS, 'read (value>="-1000" comparator="datetime" pagesize=20 result'
     '=((value)))', None, ['ok (("-0044") ("2006-01-02") ("T12:00"))']),
    # sort: chains over rows with and without the key: the resume stays
    # in the boundary's null class, under an indexed producer and a
    # bare scan alike
    (_NAMED, 'read (value~="v*" sort=(name) pagesize=2 result=(cursor (val'
     'ue name)))', None,
     ['ok ("sort:[o:2][n:6]s2:n2g{g4}" ("v2" "n1") ("v4" "n2"))',
      'ok ("null:" ("v0" "n3"))']),
    (_NAMED, 'read (value~="v*" sort=(-name) pagesize=2 result=(cursor (va'
     'lue name)))', None,
     ['ok ("sort:[o:2][n:6]ng{g3}" ("v1" null) ("v3" null))',
      'ok ("null:" ("v5" null))']),
    (_NAMED, 'read (sort=(name) pagesize=2 result=(cursor (value name)))',
     None,
     ['ok ("sort:[o:2][n:6]s2:n2g{g4}" ("v2" "n1") ("v4" "n2"))',
      'ok ("null:" ("v0" "n3"))']),
    (_NAMED, 'read (sort=(-name) pagesize=2 result=(cursor (value name)))',
     None,
     ['ok ("sort:[o:2][n:6]ng{g3}" ("v1" null) ("v3" null))',
      'ok ("null:" ("v5" null))']),
    # a boundary tombstoned between pages resumes by its frozen keys
    (_NAMED, 'read (value~="v*" sort=(value) pagesize=2 result=(cursor (va'
     'lue)))', "v1",
     ['ok ("sort:[o:2][n:6]s2:v1g{g1}" ("v0") ("v1"))',
      'ok ("sort:[o:4][n:6]s2:v3g{g3}" ("v2") ("v3"))',
      'ok ("null:" ("v4") ("v5"))']),
    (_NAMED, 'read (sort=(value) pagesize=2 result=(cursor (value)))', "v1",
     ['ok ("sort:[o:2][n:6]s2:v1g{g1}" ("v0") ("v1"))',
      'ok ("sort:[o:3][n:6]s2:v3g{g3}" ("v2") ("v3"))',
      'ok ("null:" ("v4") ("v5"))']),
    (_NAMED, 'read (sort=(-value) pagesize=2 result=(cursor (value)))', "v4",
     ['ok ("sort:[o:2][n:6]s2:v4g{g4}" ("v5") ("v4"))',
      'ok ("sort:[o:3][n:6]s2:v2g{g2}" ("v3") ("v2"))',
      'ok ("null:" ("v1") ("v0"))']),
    (_NAMED, 'read (value~="v*" sort=(value name) pagesize=2 result=(curso'
     'r (guid value)))', "v1",
     ['ok ("sort:[o:2][n:6]s2:v1ng{g1}" ({g0} "v0") ({g1} "v1"))',
      'ok ("sort:[o:4][n:6]s2:v3ng{g3}" ({g2} "v2") ({g3} "v3"))',
      'ok ("null:" ({g4} "v4") ({g5} "v5"))']),
    (_NAMED, 'read (sort=(value name) pagesize=2 result=(cursor (guid valu'
     'e)))', "v1",
     ['ok ("sort:[o:2][n:6]s2:v1ng{g1}" ({g0} "v0") ({g1} "v1"))',
      'ok ("sort:[o:3][n:6]s2:v3ng{g3}" ({g2} "v2") ({g3} "v3"))',
      'ok ("null:" ({g4} "v4") ({g5} "v5"))']),
]
SORT_CASES = [
    (w, r, t, [p.format(**{f"g{i}": _G(i) for i in range(6)}) for p in want])
    for w, r, t, want in SORT_CASES
]


def _sort_chain(gs: GraphSession, writes, read, tomb) -> list:
    """``writes`` into a fresh store, then ``read``'s cursor chain;
    ``tomb`` names a value whose primitive is tombstoned between the
    first and the second page."""
    guid = {}
    for req in writes:
        m = re.search(r'value="([^"]*)"', req)
        g = _GUID.search(gs.request(req))
        if m and g:
            guid[m.group(1)] = g.group(1)
    out, req = [], read
    for _ in range(5):
        out.append(gs.request(req))
        m = _CURSOR.search(out[-1])
        if m is None or m.group(1) == "null:":
            break
        if tomb is not None and len(out) == 1:
            gs.request(f"write (guid~={guid[tomb]} live=false)")
        esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
        req = read.replace(
            "result=(cursor", f'cursor="{esc}" result=(cursor', 1
        )
    return out


@pytest.mark.parametrize("writes,read,tomb,want", SORT_CASES)
def test_root_sort_policy(spark, writes, read, tomb, want):
    """The root sort's decisions over small stores, on both read
    paths: the number-comparator value sort's drop of non-numbers and
    the producers that keep them, unsorted value ranges in each
    comparator's scan order, ``sort:`` chains over rows with and
    without the sort key (an indexed producer runs the incremental
    sorter, a bare scan resumes by key offset), and a chain whose
    boundary is tombstoned between pages."""
    for fast_read in (True, False):
        gs = GraphSession(spark)
        gs.fast_read_enabled = fast_read
        assert _sort_chain(gs, writes, read, tomb) == want, fast_read


@pytest.mark.parametrize("producer", ['value~="v*" ', ""])
def test_vanished_boundary_after_guid_key(spark, producer):
    """A ``sort:`` chain whose boundary is tombstoned between pages
    resumes by its frozen keys when a guid key ends the significant
    keys, under the incremental sorter (an indexed producer) and the
    key offset (a bare scan) alike, on both read paths: the keys after
    the guid never decide, so the frozen tuple stops there."""
    read = (f"read ({producer}sort=(value guid name) pagesize=2 "
            "result=(cursor (guid value)))")
    o = "4" if producer else "3"
    want = [
        f'ok ("sort:[o:2][n:6]s2:v1g{_G(1)}" ({_G(0)} "v0") ({_G(1)} "v1"))',
        f'ok ("sort:[o:{o}][n:6]s2:v3g{_G(3)}" ({_G(2)} "v2") ({_G(3)} "v3"'
        "))",
        f'ok ("null:" ({_G(4)} "v4") ({_G(5)} "v5"))',
    ]
    for fast_read in (True, False):
        gs = GraphSession(spark)
        gs.fast_read_enabled = fast_read
        assert _sort_chain(gs, _NAMED, read, "v1") == want, fast_read


def test_bodiless_signed_envelope_is_badcursor(hub_sessions):
    """A ``cursor:`` envelope without its checksum and body is a cursor
    the engine cannot parse, on both read paths."""
    read = ('read (value~="c*" pagesize=2 cursor="cursor:12ab" result=((val'
            'ue)))')
    want = ('error BADCURSOR "cannot parse old-style cursor \\"cursor:12ab'
            '\\""')
    for gs in hub_sessions:
        assert gs.request(read) == want
