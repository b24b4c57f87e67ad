"""Serving fast path (fastread.py): parity with the Spark compiler.

Two GraphSessions share one store; every query in the matrix runs
through BOTH paths and the protocol replies must be byte-identical.
The matrix covers the supported subset (equalities, globs, linkage
subs, counts, versioning, pagination) AND bail-out shapes (ranges,
sorts, cursors) — the latter prove the fallback is seamless.

The golden suite and the differential fuzz campaigns also pin the two
paths: they drive GraphSession.request with the fast path enabled.
"""

from __future__ import annotations

import random
import re

import pytest

from graphd_spark.api import GraphSession


def _seed(gs: GraphSession) -> None:
    for i in range(6):
        gs.request(
            f'write (name="nation" value="N{i}" '
            f'(<-left name="in-region" '
            f'right->(name="region" value="R{i % 2}")))'
        )
    gs.request('write (value="Loose Ends" name="song")')
    gs.request('write (value="12")')
    gs.request('write (value=" 12")')
    gs.request('write (live=false value="dead")')
    # a version chain + tombstone
    g = gs.request('write (value="v0")').split("(")[1].rstrip(")")
    gs.request(f'write (guid~={g} value="v1")')
    gs.request(f'write (guid~={g} value="v2" live=false)')
    gs.request('write (name="empty-node")')
    gs.request('write (value="" name="empty-str")')
    gs.request('write (valuetype=2 name="null-str")')


QUERIES = [
    # point lookups
    'read (name="nation" value="N3" result=((value)))',
    'read (value="12" result=((guid value)))',
    'read (value=" 12" result=((guid value)))',  # fuzzy-eq, norm differs
    'read (value="n3" result=((value)))',        # case-insensitive
    'read (any pagesize=5 result=((guid name value)))',
    'read (any start=3 pagesize=4 result=((guid)))',
    # linkage
    'read (name="nation" value="N1" result=((value)) '
    '(<-left name="in-region" right->(name="region" result=((value)))))',
    'read (name="region" value="R0" result=((value contents)) '
    '(<-right name="in-region"))',
    'read (name="nation" (<-left count=0) result=((value)))',
    'read (name="region" (<-right atleast=2) result=((value)))',
    'read (name="region" result=((value (<-right result=count))))',
    # counts / bounds
    'read (name="nation" result=(count))',
    'read (name="nation" count=6 result=(count))',
    'read (name="nation" count=5 result=(count))',      # EMPTY
    'read (name="nobody" result=((value)))',            # EMPTY
    'read (name="nation" countlimit=3 result=(count))',
    'read (name="nation" pagesize=2 result=((value) count))',
    # globs + null probes
    'read (value~="N*" pagesize=20 result=((value)))',
    'read (value~="*nds" result=((value)))',
    'read (name="empty-node" value=null result=((guid)))',
    'read (name!=null pagesize=30 result=((name)))',
    'read (value!="N1" name="nation" result=((value)))',
    # versioning
    'read (live=dontcare newest=0 value="v2" result=((guid value live)))',
    'read (live=dontcare oldest=0 value="v0" result=((guid generation)))',
    'read (live=false pagesize=10 result=((value)))',
    'read (any live=dontcare newest>=0 pagesize=40 result=((guid value)))',
    # type system
    'read (name="song" result=((value type datatype timestamp)))',
    # ranges (value-bin scan order emulation) + sorts
    'read (value>"A" pagesize=8 result=((value)))',
    'read (value<="n4" pagesize=30 result=((value)))',
    'read (value>="a" value<"z" pagesize=30 result=((value)))',
    'read (name="nation" value<="N3" result=((value)))',
    'read (value>="1" comparator="number" pagesize=20 result=((value)))',
    'read (sort=(value) pagesize=6 result=((value)))',
    'read (sort=(-value) pagesize=6 result=((value)))',
    'read (sort=(name -timestamp) pagesize=8 result=((name value)))',
    'read (sort=(value) sort-comparator="case" pagesize=6 result=((value)))',
    # number-comparator value sorts: NUMBERS-binset drop + escapes
    'read (sort=(value) sort-comparator="number" pagesize=20 '
    "result=((value)))",
    'read (name="song" sort=(value) sort-comparator="number" '
    "result=((value)))",           # 1-element name bin short-circuits
    'read (name="nation" sort=(value) sort-comparator="number" '
    "result=((value)))",           # multi-element bin: drop applies
    'read (sort=(value) sort-comparator="number" result=(count))',
    'read (value>="1" comparator="number" sort=(value) '
    'sort-comparator="number" pagesize=20 result=((value)))',
    'read (value>"A" sort=(value) sort-comparator="number" '
    "pagesize=20 result=((value)))",  # string vrange stays producer
    'read (name="song" timestamp>1970-01-01T00:00:00.0000Z '
    'sort=(value) sort-comparator="number" result=((value)))',
    'read (name="region" sort=(-value) result=((value contents)) '
    '(<-right sort=(-timestamp) pagesize=2))',
    'read (sort=(guid) start=2 pagesize=3 result=((guid)))',
    # value="": stored-empty AND null-value datatype-2 both match
    'read (value="" pagesize=10 result=((guid name value datatype)))',
    # asof time travel + datelines (id-horizon mirrors)
    'read asof=1970-01-01T00:00:00.0005 (value!=null pagesize=40 '
    "result=((guid value)))",
    'read asof=1970-01-01T00:00:00.0030 (live=dontcare value="v0" '
    "result=((guid value live)))",
    'read (dateline>"123456.5" pagesize=30 result=((guid)))',
    'read (dateline<"123456.8" pagesize=30 result=((guid)))',
    # fallback shapes (Unsupported -> Spark path; replies must still
    # be identical — the fast session falls back seamlessly)
    'read (sort=$v $v=value pagesize=4 result=((value)))',
    'read (name="nation" pagesize=2 result=(cursor (value)))',
]


@pytest.fixture(scope="module")
def sessions(spark):
    fast = GraphSession(spark)
    _seed(fast)
    slow = GraphSession(spark)
    slow.fast_read_enabled = False
    _seed(slow)
    return fast, slow


@pytest.mark.parametrize("q", QUERIES)
def test_fast_path_matches_spark_path(sessions, q):
    fast, slow = sessions
    assert fast.request(q) == slow.request(q)


def test_fast_path_needs_no_spark():
    """The serving path must work with NO SparkSession at all."""
    gs = GraphSession()  # no spark
    for i in range(4):
        gs.request(f'write (name="n" value="x{i}")')
    assert gs.request('read (name="n" value="x2" result=((value)))') == (
        'ok (("x2"))'
    )


def test_eval_cache_key_respects_string_boundaries():
    """A value literal containing 'cursor=' must not collapse onto
    another query's cache key (round-5 advice: the old raw-text regex
    matched `cursor="` INSIDE a string literal, so the poisoned query
    below cached under the victim's key and served its rows)."""
    gs = GraphSession()  # no spark: pure fast path
    gs.request('write (value="acursor=" name="n1")')
    assert gs.request(
        'read (value="acursor=" name="n1" result=((value)))'
    ) == 'ok (("acursor="))'
    # under the regex key this stripped to value="an1" ... == the line
    # below, so the next request hit the poisoned entry and answered ok
    r = gs.request('read (value="an1" result=((value)))')
    assert r.startswith("error EMPTY")


def test_eval_cache_hit_does_not_alias_plan():
    """Cache hits must not serve a plan object mutated by an earlier
    request (cursor/countlimit are per-request state)."""
    gs = GraphSession()
    for i in range(8):
        gs.request(f'write (name="p" value="c{i}")')
    q = 'read (name="p" pagesize=3 result=(cursor (value)))'
    first = gs.request(q)
    # replay the identical first-page request: same reply, byte-exact
    # (a stale plan.cursor from the first run would leak otherwise)
    assert gs.request(q) == first


def test_eval_cache_does_not_outlive_a_restore():
    """A restore from 0 replaces the store; the new store reaches the
    same (version, count) as the old one, so an eval cache that
    outlived the old store would answer from its rows."""
    gs = GraphSession()
    gs.request('write (value="a")')
    q = 'read (value="a" result=((value)))'
    assert gs.request(q) == 'ok (("a"))'
    tup = (
        "00000012400034568000000000000000 null null string \"b\" 0 "
        "true true true 1970-01-01T00:00:00.0000Z 0 0 0"
    )
    assert gs.request(f'restore ("6" 0 1 ({tup}))') == "ok"
    assert gs.request(q) == 'error EMPTY "not found"'


def test_fast_path_engages(spark, monkeypatch):
    """A supported read on a covered store must NOT touch Spark."""
    from graphd_spark import fastread

    gs = GraphSession(spark)
    gs.request('write (name="a" value="b")')
    called = {}
    orig = fastread.FastReader.run

    def spy(self, con):
        called["fast"] = True
        return orig(self, con)

    monkeypatch.setattr(fastread.FastReader, "run", spy)
    assert gs.request('read (name="a" result=((value)))') == 'ok (("b"))'
    assert called.get("fast")


def test_hydrated_parquet_store_serves_fast(spark, tmp_path):
    """attach + hydrate flips an on-disk log into the serving path."""
    from graphd_spark.store import ParquetLogStore

    log = str(tmp_path / "log")
    writer = GraphSession(spark, log_path=log)
    for i in range(10):
        writer.request(f'write (name="w" value="v{i}")')

    reader = GraphSession.attach(spark, log)
    assert not getattr(reader.store, "_covers_all")
    assert reader.store.hydrate()
    assert reader.store._covers_all
    # served driver-side now; replies still byte-identical
    want = writer.request('read (name="w" value="v7" result=((guid value)))')
    assert reader.request(
        'read (name="w" value="v7" result=((guid value)))'
    ) == want
    # writes after hydration keep flushing to the shared log
    r = reader.request('write (name="w" value="after")')
    assert r.startswith("ok (")
    assert writer.request(
        'read (value="after" result=((value)))'
    ) == 'ok (("after"))'


def test_hot_window_follows_the_timestamp_tick():
    """A directory stays hot for two timestamp ticks, read off the
    digits of its mtime, and at least 20 ms (a jiffy at HZ >= 100)."""
    from graphd_spark.store import _hot_window_ns

    assert _hot_window_ns(1_760_000_000_123_456_789) == 20_000_000
    assert _hot_window_ns(1_760_000_000_120_000_000) == 20_000_000
    assert _hot_window_ns(1_760_000_000_100_000_000) == 200_000_000
    assert _hot_window_ns(1_760_000_001_000_000_000) == 2_000_000_000
    assert _hot_window_ns(1_760_000_002_000_000_000) == 2_000_000_000


def test_dir_sig_cache_never_hides_foreign_appends(spark, tmp_path):
    """mirror_current's stat-signature cache (store.py): steady-state
    serving skips the per-request listdir, but a foreign append —
    even one landing immediately after a cached probe — is absorbed
    on the very next request, because a changed directory signature
    always forces the listdir and a hot directory (mtime younger
    than its hot window, see _hot_window_ns) is never cached at
    all."""
    import os

    log = str(tmp_path / "log")
    writer = GraphSession(spark, log_path=log)
    writer.request('write (name="w" value="v0")')

    reader = GraphSession.attach(spark, log)
    assert reader.store.hydrate()
    # age the directory mtime past the cache guard so the signature
    # is cacheable without sleeping
    st = os.stat(log)
    os.utime(log, ns=(st.st_atime_ns - 5_000_000_000,
                      st.st_mtime_ns - 5_000_000_000))
    assert reader.request(
        'read (value="v0" result=((value)))'
    ) == 'ok (("v0"))'
    assert reader.store._dir_sig_cache is not None  # cache engaged
    sig0 = reader.store._dir_sig_cache[0]
    # repeated serving hits the cache (signature unchanged)
    assert reader.request(
        'read (value="v0" result=((value)))'
    ) == 'ok (("v0"))'
    assert reader.store._dir_sig_cache[0] == sig0
    # foreign append: the new commit file changes the signature, so
    # the reader's next request re-listdirs and absorbs the delta
    writer.request('write (name="w" value="v1")')
    assert reader.request(
        'read (value="v1" result=((value)))'
    ) == 'ok (("v1"))'
    # the fresh append keeps the directory "hot": no stale signature
    # may be cached until the mtime ages past the guard again
    c = reader.store._dir_sig_cache
    assert c is None or c[0] != sig0


def _frozen_clock(monkeypatch):
    """Freeze time.monotonic_ns (mirror_current's TTL clock); the
    returned one-element list holds the reading and can be advanced."""
    import time

    now = [time.monotonic_ns()]
    monkeypatch.setattr(time, "monotonic_ns", lambda: now[0])
    return now


def _count_listdir(monkeypatch, path):
    """Count os.listdir calls on ``path``."""
    import os

    calls = []
    real = os.listdir

    def listdir(p="."):
        if p == path:
            calls.append(p)
        return real(p)

    monkeypatch.setattr(os, "listdir", listdir)
    return calls


def test_own_writes_keep_the_ttl_verdict(spark, tmp_path, monkeypatch):
    """A session that alternates its own commits and reads proves
    freshness with one listing, not one per read: its commits append
    to the tail without touching the directory, and each append moves
    the cached log signature with it, so the re-check after every own
    commit (which bumps the write epoch) costs two stats.  Neither a
    commit by another in-process store (here on another log) nor an
    expired TTL forces a listing while the signature holds."""
    import os

    from graphd_spark.store import ParquetLogStore

    log = str(tmp_path / "log")
    GraphSession(spark, log_path=log).request('write (name="w" value="v0")')
    # age the directory past its hot window (_hot_window_ns; a whole
    # second keeps the mtime's digits): a hot directory is listed on
    # every read, and attach + hydrate take far less than the window
    st = os.stat(log)
    os.utime(log, ns=(st.st_atime_ns, st.st_mtime_ns - 1_000_000_000))
    sess = GraphSession.attach(spark, log)
    assert sess.store.hydrate()
    now = _frozen_clock(monkeypatch)
    listed = _count_listdir(monkeypatch, log)
    for i in range(1, 6):
        assert sess.request(f'write (name="w" value="v{i}")').startswith(
            "ok ("
        )
        assert sess.request(
            f'read (value="v{i}" result=((value)))'
        ) == f'ok (("v{i}"))'
    assert len(listed) == 1
    other = GraphSession(spark, log_path=str(tmp_path / "other"))
    other.request('write (value="x")')
    sess.request('write (name="w" value="v6")')
    assert sess.request(
        'read (value="v6" result=((value)))'
    ) == 'ok (("v6"))'
    assert len(listed) == 1
    ttl = ParquetLogStore._MC_TTL_NS
    now[0] += ttl // 2
    sess.request('write (name="w" value="v7")')
    now[0] += ttl - ttl // 2
    assert sess.request(
        'read (value="v7" result=((value)))'
    ) == 'ok (("v7"))'
    assert len(listed) == 1


def test_other_session_write_visible_on_next_read(
    spark, tmp_path, monkeypatch
):
    """A write by another in-process session bumps the write epoch,
    so it reaches a reader holding a fresh TTL verdict on the
    reader's very next read, hot directory or not."""
    log = str(tmp_path / "log")
    writer = GraphSession(spark, log_path=log)
    writer.request('write (name="w" value="v0")')
    reader = GraphSession.attach(spark, log)
    assert reader.store.hydrate()
    _frozen_clock(monkeypatch)  # the TTL never expires on its own
    reader.request('write (name="r" value="own")')
    assert reader.request(
        'read (value="own" result=((value)))'
    ) == 'ok (("own"))'
    # the writer absorbs the reader's commit before writing itself
    # (concurrent writers to one log are out of scope)
    assert writer.request(
        'read (value="own" result=((value)))'
    ) == 'ok (("own"))'
    assert reader.store._mc_cache is not None  # verdict armed
    writer.request('write (name="w" value="theirs")')
    assert reader.request(
        'read (value="theirs" result=((value)))'
    ) == 'ok (("theirs"))'


def test_cross_process_append_visible_after_ttl(
    spark, tmp_path, monkeypatch
):
    """A canonical commit file written straight through pyarrow (a
    stand-in for another process's append: no write-epoch bump) into
    a hot log directory is absorbed on the first read after the TTL
    elapses."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphd_spark.model import PRIMITIVE_FIELDS, su_encode
    from graphd_spark.store import ParquetLogStore, _arrow_schema

    log = str(tmp_path / "log")
    writer = GraphSession(spark, log_path=log)
    writer.request('write (name="w" value="v0")')
    reader = GraphSession.attach(spark, log)
    assert reader.store.hydrate()
    # the foreign primitive: the same history replayed in memory, so
    # its id and guid continue the log
    twin = GraphSession()
    twin.request('write (name="w" value="v0")')
    twin.request('write (name="w" value="foreign")')
    p = twin.store.rows[-1]
    assert p.id == reader.store.next_id

    now = _frozen_clock(monkeypatch)
    assert reader.request(
        'read (value="v0" result=((value)))'
    ) == 'ok (("v0"))'
    assert reader.store._mc_cache is not None  # verdict armed
    cols = {
        f: [su_encode(v) if f in ("name", "value") else v]
        for f in PRIMITIVE_FIELDS
        for v in (getattr(p, f),)
    }
    pq.write_table(
        pa.table(cols, schema=_arrow_schema()),
        os.path.join(log, f"part-{p.id:012d}-{1:08d}.parquet"),
    )
    # hot: modified within the signature cache's 1 s guard
    assert os.stat(log).st_mtime_ns > time.time_ns() - 1_000_000_000
    now[0] += ParquetLogStore._MC_TTL_NS
    assert reader.request(
        'read (value="foreign" result=((value)))'
    ) == 'ok (("foreign"))'
    assert reader.store.next_id == p.id + 1


def test_versioned_link_target_dangles(spark):
    """Traversal joins on RAW guids (probed against the reference
    binary, roundtrip seeds 47/93/95/103): versioning a link TARGET
    makes right->(...) dangle until a constraint lifts the newest
    filter; right=<old> matches, right=<new> doesn't, right~=<new>
    lineage-expands.  Checked through BOTH read paths."""
    for enabled in (True, False):
        gs = GraphSession(spark)
        gs.fast_read_enabled = enabled
        t = gs.request('write (value="target")').split("(")[1].rstrip(")")
        t2 = gs.request(f'write (guid~={t} value="target2")')
        t2 = t2.split("(")[1].rstrip(")")
        gs.request(f'write (value="c" right={t})')
        # stored pointer reads back raw
        assert gs.request('read (value="c" result=((right)))') == (
            f"ok (({t}))"
        )
        # traversal to the newest generation: dangles
        assert "EMPTY" in gs.request(
            'read (right->(value="target2") result=((value)))'
        )
        # lifting the newest filter reaches the pointed generation
        assert gs.request(
            'read (right->(value="target" newest>=0 live=dontcare) '
            "result=((value)))"
        ) == 'ok (("c"))'
        # reverse orientation dangles the same way
        assert "EMPTY" in gs.request(
            'read (value="target2" (<-right) result=((value)))'
        )
        # explicit guid constraints: raw for =, lineage-expanded for ~=
        assert gs.request(
            f"read (right={t} result=((value)))"
        ) == 'ok (("c"))'
        assert "EMPTY" in gs.request(f"read (right={t2} result=((value)))")
        assert gs.request(
            f"read (right~={t2} result=((value)))"
        ) == 'ok (("c"))'


OR_QUERIES = [
    'read (any value=("N1" "N3") result=((value)))',
    'read ({value="N1"} | {value="N2"} result=((value)))',
    'read ({value="N1" live=true} | {name="song"} result=((value name)))',
    'read ({value~="N*"} | {value="12"} pagesize=20 result=((value)))',
    'read (name="nation" {value="N1"} || {value="N2"} result=((value)))',
    # or-branches WITH subconstraints and bindings
    'read (name="nation" {(<-left name="in-region")} | {value="N9"} '
    "result=((value)))",
    'read (name="nation" {(<-left $t=name)} | {value="N9" $t=value} '
    "result=((value $t)))",
    'read ({(<-left count=2)} | {name="region"} pagesize=20 '
    "result=((value name)))",
    'read (name="region" sort=$v {(<-right $v=value)} | {$v=name} '
    "result=((value $v)))",
    # contents slots from or-branch subs (parse order, first-match
    # fills, null elsewhere; probed against the reference binary)
    'read ({name="nation" (<-left result=((value)))} | {name="region"} '
    "result=((value contents)))",
    'read ({name="region" (<-right result=(count))} | '
    '{name="nation" (<-left result=((name)))} pagesize=4 '
    "result=((value contents)))",
    'read ((<-left result=((name))) {value="R0" (<-right)} | '
    '{name="nation"} pagesize=4 result=((value contents)))',
    'read ({name="nation" (<-left count=0)} | {name="region"} '
    "pagesize=4 result=((value contents)))",
    # mixed-kind merged variables ($t=guid | $t=value)
    'read ({name="nation" (<-left $t=guid)} | {name="region" $t=value} '
    "pagesize=6 result=((value $t)))",
    # root assignment wins over branch bindings
    'read ($t=name {name="nation" $t=value} | {name="region"} '
    "pagesize=4 result=((value $t)))",
    # nested-twice assignment errors (identical on both paths)
    'read ((<-left $t=value) $t=name result=((value $t)))',
    'read ({name="nation" (<-left $t=value) $t=name} | {name="region"} '
    "result=((value $t)))",
]


@pytest.mark.parametrize("q", OR_QUERIES)
def test_or_chain_parity(sessions, q):
    fast, slow = sessions
    assert fast.request(q) == slow.request(q)


VAR_QUERIES = [
    'read (name="nation" $v=value result=(($v)))',
    'read (name="nation" value="N2" result=(($v value)) '
    '(<-left $v=value))',
    'read (name="region" sort=$v result=((value $v)) (<-right $v=value))',
    'read (name="region" result=(($c value)) (<-right $c=((value))))',
    'read (name="region" sort=-$n result=((value $n)) '
    '(<-right $n=count))',
    'read (any $g=guid $t=timestamp pagesize=4 result=(($g $t)))',
]


@pytest.mark.parametrize("q", VAR_QUERIES)
def test_variable_parity(sessions, q):
    fast, slow = sessions
    assert fast.request(q) == slow.request(q)


@pytest.mark.parametrize("seed", [2000, 2001, 2002, 2003])
def test_two_path_generator_sweep(spark, seed):
    """The differential script generator replayed through BOTH read
    paths on one shared write sequence — fast-path shapes and
    fallback shapes must answer identically."""
    from tests.test_differential import gen_script

    lines = gen_script(seed)
    fast = GraphSession(spark)
    slow = GraphSession(spark)
    slow.fast_read_enabled = False
    for ln in lines:
        a, b = fast.request(ln), slow.request(ln)
        assert a == b, f"{ln}\n fast: {a}\n slow: {b}"


_CURSOR_RE = re.compile(r'"((?:cursor|sort|position):[^"]*)"')


def _two_path_pages(spark, lines, reads=()):
    """Replay ``lines`` through a fast-path session and a compiler-only
    session, then page each of ``reads`` through both, following its
    cursor for at most five hops (the pagination of
    tools/diff_campaign.py).  Every reply must be byte-identical."""
    fast = GraphSession(spark)
    slow = GraphSession(spark)
    slow.fast_read_enabled = False

    def both(req):
        a, b = fast.request(req), slow.request(req)
        assert a == b, f"{req}\n fast: {a}\n slow: {b}"
        return a

    for ln in lines:
        both(ln)
    for read in reads:
        reply = both(read)
        for _hop in range(5):
            m = _CURSOR_RE.search(reply)
            if not m or m.group(1) == "null:":
                break
            esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
            reply = both(
                read.replace(
                    "result=(cursor", f'cursor="{esc}" result=(cursor', 1
                )
            )


def _sub_sorts_a_cursor(read: str) -> bool:
    """True for a read with a subconstraint that sorts and renders a
    cursor: the family the two evaluators freeze differently."""
    from graphd_spark.gql.parser import parse_request

    con = parse_request(read).constraint
    return any(
        n is not con
        and n.sort
        and n.result is not None
        and any(p.kind == "cursor" for p in n.result.walk())
        for n in con.walk()
    )


def _cursor_script(seed: int):
    from tests.test_differential import gen_cursor_reads, gen_cursor_writes

    rng = random.Random(10_000 + seed)
    lines, burst = gen_cursor_writes(rng)
    return lines, gen_cursor_reads(rng, burst)


@pytest.mark.parametrize("seed", range(6))
def test_two_path_sortcursor_sweep(spark, seed):
    """Sorted-page cursor chains, paged to exhaustion on both paths."""
    from tests.test_differential import (
        gen_cursor_writes,
        gen_sortcursor_reads,
    )

    rng = random.Random(20_000 + seed)
    lines, burst = gen_cursor_writes(rng)
    _two_path_pages(spark, lines, gen_sortcursor_reads(rng, burst))


@pytest.mark.parametrize("seed", range(5))
def test_two_path_cursor_sweep(spark, seed):
    """Cursored reads, paged to exhaustion on both paths; the sorted
    sub-cursor family is pinned apart below."""
    lines, reads = _cursor_script(seed)
    _two_path_pages(
        spark, lines, [r for r in reads if not _sub_sorts_a_cursor(r)]
    )


@pytest.mark.xfail(
    strict=True,
    reason="a subconstraint that sorts and renders a cursor freezes "
    "sort: on the fast path and cursor:...fixed: in the compiler, and "
    "resuming the compiler's cursor answers EMPTY (sub_cursor_mode)",
)
def test_two_path_sorted_sub_cursor(spark):
    """Seed 5's sorted sub-cursor reads, e.g. ``read (pagesize=2
    name="srt2" result=((value contents)) (<-left sort=(-value)
    pagesize=3 result=(cursor (guid value))))``."""
    lines, reads = _cursor_script(5)
    _two_path_pages(
        spark, lines, [r for r in reads if _sub_sorts_a_cursor(r)]
    )


@pytest.mark.parametrize("seed", range(4))
def test_two_path_or_sweep(spark, seed):
    """or-chain scripts through both paths."""
    from tests.test_differential import gen_or_script

    _two_path_pages(spark, gen_or_script(seed))


def test_two_path_count_min_probe_chains(spark):
    """A resumed pagesize=0 root chain freezes the cumulative [o:]: the
    thawed offset plus the count-min probe's consumption, on both
    paths (the compiler used to restart from the resumed offset and
    froze [o:1] on every hop), for the all-scan, an hmap bin, a
    countlimit and a skipped descending sort."""
    lines = [f'write (name="x" value="v{i}")' for i in range(8)]
    _two_path_pages(spark, lines, [
        "read (any pagesize=0 result=(cursor count))",
        "read (any pagesize=0 countlimit=3 result=(cursor count))",
        'read (name="x" pagesize=0 result=(cursor count))',
        "read (any sort=(-timestamp) pagesize=0 result=(cursor count))",
    ])


def test_two_path_large_preevaluated_intersection(spark):
    """The and pre-evaluation is bounded by its cost model alone: 150
    shared ids still freeze one fixed set, forward and backward, on
    both paths (the compiler kept a separate 100-id cap and froze the
    and:# form)."""
    a = "00000012400034568000000000000000"
    b = "00000012400034568000000000000001"
    lines = ['write (value="a")', 'write (value="b")'] + [
        f'write (value="{i}" left={a} right={b})' for i in range(150)
    ]
    _two_path_pages(spark, lines, [
        f"read (left={a} right={b} pagesize=2 result=(cursor (value)))",
        f"read (left={a} right={b} sort=(-timestamp) pagesize=2 "
        "result=(cursor (value)))",
    ])


def test_two_path_or_union_keeps_rejected_candidates(spark):
    """An or-chain root freezes the iterator-level union of its branch
    bins — candidates the octet comparator later rejects ("12.0",
    "+12" share the "12" bin) included — on both paths (the compiler
    froze the accepted set)."""
    lines = [
        f'write (name="n" value="{v}")'
        for v in ("12", "12.0", "+12", "y", "y")
    ]
    _two_path_pages(spark, lines, [
        'read ({value="12" comparator="octet"} | {value="y"} pagesize=1 '
        "result=(cursor (value)))",
    ])


def test_two_path_value_ne(spark):
    """value!= answers one rule on both paths: a check-only != applies
    only the comparator's equality (" 1" fuzzy-equals "1"), and a value
    with no comparator key (a non-number under comparator="number")
    differs from every literal, like a null value does."""
    lines = [
        f'write (name="x"{v})'
        for v in (' value=" 1"', ' value="1"', ' value="2"',
                  ' value="abc"', "")
    ]
    _two_path_pages(spark, lines, [
        'read (name="x" value!="1" result=((value)))',
        'read (name="x" comparator="number" value!="1" result=((value)))',
    ])


def test_two_path_or_branch_over_a_null_field(spark):
    """A branch whose test reads a null field loses, and the next
    branch binds its $vars and contents on both paths (the compiled
    branch flag was null there, and `flag & ~prior` kept the second
    branch from winning)."""
    lines = [
        'write (name="n" (<-left name="k" value="c1"))',
        'write (name="n" value="y" (<-left name="k" value="c2"))',
    ]
    _two_path_pages(spark, lines, [
        'read (name="n" {value="x" (<-left name="k" $a=value)} '
        '| {name="n" $a=name} result=(($a)))',
        'read (name="n" {value="x" (<-left name="k" result=((value)))} '
        '| {name="n" (<-left name="k" result=((value)))} '
        "result=((contents)))",
    ])


def test_vrange_value_beyond_rules():
    """Unit pins for the comparator value_in_range port that drives
    the sorter's window exit (graphd-comparator-default.c:2031-2196,
    graphd-comparator-number.c:424-485; round-7 catch at sortcursor
    fuzz seed 111).  True = the producer's scan position is past
    every value that could still sort <= the cutoff."""
    from graphd_spark.binset import STRING_BINS
    from graphd_spark.comparators import (
        string_bin_order,
        number_scan_order,
        vrange_value_beyond,
    )

    b = string_bin_order
    # numeric cutoff: done only when the previous bin's start string
    # is alphabetic ('bfirst >= A') — "1e2"'s previous bin starts
    # with a digit, "yes no"'s with a letter (the seed-111 pair)
    assert not vrange_value_beyond("12.0", b("1e2"), "default")
    assert vrange_value_beyond("12.0", b("yes no"), "default")
    # alpha cutoff: the alpha-prefix test string (non-alpha boundary
    # increments the last char) against the previous bin's start
    assert vrange_value_beyond("apple", b("zebra"), "default")
    assert not vrange_value_beyond("zebra", b("apple"), "default")
    # bin 0 / past-the-end: never done
    assert not vrange_value_beyond("a", 0, "default")
    assert not vrange_value_beyond("a", len(STRING_BINS), "default")
    # null cutoff never reaches the verdict
    assert not vrange_value_beyond(None, b("x"), "default")
    # number comparator: numeric compare against the previous
    # NUMBER_BINS boundary
    assert vrange_value_beyond("5", number_scan_order("1e6"), "number")
    assert not vrange_value_beyond(
        "1e6", number_scan_order("5"), "number"
    )
    # backward default walk: done when the truncated alpha prefix
    # still sorts >= the NEXT bin's start
    assert vrange_value_beyond("zebra", b("apple"), "default", True)
    assert not vrange_value_beyond("apple", b("zebra"), "default", True)
