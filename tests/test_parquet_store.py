"""ParquetLogStore: the off-driver store backend.

Verifies the three scale properties the architecture promises:
- protocol parity: golden scripts replay identically with the store
  reading from the parquet log instead of driver memory;
- bounded driver: with ``cache_rows`` set, the driver never holds more
  than the cache, and reads/writes stay correct through Spark
  fallbacks;
- attach: opening an existing log reads only its last row, never the
  log body; the engine's own layout opens and hydrates with no Spark
  job, a foreign one through Spark.
"""

from __future__ import annotations

import tempfile

import pytest

from graphd_spark.api import GraphSession

from golden import run_golden

# a representative slice: writes, versioning, unique/key/anchor
# clusters, sorts, dump/restore, pagination
PARQUET_GOLDENS = [
    "simple",
    "version3",
    "unique2",
    "keyburn",
    "anchor2",
    "sort4",
    "or4",
    "kurt3",
    "dump",
    "benrestore",
    "pagesize",
    "optional",
]


def _parquet_session(spark, cache_rows=None):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    return GraphSession(spark, log_path=log, cache_rows=cache_rows)


@pytest.fixture
def layouts(monkeypatch):
    """Runs a test body once per log layout, yielding its name:
    "part" (a tail bound of 0 rows, so every commit lands as its own
    parquet part) and "tail" (the default bound: small commits append
    to the tail)."""
    from graphd_spark import store

    def each():
        for layout, rows in (("part", 0), ("tail", store.TAIL_ROWS)):
            monkeypatch.setattr(store, "TAIL_ROWS", rows)
            yield layout

    return each()


def _log_names(log):
    """The log's parts and tails, sorted by name."""
    import os

    return sorted(
        f for f in os.listdir(log) if f.endswith((".parquet", ".arrows"))
    )


@pytest.mark.parametrize("name", PARQUET_GOLDENS)
def test_golden_parquet_backend(spark, name):
    result = run_golden(lambda: _parquet_session(spark), name)
    if result is None:
        pytest.skip(f"{name}.sh shape unsupported by harness")
    got, expected = result
    assert got == expected


@pytest.mark.parametrize("name", ["simple", "version3", "unique2"])
def test_golden_parquet_bounded_cache(spark, name):
    """Same replay with an aggressively small driver cache: point
    lookups below the cache fall back to Spark over the log."""
    result = run_golden(lambda: _parquet_session(spark, cache_rows=4), name)
    if result is None:
        pytest.skip(f"{name}.sh shape unsupported by harness")
    got, expected = result
    assert got == expected


def test_bounded_cache_never_exceeds_limit(spark):
    sess = _parquet_session(spark, cache_rows=8)
    for i in range(40):
        sess.request(f'write (value="v{i}")')
    assert len(sess.store.rows) <= 8
    # full count survives on disk; reads see everything
    assert sess.store.count() == 40
    reply = sess.request('read (value="v1" result=((value)))')
    assert reply == 'ok (("v1"))'
    reply = sess.request('read (value="v39" result=((value)))')
    assert reply == 'ok (("v39"))'


def test_attach_never_materializes(spark):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    writer = GraphSession(spark, log_path=log)
    for i in range(20):
        writer.request(f'write (value="w{i}")')
    horizon = writer.store.count()

    reader = GraphSession.attach(spark, log)
    # the driver holds nothing of the log body
    assert reader.store.rows == []
    assert reader.store.by_guid == {}
    assert reader.store.count() == horizon
    assert reader.store.db_id == writer.store.db_id
    # reads compile against the log
    assert reader.request('read (value="w7" result=((value)))') == (
        'ok (("w7"))'
    )
    # writes continue the id sequence and land in the shared log
    reply = reader.request('write (value="after-attach")')
    assert reply.startswith("ok (")
    assert reader.store.count() == horizon + 1
    assert writer.request(  # the original session sees the append
        'read (value="after-attach" result=((value)))'
    ) == 'ok (("after-attach"))'


def test_attach_point_lookups_via_spark(spark):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    writer = GraphSession(spark, log_path=log)
    writer.request('write (name="n1" value="base")')
    g = writer.store.rows[-1].guid if writer.store.rows else None
    assert g is not None
    writer.request(f'write (guid~={g} value="base2")')

    reader = GraphSession.attach(spark, log)
    p = reader.store.get(g)
    assert p is not None and p.value == "base"
    assert not reader.store.is_newest(g)
    newest = reader.store.newest_of(g)
    assert newest is not None and newest.value == "base2"
    members = reader.store.lineage_members(p.lineage)
    assert len(members) == 2 and members[0] == g


def test_rollback_never_touches_disk(spark):
    import os

    sess = _parquet_session(spark)
    sess.request('write (value="keep")')
    files_before = sorted(os.listdir(sess.store.path))
    # a failing write rolls back before commit -> no new parquet file
    reply = sess.request(
        'write (value="lost" (-> guid=00000000000000000000000000000000))'
    )
    assert reply.startswith("error")
    assert sorted(os.listdir(sess.store.path)) == files_before
    assert sess.request('read (value="lost" result=((value)))').startswith(
        "error EMPTY"
    )


def _write_versioned_log(spark, memory=False, compact_after=None):
    """Six commits plus a version bump (seven one-primitive parts in
    the "part" layout), on the log backend or, with ``memory``, the
    in-memory one.  ``compact_after`` commits are compacted first:
    in the "tail" layout the log is then a part and a tail."""
    sess = GraphSession() if memory else _parquet_session(spark)
    guids = []
    for i in range(6):
        r = sess.request(f'write (name="n" value="v{i}")')
        guids.append(r.split("(")[1].split(" ")[0])
        if i + 1 == compact_after:
            sess.store.compact()
    sess.request(f'write (guid~={guids[0]} name="n" value="v0b")')
    probes = [
        'read (name="n" value="v3" result=((value)))',
        'read (name="n" result=((value guid)))',
        f'read (guid={guids[1]} result=((value)))',
        f'read (guid~={guids[0]} result=((value)))',
    ]
    return sess, probes


def test_compact_merges_commit_files_content_identical(spark, layouts):
    """compact() folds N commit files (or a part and a tail) into one
    part file with the same rows, same horizon, and working reads
    before/after."""
    for layout in layouts:
        sess, probes = _write_versioned_log(
            spark, compact_after=3 if layout == "tail" else None
        )
        log = sess.log_path
        assert len(_log_names(log)) == (7 if layout == "part" else 2)
        before = sorted(
            tuple(r) for r in sess.store.to_df(spark).collect()
        )
        replies_before = [sess.request(p) for p in probes]
        horizon_before = sess.store.next_id
        sess.store.compact()
        merged = [f"part-{0:012d}-{7:08d}.parquet"]
        assert _log_names(log) == merged
        after = sorted(tuple(r) for r in sess.store.to_df(spark).collect())
        assert after == before
        assert sess.store._horizon_of(sess.store._fs_spans()) == (
            horizon_before
        )
        # every probe replies byte-identically across the compaction
        assert [sess.request(p) for p in probes] == replies_before
        # a fresh attach sees the compacted log
        sess2 = GraphSession.attach(spark, log)
        assert sess2.store.next_id == horizon_before
        # compact is idempotent / no-op on a single file
        sess.store.compact()
        assert _log_names(log) == merged
        # appends after compaction keep working
        sess.request('write (name="n" value="v7")')
        assert sess.request(
            'read (name="n" value="v7" result=((value)))'
        ) == 'ok (("v7"))'


def test_compact_refuses_foreign_layout(spark, layouts):
    """A directory holding parquet outside the canonical part naming
    (e.g. a Spark bulk import) is left untouched."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphd_spark.store import _prims_batch

    for layout in layouts:
        sess = _parquet_session(spark)
        sess.request('write (name="n" value="a")')
        sess.request('write (name="n" value="b")')
        log = sess.log_path
        # a copy of the log's rows under a name outside the naming
        pq.write_table(
            pa.Table.from_batches([_prims_batch(sess.store.rows)]),
            os.path.join(log, "data-0001.parquet"),
        )
        names_before = _log_names(log)
        assert len(names_before) == (2 if layout == "tail" else 3)
        sess.store.compact()
        assert _log_names(log) == names_before


def _parquet_names(log):
    import os

    return sorted(f for f in os.listdir(log) if f.endswith(".parquet"))


def test_attach_refuses_a_log_with_a_missing_part(
    spark, monkeypatch, layouts
):
    """A log whose parts skip ids (a missing part between parts, or
    in front of the tail) is not read as complete: attach raises
    StoreError naming the missing ids, before any Spark read."""
    import os

    from graphd_spark.store import ParquetLogStore, StoreError

    def no_spark(self):
        pytest.fail("attach read the gapped log through Spark")

    for layout in layouts:
        sess = _parquet_session(spark)
        for v in "abc":
            sess.request(f'write (value="{v}")')
            if layout == "tail" and v == "a":
                sess.store.compact()  # a part in front of the tail
        log = sess.log_path
        spans = sess.store._fs_spans()
        assert len(spans) == (3 if layout == "part" else 2)
        start, count, name = spans[-2]
        os.unlink(os.path.join(log, name))

        with monkeypatch.context() as m:
            m.setattr(ParquetLogStore, "_log_df", no_spark)
            with pytest.raises(
                StoreError,
                match=rf"missing ids {start}\.\.{start + count - 1}, "
                rf"before {spans[-1][2]}",
            ):
                GraphSession.attach(spark, log)


@pytest.mark.parametrize("fail", ["replace", "unlink"])
def test_compact_interrupted_keeps_log_intact(
    spark, monkeypatch, fail, layouts
):
    """A compaction that dies before its rename leaves the old files
    alone; one that dies after the rename, with only the first old
    file unlinked, leaves the merged part beside files it covers
    (parts, or the tail).  Either way a re-attach sees the
    pre-compaction rows, horizon and replies, and the covered files
    are gone after the attach."""
    import os

    for layout in layouts:
        sess, probes = _write_versioned_log(
            spark, compact_after=3 if layout == "tail" else None
        )
        log = sess.log_path
        # in the order compact() unlinks them
        old = [f for _, _, f in sess.store._fs_spans()]
        assert len(old) == (7 if layout == "part" else 2)
        assert _log_names(log) == sorted(old)
        rows_before = sorted(
            tuple(r) for r in sess.store.to_df(spark).collect()
        )
        horizon = sess.store.next_id
        replies_before = [sess.request(p) for p in probes]

        real = getattr(os, fail)
        calls = []

        def flaky(*args, **kwargs):
            calls.append(args)
            if fail == "replace" or len(calls) > 1:
                raise OSError("injected fault")
            return real(*args, **kwargs)

        monkeypatch.setattr(os, fail, flaky)
        with pytest.raises(OSError, match="injected fault"):
            sess.store.compact()
        monkeypatch.undo()

        merged = f"part-{0:012d}-{7:08d}.parquet"
        names = _log_names(log)
        if fail == "replace":
            assert names == sorted(old)
        else:
            assert names == sorted([merged] + old[1:])
            covered = []
            assert sess.store._fs_spans(covered) == [(0, 7, merged)]
            assert sorted(covered) == sorted(old[1:])
        assert not [f for f in os.listdir(log) if f.endswith(".tmp")]

        sess2 = GraphSession.attach(spark, log)
        assert _log_names(log) == (
            sorted(old) if fail == "replace" else [merged]
        )
        assert sess2.store.next_id == horizon
        rows_after = sorted(
            tuple(r) for r in sess2.store.to_df(spark).collect()
        )
        assert rows_after == rows_before
        assert [sess2.request(p) for p in probes] == replies_before


def test_commit_lands_by_rename(spark, monkeypatch, layouts):
    """A commit whose rename fails publishes nothing: no part under a
    canonical name, no tmp file left, the tail (when it was rolling
    one) unchanged, and a fresh attach sees only the rows committed
    before it.  A normal commit leaves no tmp."""
    import os

    from graphd_spark import store as store_mod

    def broken(*args, **kwargs):
        raise OSError("injected fault")

    for layout in layouts:
        sess = _parquet_session(spark)
        sess.request('write (value="a")')
        sess.request('write (value="b")')
        log = sess.log_path
        names = _log_names(log)
        assert sorted(os.listdir(log)) == names
        tails = [f for f in names if f.endswith(".arrows")]
        assert len(tails) == (layout == "tail")
        sizes = {f: os.path.getsize(os.path.join(log, f)) for f in names}
        count = sess.store.next_id

        store = sess.store
        store.begin()
        # one row lands as its own part in the "part" layout; past the
        # bound, the commit rolls the tail and its rows into a part
        for i in range(store_mod.TAIL_ROWS + 1):
            store.append(value=f"lost{i}")
        monkeypatch.setattr(os, "replace", broken)
        with pytest.raises(OSError, match="injected fault"):
            store.commit()
        monkeypatch.undo()
        assert sorted(os.listdir(log)) == names
        assert sizes == {
            f: os.path.getsize(os.path.join(log, f)) for f in names
        }
        reader = GraphSession.attach(spark, log)
        assert reader.store.next_id == count
        assert reader.store.to_df(spark).count() == count


def test_tmp_parts_invisible_and_kept_by_attach(spark):
    """A hidden tmp part (a crashed commit's, or one another process
    is still writing) is invisible to Spark and to the span listing;
    attach leaves it, a fresh store removes it."""
    import os

    from graphd_spark.store import ParquetLogStore

    sess = _parquet_session(spark)
    sess.request('write (value="a")')
    log = sess.log_path
    count = sess.store.next_id
    tmp = os.path.join(log, f".part-{count:012d}-{1:08d}.parquet.tmp")
    with open(tmp, "wb") as fh:
        fh.write(b"PAR1 partial")
    reader = GraphSession.attach(spark, log)
    assert os.path.exists(tmp)
    assert reader.store.next_id == count
    assert reader.store.to_df(spark).count() == count
    assert reader.store._horizon_of(reader.store._fs_spans()) == count
    ParquetLogStore(spark, log, fresh=True)
    assert os.listdir(log) == []


def test_commit_file_contract(spark, layouts):
    """A commit's rows read back, schema included, as the table the
    original per-column writer built: from the tail, and from the
    part a commit (or, for the tail, a compaction) writes; no column
    chunk of the part is dictionary encoded; Spark collects the same
    rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphd_spark.model import PRIMITIVE_FIELDS, su_encode
    from graphd_spark.store import (
        ParquetLogStore, _arrow_schema, _read_tail, _tail_table,
    )

    for layout in layouts:
        log = tempfile.mkdtemp(prefix="graphd_log_")
        store = ParquetLogStore(spark, log, fresh=True)
        store.begin()
        a = store.append(name="n\udcff", value="v\udc80x")  # broken UTF-8
        store.append(name="plain", left=a.guid, right=a.guid,
                     live=False, archival=False)
        store.append(value="3.5", typeguid=a.guid, scope=a.guid)
        store.commit()
        pend = store.rows
        assert {type(p.value_fkey) for p in pend} == {bytes, type(None)}
        assert {p.txstart for p in pend} == {True, False}
        assert {p.live for p in pend} == {True, False}
        assert any(p.left is None for p in pend)

        cols = {
            f: [
                su_encode(v)
                if f in ("name", "value", "value_norm")
                and isinstance(v, str)
                else v
                for p in pend
                for v in (getattr(p, f),)
            ]
            for f in PRIMITIVE_FIELDS
        }
        want = pa.table(cols, schema=_arrow_schema())
        want_rows = sorted(
            tuple(r[f] for f in PRIMITIVE_FIELDS) for r in want.to_pylist()
        )

        def spark_rows():
            return sorted(tuple(r) for r in store.to_df(spark).collect())

        if layout == "tail":
            got = _tail_table(_read_tail(_tail_of(log))[0])
            assert got.schema.equals(want.schema)
            assert got.equals(want)
            assert spark_rows() == want_rows
            store.compact()
        (part,) = _parquet_names(log)
        assert part == f"part-{0:012d}-{3:08d}.parquet"
        got = pq.read_table(os.path.join(log, part))
        assert got.schema.equals(want.schema)
        assert got.equals(want)
        meta = pq.ParquetFile(os.path.join(log, part)).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                chunk = meta.row_group(rg).column(c)
                assert not chunk.has_dictionary_page, chunk.path_in_schema
                assert not any("DICTIONARY" in e for e in chunk.encodings)
        assert spark_rows() == want_rows


def _tail_of(log):
    import os

    (tail,) = [f for f in os.listdir(log) if f.endswith(".arrows")]
    return os.path.join(log, tail)


def test_commits_append_to_one_tail(spark):
    """Small commits append to one hidden tail and create no file;
    Spark, attach and the fast path all see their rows."""
    import os

    from graphd_spark.store import _read_tail

    sess = _parquet_session(spark)
    sess.request('write (name="n" value="a")')
    log = sess.log_path
    tail = _tail_of(log)
    names = sorted(os.listdir(log))
    for v in "bcd":
        sess.request(f'write (name="n" value="{v}")')
    assert sorted(os.listdir(log)) == names
    assert not _parquet_names(log)
    msgs, end = _read_tail(tail)
    assert end == os.path.getsize(tail)
    assert len(msgs) == sess.store.next_id == 4  # a message per commit
    reader = GraphSession.attach(spark, log)
    assert reader.store.next_id == sess.store.next_id
    assert reader.store.to_df(spark).count() == sess.store.next_id
    want = 'ok (("a") ("b") ("c") ("d"))'
    assert reader.request('read (name="n" result=((value)))') == want
    assert sess.request('read (name="n" result=((value)))') == want


def test_torn_tail_is_cut_at_the_last_complete_batch(spark):
    """Half a message at the tail's end (a writer that died
    mid-append): attach, absorb and to_df see exactly the complete
    batches, and the next commit truncates the torn bytes first."""
    import os

    from graphd_spark.store import _read_tail

    writer = _parquet_session(spark)
    for v in "ab":
        writer.request(f'write (name="n" value="{v}")')
    log = writer.log_path
    follower = GraphSession.attach(spark, log)
    assert follower.store.hydrate()
    count = writer.store.next_id
    tail = _tail_of(log)
    whole = os.path.getsize(tail)
    msgs, _ = _read_tail(tail)
    torn = msgs[-1].serialize().to_pybytes()
    with open(tail, "ab") as fh:
        fh.write(torn[: len(torn) // 2])

    want = 'ok (("a") ("b"))'
    probe = 'read (name="n" result=((value)))'
    assert follower.request(probe) == want  # absorbs nothing
    assert follower.store.next_id == count
    reader = GraphSession.attach(spark, log)
    assert reader.store.next_id == count
    assert reader.store.to_df(spark).count() == count
    assert reader.request(probe) == want
    # the reader commits next: the torn half goes, its message follows
    assert reader.request('write (name="n" value="c")').startswith("ok (")
    msgs, end = _read_tail(tail)
    assert end == os.path.getsize(tail) > whole
    assert len(msgs) == 3 and end - whole == msgs[-1].serialize().size
    want = 'ok (("a") ("b") ("c"))'
    assert follower.request(probe) == want
    assert GraphSession.attach(spark, log).request(probe) == want


@pytest.mark.parametrize("roll", ["compact", "commit"])
def test_roll_interrupted_before_tail_unlink(spark, monkeypatch, roll):
    """A roll whose part landed but whose tail unlink failed (by
    ``compact`` or by the commit that passes TAIL_ROWS) leaves the
    tail beside the part that covers it.  A re-attach gives the same
    rows, next_id and replies as an in-memory replay of the same
    writes, and unlinks the covered tail."""
    import os

    from graphd_spark import store as store_mod

    sess, probes = _write_versioned_log(spark)
    log = sess.log_path
    store = sess.store
    tail = _tail_of(log)
    twin, _ = _write_versioned_log(None, memory=True)
    if roll == "commit":
        monkeypatch.setattr(store_mod, "TAIL_ROWS", store.next_id)
        for s in (store, twin.store):
            s.begin()
            s.append(name="n", value="rolled")
        twin.store.commit()
    real = os.unlink

    def flaky(path, *args, **kwargs):
        if str(path).endswith(".arrows"):
            raise OSError("injected fault")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(os, "unlink", flaky)
    with pytest.raises(OSError, match="injected fault"):
        store.compact() if roll == "compact" else store.commit()
    monkeypatch.undo()

    count = twin.store.next_id
    merged = f"part-{0:012d}-{count:08d}.parquet"
    assert _parquet_names(log) == [merged] and os.path.exists(tail)
    covered = []
    assert store._fs_spans(covered) == [(0, count, merged)]
    assert covered == [os.path.basename(tail)]

    again = GraphSession.attach(spark, log)
    assert not os.path.exists(tail)
    assert again.store.next_id == count
    rows = sorted(tuple(r) for r in again.store.to_df(spark).collect())
    assert rows == sorted(p.as_row() for p in twin.store.rows)
    probes.append('read (name="n" value="rolled" result=((value)))')
    assert [again.request(p) for p in probes] == [
        twin.request(p) for p in probes
    ]


def test_append_during_another_stores_roll_is_kept(spark):
    """A second store commits from a thread while the first compacts
    the log over and over: the tail lock makes every append land in
    a tail no roll has read yet, so no row is lost."""
    import sys
    import threading

    from graphd_spark.store import ParquetLogStore

    sess = _parquet_session(spark)
    sess.request('write (name="n" value="base")')
    log = sess.log_path
    other = ParquetLogStore.attach(spark, log)
    values = [f"w{i:04d}" for i in range(300)]
    errors = []

    def appender():
        try:
            for v in values:
                other.begin()
                other.append(name="n", value=v)
                other.commit()
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=appender)
        t.start()
        rolls = 0
        while t.is_alive() or rolls < 2:
            sess.store.compact()
            rolls += 1
        t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive() and not errors
    reader = ParquetLogStore.attach(spark, log)
    assert reader.next_id == other.next_id == len(values) + 1
    got = reader.to_df(spark).select("id", "value").collect()
    assert sorted(r["id"] for r in got) == list(range(other.next_id))
    assert {r["value"] for r in got} == set(values) | {"base"}


def _commit(store, value):
    store.begin()
    store.append(name="n", value=value)
    store.commit()


@pytest.mark.parametrize("roller", ["other", "self"])
def test_commit_after_another_writers_roll_is_refused(spark, roller):
    """Another store commits after this one, and its rows are rolled
    into a part (by it, or by this store's compaction): this store's
    next commit, whose first id the other's rows took, raises
    StoreError instead of starting a tail the part covers, and the
    log keeps exactly the rows that were committed."""
    from graphd_spark.store import ParquetLogStore, StoreError

    log = tempfile.mkdtemp(prefix="graphd_log_")
    mine = ParquetLogStore(spark, log, fresh=True)
    _commit(mine, "base")
    other = ParquetLogStore.attach(spark, log)
    _commit(other, "theirs")
    (other if roller == "other" else mine).compact()
    with pytest.raises(StoreError, match="another writer"):
        _commit(mine, "mine")
    reader = ParquetLogStore.attach(spark, log)
    assert reader.next_id == 2
    assert sorted(
        r["value"] for r in reader.to_df(spark).collect()
    ) == ["base", "theirs"]


def test_second_writer_never_hides_a_returned_commit(spark):
    """This store compacts and commits in a loop while a second
    store, attached after the first commit, commits from a thread.
    Each stops at its first StoreError (the other took ids it was
    about to write); every commit that returned is in the log once,
    and the ids stay dense."""
    import sys
    import threading

    from graphd_spark.store import ParquetLogStore, StoreError

    log = tempfile.mkdtemp(prefix="graphd_log_")
    mine = ParquetLogStore(spark, log, fresh=True)
    _commit(mine, "base")
    other = ParquetLogStore.attach(spark, log)
    done, errors = ["base"], []

    def writer(store, side):
        try:
            _commit(store, side)
        except StoreError:
            return False
        done.append(side)
        return True

    def appender():
        try:
            for i in range(300):
                if not writer(other, f"other{i}"):
                    return
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=appender)
        t.start()
        i, mine_ok = 0, True
        while t.is_alive() or i < 2:
            mine.compact()
            mine_ok = mine_ok and writer(mine, f"mine{i}")
            i += 1
        t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive() and not errors
    got = ParquetLogStore.attach(spark, log).to_df(spark)
    got = got.select("id", "value").collect()
    assert sorted(r["id"] for r in got) == list(range(len(got)))
    assert sorted(r["value"] for r in got) == sorted(done)


def test_lone_surrogate_value_round_trips(spark):
    """A value with lone surrogates (broken UTF-8 on the wire)
    commits to the log and reads back through the fast path, the
    compiled path and a fresh attach."""
    sess = _parquet_session(spark)
    v = "caf\udce9"
    assert sess.request(f'write (name="s" value="{v}")').startswith("ok (")
    probe = f'read (name="s" value="{v}" result=((value)))'
    want = f'ok (("{v}"))'
    assert sess.request(probe) == want
    sess.fast_read_enabled = False
    assert sess.request(probe) == want
    fresh = GraphSession.attach(spark, sess.log_path)
    assert fresh.request(probe) == want
    assert fresh.store.hydrate()
    assert fresh.request(probe) == want


def test_commits_to_a_spark_written_log_reach_spark_reads(spark, tmp_path):
    """A log Spark wrote (part names outside the canonical naming)
    still takes commits: they go to a tail, which Spark reads union
    with the parts."""
    mem = GraphSession(spark)
    mem.request('write (name="n" value="a")')
    log = str(tmp_path / "log")
    mem.store.save_parquet(spark, log)
    sess = GraphSession.attach(spark, log)
    assert sess.store._fs_spans() is None
    assert sess.request('write (name="n" value="b")').startswith("ok (")
    probe = 'read (name="n" result=((value)))'
    assert sess.request(probe) == 'ok (("a") ("b"))'
    assert GraphSession.attach(spark, log).request(probe) == (
        'ok (("a") ("b"))'
    )


def test_hydrate_after_a_concurrent_commit_then_write(spark, layouts):
    """Another store commits between this one's attach and its
    hydrate: the mirror holds that commit, and the hydrated session's
    next write lands after it, since hydrate sets the commit horizon
    and the tail offset from what it read.  A fresh attach lists
    every id once."""
    for layout in layouts:
        writer = _parquet_session(spark)
        for v in "abc":
            assert writer.request(f'write (value="{v}")').startswith("ok (")
        reader = GraphSession.attach(spark, writer.log_path)
        assert writer.request('write (value="d")').startswith("ok (")
        assert reader.store.hydrate()
        assert reader.request('write (value="e")').startswith("ok ("), layout
        for v in "de":
            assert reader.request(
                f'read (value="{v}" result=((value)))'
            ) == f'ok (("{v}"))'
        fresh = GraphSession.attach(spark, writer.log_path).store
        got = fresh.to_df(spark).select("id", "value").collect()
        assert sorted(r["id"] for r in got) == list(range(fresh.count()))
        assert sorted(r["value"] for r in got) == list("abcde")


def _varied_store(n=24):
    """An in-memory store whose rows cover the decoder's cases: lone
    surrogates in name, value and value_norm, links and None link
    fields, value_fkey as bytes and None, both values of every
    boolean, and versioned rows."""
    from graphd_spark.store import PrimitiveStore

    mem = PrimitiveStore()
    mem.begin()
    for i in range(n):
        node = mem.append(
            name=f"caf\udce9{i}" if i % 3 == 0 else f"n{i}",
            value=None if i % 4 == 1 else f"V\udcff {i}",
            live=i % 2 == 0,
            archival=i % 5 != 0,
        )
        if i % 4 == 2:
            mem.append(left=node.guid, right=mem.rows[0].guid,
                       typeguid=mem.rows[1].guid)
        if i % 6 == 3:
            mem.append(prev=node.guid, value=f"v{i}.1")
    mem.commit()
    return mem


def test_log_batches_decode_to_the_in_memory_rows():
    """A log batch (su_encode'd rows) and the same rows read back from
    a parquet file decode to primitives equal to the in-memory ones,
    every int an int and every bool a bool."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphd_spark.store import _prims_batch, _prims_of

    mem = _varied_store()
    rows = mem.rows
    assert any(p.value_norm and "\udcff" in p.value_norm for p in rows)
    assert {p.txstart for p in rows} == {p.live for p in rows} == {
        True, False}
    assert {type(p.value_fkey) for p in rows} == {bytes, type(None)}
    batch = _prims_batch(rows)
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_batches([batch]), sink)
    from_file = pq.read_table(pa.BufferReader(sink.getvalue()))
    for got in (_prims_of(batch), _prims_of(from_file)):
        assert got == rows
        for p in got:
            assert type(p.id) is type(p.datatype) is type(p.timestamp) is int
            assert type(p.generation) is int
            assert type(p.live) is type(p.archival) is type(p.txstart) is bool


def test_integer_column_with_a_null_decodes_to_int_and_none():
    """numpy turns an integer column with a null into NaN floats; the
    decoder keeps its values ints and the null None."""
    import dataclasses

    from graphd_spark.store import _prims_batch, _prims_of

    rows = _varied_store(4).rows
    rows[1] = dataclasses.replace(rows[1], datatype=None, generation=None)
    got = _prims_of(_prims_batch(rows))
    assert got == rows
    assert got[1].datatype is None and got[1].generation is None
    assert [type(p.datatype) for p in got[2:]] == [int] * (len(got) - 2)
    assert type(got[0].generation) is int


def test_foreign_layout_attaches_and_hydrates(spark, tmp_path):
    """A log Spark wrote as 8 files outside the part naming opens and
    hydrates through Spark into a mirror equal to the in-memory rows."""
    from graphd_spark.store import ParquetLogStore

    mem = _varied_store()
    log = str(tmp_path / "log")
    mem.save_parquet(spark, log, partitions=8)
    store = ParquetLogStore.attach(spark, log)
    assert store._fs_spans() is None
    assert store.count() == mem.count() and store.rows == []
    assert store.hydrate()
    assert store.rows == mem.rows
    assert store.count() == mem.count()


def test_own_layout_opens_and_hydrates_without_spark(spark, monkeypatch):
    """attach and hydrate of a log of parts and a tail run no Spark
    job: with no Spark session and _log_df raising, the store opens
    at the log's horizon and database id and hydrates the writer's
    rows, and its next commit continues the tail."""
    from graphd_spark.store import ParquetLogStore

    writer = _parquet_session(spark)
    for i in range(6):
        writer.request(f'write (name="caf\udce9" value="v{i}")')
        if i == 2:
            writer.store.compact()
    names = _log_names(writer.log_path)
    assert [n[:5] for n in names] == ["_tail", "part-"]

    def no_spark(self):
        pytest.fail("the log was read through Spark")

    monkeypatch.setattr(ParquetLogStore, "_log_df", no_spark)
    store = ParquetLogStore.attach(None, writer.log_path)
    assert store.count() == writer.store.count()
    assert store.db_id == writer.store.db_id
    assert store.hydrate()
    assert store.rows == writer.store.rows
    _commit(store, "after")
    assert _log_names(writer.log_path) == names
    assert ParquetLogStore.attach(None, writer.log_path).count() == (
        writer.store.count() + 1
    )


def test_timestamp_bounds_below_the_mirror_run_no_spark_job(
    spark, monkeypatch
):
    """On an attached, un-hydrated log of parts and a tail, the
    bsearch of a timestamp-bounded read reads its probes through
    pyarrow: with _log_df raising once the read's frame is built, the
    reply is the in-memory session's."""
    from graphd_spark.store import ParquetLogStore

    mem = GraphSession(spark)
    writer = _parquet_session(spark)
    for i in range(12):
        line = f'write (name="n" value="v{i}")'
        assert writer.request(line) == mem.request(line)
        if i == 6:
            writer.store.compact()
    assert [n[:5] for n in _log_names(writer.log_path)] == ["_tail", "part-"]
    reader = GraphSession.attach(spark, writer.log_path)
    assert reader.store.rows == []
    reader.store.to_df(spark)  # the read's frame, built once per version

    def no_spark(self):
        pytest.fail("the log was read through Spark")

    monkeypatch.setattr(ParquetLogStore, "_log_df", no_spark)
    for bound in (">=", "<"):
        for ts in ("0003", "0009", "0011"):
            q = (f'read (name="n" timestamp{bound}'
                 f'1970-01-01T00:00:00.{ts} result=count)')
            assert reader.request(q) == mem.request(q), q
    for ts in range(14):
        assert reader.store.timestamp_to_id(ts, "ge") == (
            mem.store.timestamp_to_id(ts, "ge")
        )


def test_attach_refuses_a_part_whose_rows_disagree_with_its_name(spark):
    """A part named for more rows than it holds ends the listed
    horizon past its last row: attach raises StoreError."""
    import os

    from graphd_spark.store import ParquetLogStore, StoreError

    sess = _parquet_session(spark)
    for v in "ab":
        sess.request(f'write (value="{v}")')
    sess.store.compact()
    (name,) = _log_names(sess.log_path)
    start, count = name[5:17], int(name[18:26])
    os.rename(
        os.path.join(sess.log_path, name),
        os.path.join(sess.log_path, f"part-{start}-{count + 1:08d}.parquet"),
    )
    with pytest.raises(StoreError, match=f"ends at id {count - 1}"):
        ParquetLogStore.attach(spark, sess.log_path)


def test_attached_lookups_round_trip_lone_surrogates(spark):
    """On an attached, un-hydrated log, rows read below the mirror
    come back su_decode'd, and text literals reach Spark su_encode'd:
    a keyed write matches the stored lone-surrogate value."""
    writer = _parquet_session(spark)
    v = "caf\udce9"
    reply = writer.request(f'write (name="s" value="{v}")')
    g = reply[len("ok ("):-1]
    reader = GraphSession.attach(spark, writer.log_path)
    assert reader.store.rows == []
    assert reader.store.get(g).value == v
    assert [p.guid for p in reader.store.find_by_value(v)] == [g]
    assert reader.request(
        f'write (name="s" value="{v}" key=(value))'
    ) == f"ok ({g})"


def test_lookups_below_the_mirror_ignore_rows_past_the_horizon(spark):
    """Rows at or past the mirror's base come only from the mirror: a
    version another writer committed past this session's horizon is
    invisible to get, successor and find_by_value, and a fresh attach
    sees it."""
    from graphd_spark.store import ParquetLogStore

    log = tempfile.mkdtemp(prefix="graphd_log_")
    writer = ParquetLogStore(spark, log, fresh=True)
    _commit(writer, "a")
    g = writer.rows[0].guid
    reader = ParquetLogStore.attach(spark, log)
    writer.begin()
    new = writer.append(prev=g, name="n", value="b")
    writer.commit()
    assert reader.get(g).value == "a"
    assert reader.get(new.guid) is None
    assert reader.successor(g) is None
    assert list(reader.find_by_value("b")) == []
    assert reader.lineage_members(g) == [g]
    fresh = ParquetLogStore.attach(spark, log)
    assert fresh.get(new.guid) == new
    assert fresh.successor(g) == new.guid
    assert fresh.lineage_members(g) == [g, new.guid]


def test_full_mirror_answers_get_and_successor_without_spark(
    spark, monkeypatch
):
    """While the mirror covers the log (a writing session, or an
    attached one after hydrate), get and successor build no Spark
    object, for known and unknown guids alike."""
    from pyspark.sql import functions as F

    from graphd_spark.store import ParquetLogStore

    sess = _parquet_session(spark)
    first = sess.request('write (value="a")')[len("ok ("):-1]
    second = sess.request(f'write (guid~={first} value="b")')
    second = second[len("ok ("):-1]
    hydrated = ParquetLogStore.attach(spark, sess.log_path)
    assert hydrated.hydrate()

    def no_spark(*args, **kwargs):
        pytest.fail("a full mirror's lookup built a Spark object")

    monkeypatch.setattr(F, "col", no_spark)
    monkeypatch.setattr(ParquetLogStore, "_log_df", no_spark)
    unknown = "0" * 32
    for store in (sess.store, hydrated):
        assert store.get(first).value == "a"
        assert store.get(unknown) is None
        assert store.successor(first) == second
        assert store.successor(second) is None
        assert store.successor(unknown) is None


def test_absorb_lists_again_after_a_concurrent_compaction(spark, layouts):
    """Another store compacts between mirror_current's listing and its
    read of the listed files: the read lists again and goes on from
    the mirror's end, so the mirror holds every committed row, the
    commit horizon is what it holds, and the next commit lands after
    them."""
    from graphd_spark.store import ParquetLogStore

    for layout in layouts:
        mine = ParquetLogStore(
            spark, tempfile.mkdtemp(prefix="graphd_log_"), fresh=True
        )
        for v in "ab":
            _commit(mine, v)
        other = ParquetLogStore.attach(spark, mine.path)
        _commit(other, "c")
        listing = mine._fs_spans

        def stale(covered=None):
            del mine._fs_spans  # one stale listing, then the real one
            spans = listing(covered)
            other.compact()
            return spans

        mine._fs_spans = stale
        assert mine.mirror_current(), layout
        assert [p.value for p in mine.rows] == list("abc")
        assert mine._flushed == mine.next_id == 3
        _commit(mine, "d")
        fresh = ParquetLogStore.attach(spark, mine.path)
        assert fresh.next_id == 4
        got = fresh.to_df(spark).select("id", "value").collect()
        assert sorted((r["id"], r["value"]) for r in got) == list(
            enumerate("abcd")
        )


def test_mirror_indexes_follow_rollback_and_trim(spark):
    """One routine indexes a mirror row and one unindexes it: after a
    rolled-back transaction, and after the bounded cache drops rows,
    every id index lists exactly the mirror's rows."""
    from graphd_spark.store import ParquetLogStore, PrimitiveStore

    def indexes(store):
        return [
            {k: v for k, v in d.items() if v}
            for d in (
                store._value_ids, store._name_ids, store._vnorm_ids,
                store._word_ids, store._ptr_ids, store._lin_ids,
            )
        ]

    def rebuilt(store):
        fresh = PrimitiveStore()
        for p in store.rows:
            fresh._index_prim(p)
        return indexes(fresh)

    log = tempfile.mkdtemp(prefix="graphd_log_")
    store = ParquetLogStore(spark, log, fresh=True, cache_rows=4)
    store.begin()
    head = store.append(name="Head", value="Alpha beta")
    store.commit()
    store.begin()
    store.append(prev=head.guid, name="head", value="alpha gamma",
                 left=head.guid, typeguid=head.guid)
    store.rollback()
    assert head.guid not in store.next_version
    assert indexes(store) == rebuilt(store)
    for i in range(6):
        store.begin()
        store.append(name=f"n{i}", value=f"word{i} alpha",
                     left=head.guid)
        store.commit()
    assert store._base == 3 and len(store.rows) == 4
    assert indexes(store) == rebuilt(store)


def test_value_sort_probes_name_bins_only_for_number_sorts(
    spark, monkeypatch
):
    """A default-comparator sort=value read on an attached store runs
    no find_by_name (the number sort-root's name-bin probe is only
    evaluated for a rendered number-comparator value sort), and a
    number-comparator read replies as the in-memory session does."""
    from graphd_spark.store import ParquetLogStore

    writer, mem = _parquet_session(spark), GraphSession()
    for sess in (writer, mem):
        for v in ("10", "9", "x", "2"):
            sess.request(f'write (name="region" value="{v}")')
    reader = GraphSession.attach(spark, writer.log_path)
    calls = []
    find = ParquetLogStore.find_by_name

    def spy(self, name):
        calls.append(name)
        return find(self, name)

    monkeypatch.setattr(ParquetLogStore, "find_by_name", spy)
    default = ('read (name="region" value>="1" sort=value pagesize=5 '
               'result=((value)))')
    assert reader.request(default) == mem.request(default)
    assert calls == []
    number = ('read (name="region" sort=value sort-comparator="number" '
              'result=((value)))')
    assert reader.request(number) == mem.request(number)
    assert calls
