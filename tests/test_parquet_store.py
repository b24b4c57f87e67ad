"""ParquetLogStore: the off-driver store backend.

Verifies the three scale properties the architecture promises:
- protocol parity: golden scripts replay identically with the store
  reading from the parquet log instead of driver memory;
- bounded driver: with ``cache_rows`` set, the driver never holds more
  than the cache, and reads/writes stay correct through Spark
  fallbacks;
- attach: opening an existing log collects only the 1-row horizon
  aggregate, never the log body.
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


def _write_versioned_log(spark):
    """Six commits plus a version bump: seven one-primitive parts."""
    sess = _parquet_session(spark)
    guids = []
    for i in range(6):
        r = sess.request(f'write (name="n" value="v{i}")')
        guids.append(r.split("(")[1].split(" ")[0])
    sess.request(f'write (guid~={guids[0]} name="n" value="v0b")')
    probes = [
        'read (name="n" value="v3" result=((value)))',
        'read (name="n" result=((value guid)))',
        f'read (guid={guids[1]} result=((value)))',
        f'read (guid~={guids[0]} result=((value)))',
    ]
    return sess, probes


def test_compact_merges_commit_files_content_identical(spark):
    """compact() folds N commit files into one part file with the
    same rows, same horizon, and working reads before/after."""
    import os

    sess, probes = _write_versioned_log(spark)
    log = sess.log_path
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(files) == 7
    before = sorted(
        tuple(r) for r in sess.store.to_df(spark).collect()
    )
    replies_before = [sess.request(p) for p in probes]
    horizon_before = sess.store.next_id
    sess.store.compact()
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(files) == 1
    assert files[0] == f"part-{0:012d}-{7:08d}.parquet"
    after = sorted(tuple(r) for r in sess.store.to_df(spark).collect())
    assert after == before
    assert sess.store._horizon_of(sess.store._fs_spans()) == horizon_before
    # every probe replies byte-identically across the compaction
    assert [sess.request(p) for p in probes] == replies_before
    # a fresh attach sees the compacted log
    sess2 = GraphSession.attach(spark, log)
    assert sess2.store.next_id == horizon_before
    # compact is idempotent / no-op on a single file
    sess.store.compact()
    assert len(
        [f for f in os.listdir(log) if f.endswith(".parquet")]
    ) == 1
    # appends after compaction keep working
    sess.request('write (name="n" value="v7")')
    assert sess.request(
        'read (name="n" value="v7" result=((value)))'
    ) == 'ok (("v7"))'


def test_compact_refuses_foreign_layout(spark):
    """A directory holding parquet outside the canonical part naming
    (e.g. a Spark bulk import) is left untouched."""
    import os

    sess = _parquet_session(spark)
    sess.request('write (name="n" value="a")')
    sess.request('write (name="n" value="b")')
    log = sess.log_path
    alien = os.path.join(log, "data-0001.parquet")
    canonical = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    import shutil

    shutil.copy(os.path.join(log, canonical[0]), alien)
    names_before = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    sess.store.compact()
    assert sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    ) == names_before


def _parquet_names(log):
    import os

    return sorted(f for f in os.listdir(log) if f.endswith(".parquet"))


def test_attach_refuses_a_log_with_a_missing_part(spark, monkeypatch):
    """A log whose parts skip ids is not read as complete: attach
    raises StoreError naming the missing ids, before any Spark read."""
    import os

    from graphd_spark.store import ParquetLogStore, StoreError

    sess = _parquet_session(spark)
    for v in "abc":
        sess.request(f'write (value="{v}")')
    log = sess.log_path
    parts = _parquet_names(log)
    assert len(parts) == 3
    start, count = (int(x) for x in parts[1][5:-8].split("-"))
    os.unlink(os.path.join(log, parts[1]))

    def no_spark(self):
        pytest.fail("attach read the gapped log through Spark")

    monkeypatch.setattr(ParquetLogStore, "_log_df", no_spark)
    with pytest.raises(
        StoreError, match=rf"missing ids {start}\.\.{start + count - 1},"
    ):
        GraphSession.attach(spark, log)


@pytest.mark.parametrize("fail", ["replace", "unlink"])
def test_compact_interrupted_keeps_log_intact(spark, monkeypatch, fail):
    """A compaction that dies before its rename leaves the old parts
    alone; one that dies after the rename, with only the first old
    part unlinked, leaves the merged part beside parts it covers.
    Either way a re-attach sees the pre-compaction rows, horizon and
    replies, and the covered parts are gone after the attach."""
    import os

    sess, probes = _write_versioned_log(spark)
    log = sess.log_path
    old_parts = _parquet_names(log)
    assert len(old_parts) == 7
    rows_before = sorted(tuple(r) for r in sess.store.to_df(spark).collect())
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
    names = _parquet_names(log)
    if fail == "replace":
        assert names == old_parts
    else:
        assert names == sorted([merged] + old_parts[1:])
        covered = []
        assert sess.store._fs_spans(covered) == [(0, 7, merged)]
        assert sorted(covered) == old_parts[1:]
    assert not [f for f in os.listdir(log) if f.endswith(".tmp")]

    sess2 = GraphSession.attach(spark, log)
    assert _parquet_names(log) == (
        old_parts if fail == "replace" else [merged]
    )
    assert sess2.store.next_id == horizon
    rows_after = sorted(tuple(r) for r in sess2.store.to_df(spark).collect())
    assert rows_after == rows_before
    assert [sess2.request(p) for p in probes] == replies_before


def test_commit_lands_by_rename(spark, monkeypatch):
    """A commit whose rename fails publishes nothing: no part under a
    canonical name, no tmp file left, and a fresh attach sees only
    the rows committed before it.  A normal commit leaves no tmp."""
    import os

    sess = _parquet_session(spark)
    sess.request('write (value="a")')
    sess.request('write (value="b")')
    log = sess.log_path
    names = _parquet_names(log)
    assert not [f for f in os.listdir(log) if not f.endswith(".parquet")]
    count = sess.store.next_id

    def broken(*args, **kwargs):
        raise OSError("injected fault")

    store = sess.store
    store.begin()
    store.append(value="lost")
    monkeypatch.setattr(os, "replace", broken)
    with pytest.raises(OSError, match="injected fault"):
        store.commit()
    monkeypatch.undo()
    assert sorted(os.listdir(log)) == names
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


def test_commit_file_contract(spark):
    """A commit file reads back, schema included, as the table the
    original per-column writer built; no column chunk is dictionary
    encoded; Spark collects the same rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphd_spark.model import PRIMITIVE_FIELDS, su_encode
    from graphd_spark.store import ParquetLogStore, _arrow_schema

    log = tempfile.mkdtemp(prefix="graphd_log_")
    store = ParquetLogStore(spark, log, fresh=True)
    store.begin()
    a = store.append(name="n\udcff", value="v\udc80x")  # broken UTF-8
    # value_norm is written as is, and a lone surrogate cannot cross
    # into Arrow: give this row an encodable one
    a.value_norm = su_encode(a.value_norm)
    store.append(name="plain", left=a.guid, right=a.guid,
                 live=False, archival=False)
    store.append(value="3.5", typeguid=a.guid, scope=a.guid)
    store.commit()
    pend = store.rows
    assert {type(p.value_fkey) for p in pend} == {bytes, type(None)}
    assert {p.txstart for p in pend} == {True, False}
    assert {p.live for p in pend} == {True, False}
    assert any(p.left is None for p in pend)

    (part,) = _parquet_names(log)
    assert part == f"part-{0:012d}-{3:08d}.parquet"
    got = pq.read_table(os.path.join(log, part))
    cols = {
        f: [
            su_encode(v) if f in ("name", "value") and isinstance(v, str)
            else v
            for p in pend
            for v in (getattr(p, f),)
        ]
        for f in PRIMITIVE_FIELDS
    }
    want = pa.table(cols, schema=_arrow_schema())
    assert got.schema.equals(want.schema)
    assert got.equals(want)
    meta = pq.ParquetFile(os.path.join(log, part)).metadata
    for rg in range(meta.num_row_groups):
        for c in range(meta.num_columns):
            chunk = meta.row_group(rg).column(c)
            assert not chunk.has_dictionary_page, chunk.path_in_schema
            assert not any("DICTIONARY" in e for e in chunk.encodings)
    spark_rows = sorted(
        tuple(r) for r in store.to_df(spark).collect()
    )
    assert spark_rows == sorted(
        tuple(r[f] for f in PRIMITIVE_FIELDS) for r in want.to_pylist()
    )
