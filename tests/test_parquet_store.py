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


def test_compact_merges_commit_files_content_identical(spark):
    """compact() folds N commit files into one part file with the
    same rows, same horizon, and working reads before/after."""
    import os

    sess = _parquet_session(spark)
    guids = []
    for i in range(6):
        r = sess.request(f'write (name="n" value="v{i}")')
        guids.append(r.split("(")[1].split(" ")[0])
    sess.request(f'write (guid~={guids[0]} name="n" value="v0b")')
    log = sess.log_path
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(files) == 7
    before = sorted(
        tuple(r) for r in sess.store.to_df(spark).collect()
    )
    probes = [
        'read (name="n" value="v3" result=((value)))',
        'read (name="n" result=((value guid)))',
        f'read (guid={guids[1]} result=((value)))',
    ]
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
