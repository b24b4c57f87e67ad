"""The parquet log backend answers like the in-memory store.

Seeded write and versioning scripts from the differential generators
replay through an in-memory ``GraphSession`` and through a
``GraphSession(log_path=…, cache_rows=4)``, whose point lookups below
its 4-row cache run as Spark queries over the log's parquet parts and
its tail; every reply must be byte-identical.  The script's reads then
run on an un-hydrated ``attach`` of that log, before and after
``compact()`` rolls the tail into a part, and must equal the in-memory
session's replies to the same reads.  No reference binary is needed:
the in-memory engine is the oracle here.
"""

from __future__ import annotations

import pytest

import test_differential as td
from graphd_spark.api import GraphSession

def _replay(lines: list[str]) -> list[str]:
    gs = GraphSession()
    return [gs.request(ln) for ln in lines]


GENERATORS = {
    "write": td.gen_write_script,
    "version": td.gen_version_script,
}


@pytest.mark.parametrize("seed", range(3))
@pytest.mark.parametrize("gen", sorted(GENERATORS))
def test_log_backend_replies_match_memory(spark, tmp_path, monkeypatch,
                                          gen, seed):
    # gen_version_script learns the guids of its base writes from the
    # reference; the in-memory engine allocates the same ones
    monkeypatch.setattr(td, "run_reference", _replay)
    lines = GENERATORS[gen](seed)
    log = str(tmp_path / "log")
    mem = GraphSession(spark)
    disk = GraphSession(spark, log_path=log, cache_rows=4)
    for ln in lines:
        assert disk.request(ln) == mem.request(ln), ln

    reads = [ln for ln in lines if ln.startswith("read")]
    want = [mem.request(ln) for ln in reads]
    attached = GraphSession.attach(spark, log)
    assert attached.store.next_id == mem.store.next_id
    assert [attached.request(ln) for ln in reads] == want
    attached.store.compact()
    assert [attached.request(ln) for ln in reads] == want
