"""Physical-plan assertions: the scale contract, enforced.

Correctness tests prove the operators return the right rows; these
prove the plans stay efficient at cluster scale — the properties that
separate "works on 60k rows" from "works on 100 TB":

- no CartesianProduct anywhere (an all-pairs join is the canonical
  100x scale-killer);
- BroadcastNestedLoopJoin only where one side is a provably tiny
  literal (the restore synthesizer's 2-row range);
- no row-at-a-time Python UDFs (BatchEvalPython) in any hot path —
  Python crosses the JVM boundary only through Arrow
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas);
- filters and projections reach the Parquet scan (PushedFilters /
  ReadSchema) for the scan-shaped queries.

Plans are captured at sf0.001 — plan SHAPE is scale-independent for
these queries (no AQE re-planning is in play at build time).
"""

from __future__ import annotations

import io
import re

import pytest

from conftest import SF_SMOKE

from graphd_spark import (  # noqa: F401 — imports populate QUERIES
    inventory,
    inventory_events,
    inventory_gql,
    inventory_media,
    inventory_pipeline,
)


def plan_of(df) -> str:
    buf = io.StringIO()
    import contextlib

    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: queries whose plan legitimately contains a BroadcastNestedLoopJoin
#: — each broadcasts a provably tiny side:
#: - restore_bulk: literal 2-row range duplicating tuples
#: - ann_cosine_topk: the 10-query brute-force baseline (broadcast
#:   queries x scan corpus IS the spec; the LSH/IVF variants are the
#:   scale path)
#: - ann_ivf_topk: broadcast centroid table for cluster assignment
_BNLJ_OK = {"restore_bulk", "ann_cosine_topk", "ann_ivf_topk"}

#: media decode paths exercise binary columns through mapInPandas and
#: are covered by their own tests; everything else in the registry is
#: asserted here
_ALL = sorted(inventory.QUERIES)


@pytest.mark.parametrize("name", _ALL)
def test_no_cartesian_product(spark, name):
    plan = plan_of(inventory.QUERIES[name](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, (
        f"{name}: all-pairs join in plan"
    )
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join in plan"
        )


@pytest.mark.parametrize("name", _ALL)
def test_no_rowwise_python_udf(spark, name):
    """Python reaches executors only through Arrow batches."""
    plan = plan_of(inventory.QUERIES[name](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan"
    )


def test_scan_pushdown(spark):
    """scan_project_filter: the filter and the projection both reach
    the Parquet scan — the scan must not read all columns."""
    plan = plan_of(inventory.QUERIES["scan_project_filter"](spark, SF_SMOKE))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no filters pushed to scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c for c in m.group(1).split(",") if c]
    # lineitem has 16 columns; the query needs far fewer
    assert len(read_cols) <= 8, f"scan reads {len(read_cols)} columns"


def test_broadcast_small_dimensions(spark):
    """linkage_join_2hop joins lineitem->orders->customer; the
    dimension sides at sf must broadcast, never shuffle the fact
    table twice."""
    plan = plan_of(inventory.QUERIES["linkage_join_2hop"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_semi_join_stays_semi(spark):
    """The EXISTS-shaped query compiles to a semi join, not an inner
    join + dedup (the dedup would shuffle the whole fact table)."""
    plan = plan_of(inventory.QUERIES["semi_join_exists"](spark, SF_SMOKE))
    assert "LeftSemi" in plan or "left_semi" in plan.lower()


def test_anti_join_stays_anti(spark):
    plan = plan_of(inventory.QUERIES["anti_join_count0"](spark, SF_SMOKE))
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_topk_uses_take_ordered(spark):
    """orderBy().limit() must become TakeOrderedAndProject — a full
    sort of the table for a top-100 is wrong at any scale."""
    plan = plan_of(inventory.QUERIES["sort_multikey_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle(spark):
    """The as-of join's union-window form must shuffle ONCE on the
    key — a range join (BroadcastNestedLoop / cartesian) or a second
    exchange means the reformulation regressed."""
    plan = plan_of(inventory.QUERIES["events_asof_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one exchange (on user_id) feeds the window
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_sessionize_single_shuffle(spark):
    """Both windows and the rollup of sessionization ride one
    user_id exchange (AQE may add coalesces, never a reshuffle of
    different keys)."""
    plan = plan_of(inventory.QUERIES["events_sessionize"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_vocab_topk_take_ordered(spark):
    plan = plan_of(inventory.QUERIES["corpus_vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_broadcasts_rates(spark):
    """The rate dimension broadcasts; the documents side is a narrow
    scan -> filter with no shuffle at all."""
    plan = plan_of(inventory.QUERIES["sample_stratified"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan


def test_boilerplate_heavy_hitter_split(spark, tmp_path, monkeypatch):
    """Hot-shingle skew is handled deterministically, not by AQE.

    AQE's OptimizeSkewedJoin cannot fire on the inverted-index shape:
    its pattern needs a bare shuffle stage under BOTH sort children of
    the SMJ, and the document-frequency side has its final aggregation
    fused above the same-key shuffle (verified empirically — forcing
    spark.sql.adaptive.forceOptimizeSkewedJoin never yields skew=true
    here).  boilerplate_ngrams therefore splits heavy hitters itself:
    shingles in >= HH_NDOCS docs pick up their frequency from a
    BROADCAST dictionary map-side and enter the one shuffle join
    under a doc-hash salt spread across _HH_SALT keys (no hot
    partition possible); residual (sh, salt=0) keys have per-key
    frequency < HH_NDOCS by construction.  The exploded instance
    relation feeds the join exactly ONCE (one more pass computes the
    frequency aggregate — the inverted-index minimum).  This test
    pins that plan on a skewed fixture (one 3-gram in every document)
    and checks the answer exactly."""
    from collections import Counter

    rows = []
    for i in range(400):
        text = ("hot hot hot " * 6) + f"u{i}a u{i}b u{i}c u{i}d"
        rows.append((i, "src0", text, len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(inventory_pipeline, "HH_NDOCS", 100)

    out = inventory_pipeline.boilerplate_ngrams(spark, str(tmp_path))
    plan = plan_of(out)
    # the hot tag is a broadcast join; no anti-join branch remains
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "LeftAnti" not in plan, plan
    assert "CartesianProduct" not in plan
    # static plan: one Generate feeds the join, two more under the
    # hot/cold consumers of the SAME dfreq aggregate...
    assert len(set(re.findall(r"\((\d+)\) Generate", plan))) == 3, plan

    got = {r["doc_id"]: (r["n_shingles"], r["n_boiler"]) for r in out.collect()}
    # ...which AQE collapses at runtime: the dfreq shuffle is built
    # once and REUSED, so the instance relation (the 100 TB text
    # explode) is computed exactly twice — once for dfreq, once for
    # the join side, the inverted-index minimum (pre-r8: three)
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed

    dfreq: Counter = Counter()
    shingles = {}
    for i, (_, _, text, _) in enumerate(rows):
        w = text.split()
        s = [" ".join(w[j : j + 3]) for j in range(len(w) - 2)]
        shingles[i] = s
        for t in set(s):
            dfreq[t] += 1
    for i, s in shingles.items():
        want = (len(s), sum(1 for t in s if dfreq[t] >= 5))
        assert got[i] == want, (i, got[i], want)


# -- driver-side collect bounds (cursor/freeze paths) ---------------------
# Every driver collect in the cursor/freeze machinery must be provably
# bounded: a hot endpoint's linkage index holds millions of elements at
# cluster scale, and an unbounded rank/materialize collect there is a
# driver OOM.  These pin the round-8 fixes the way the limit(51)
# collapse guard pinned the round-6 one.


def test_isa_expansion_gate_no_job(monkeypatch):
    """An over-budget hmap bin never collects: the bin count is known
    driver-side (hm[4]) and the gate fires before any Spark access —
    store.to_df raising proves no job was even planned."""
    from graphd_spark import freeze
    from graphd_spark.compiler import Compiler, _ISA_SMALL_SET_MAX

    c = object.__new__(Compiler)

    class Boom:
        def to_df(self, spark):
            raise AssertionError("collected an over-budget bin")

    c.store = Boom()
    c.spark = None
    c.asof = None
    hm = ("value", "k", 0, 10, _ISA_SMALL_SET_MAX + 1, None)
    monkeypatch.setattr(
        freeze, "_isa_sub_hmap", lambda ev, con: (object(), hm)
    )
    assert c._isa_expansion_ids(object()) is None


def test_and_member_checks_are_bounded(monkeypatch):
    """The and-freeze intersection materializes ONLY the cost-model-
    elected producer; every other member is probed within the
    producer's candidate list (a hot-key gmap member must never be
    collected in full)."""
    from graphd_spark.compiler import Compiler

    c = object.__new__(Compiler)
    calls = []

    def fake_fetch(self, m, within):
        calls.append((m["tag"], within is None))
        if within is None:
            return set(m["ids"])
        return {x for x in m["ids"] if x in within}

    monkeypatch.setattr(Compiler, "_member_fetch", fake_fetch)
    members = [
        {"tag": "big", "ids": range(1000)},  # checked, never drained
        {"tag": "producer", "ids": [5, 7, 9]},
    ]
    assert c._member_intersection(members, 1) == [5, 7, 9]
    assert calls == [("producer", True), ("big", False)]

    # a producer past the defense bound refuses to materialize
    calls.clear()
    too_big = [{"tag": "huge", "ids": range(Compiler._AND_PRODUCER_MAX + 1)}]
    assert c._member_intersection(too_big, 0) is None
