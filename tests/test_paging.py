"""Deep-offset paging renders distributed (VERDICT r3 item 4).

A read with start=10^4 must NOT collect the 10^4-row prefix to the
driver just to slice it off — offset() pushes the slice executor-side
so only the page (and the compiler's small bounded probes) ever cross.
"""

from __future__ import annotations

from graphd_spark.api import GraphSession


def _concrete_df_cls(spark):
    # Spark 4: collect() lives on the classic/connect subclass, not on
    # pyspark.sql.DataFrame — patch the class reads actually use
    return type(spark.range(1))

# the compiler's own bounded materializations (fixed-set materialize cap
# is 101; gmap probes are <=64): any single collect above this means a
# prefix leaked to the driver
_DRIVER_COLLECT_BOUND = 101


def test_deep_offset_collects_only_the_page(spark, monkeypatch):
    gs = GraphSession(spark)
    # this test asserts the SPARK path's deep-offset behavior; the
    # serving fast path would answer driver-side with no collect at all
    gs.fast_read_enabled = False
    n = 10_500
    for i in range(n):
        gs.store.append(value=f"v{i:05d}")
    gs.store.commit()

    sizes = []
    cls = _concrete_df_cls(spark)
    orig = cls.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "collect", spy)

    reply = gs.request("read (start=10000 pagesize=5 result=((value)))")
    assert "v10000" in reply and "v10004" in reply
    assert "v09999" not in reply and "v10005" not in reply
    assert sizes, "read did not go through Spark collect"
    assert max(sizes) <= _DRIVER_COLLECT_BOUND, sizes


def test_deep_offset_sorted_page(spark, monkeypatch):
    """Same bound for an explicit sort= (TakeOrderedAndProject path)."""
    gs = GraphSession(spark)
    gs.fast_read_enabled = False
    n = 10_200
    for i in range(n):
        gs.store.append(value=f"v{(n - 1 - i):05d}")
    gs.store.commit()

    sizes = []
    cls = _concrete_df_cls(spark)
    orig = cls.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "collect", spy)

    reply = gs.request(
        "read (sort=$v $v=value start=10000 pagesize=3 result=((value)))"
    )
    assert "v10000" in reply and "v10002" in reply
    assert max(sizes) <= _DRIVER_COLLECT_BOUND, sizes


def test_start_past_end_is_empty(spark):
    gs = GraphSession(spark)
    for i in range(5):
        gs.store.append(value=f"v{i}")
    gs.store.commit()
    reply = gs.request("read (start=100 pagesize=5 result=((value)))")
    assert "not found" in reply


def test_sorted_cursor_resume_key_offset_path(spark, monkeypatch):
    """A sorted-cursor resume that MISSES the incremental sorter must
    reposition through sortsim.resume_offset and the compiler's Spark
    steps (a loop variable there once shadowed the jexpr _c helper, so
    every such resume raised UnboundLocalError; the suite only
    exercised the fast path).  Force the miss by zeroing the sortsim
    candidate cap."""
    import re

    import graphd_spark.compiler as compiler_mod

    gs = GraphSession(spark)
    gs.fast_read_enabled = False
    for i in range(10):
        gs.store.append(value=f"v{(i * 7) % 10}")
    gs.store.commit()

    monkeypatch.setattr(compiler_mod, "_SORTSIM_CAP", 0)

    first = gs.request(
        "read (sort=$v $v=value pagesize=3 result=(cursor (value)))"
    )
    assert "v0" in first and "v2" in first and "v3" not in first, first
    m = re.search(r'"((?:cursor|sort|position):[^"]*)"', first)
    assert m and m.group(1) != "null:", first
    esc = m.group(1).replace("\\", "\\\\").replace('"', '\\"')
    second = gs.request(
        f'read (sort=$v $v=value pagesize=3 cursor="{esc}" '
        "result=(cursor (value)))"
    )
    assert "v3" in second and "v5" in second, second
    assert "v2" not in second and "v6" not in second, second
