from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("GRAPHD_SPARK_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from graphd_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("graphd_spark_tests", cpus=cpus)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(SF_ORACLE, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


_GOLDEN_SKIPS = pytest.StashKey[int]()


def pytest_collection_modifyitems(config, items):
    """Skip the reference-corpus goldens (test_golden.py and the
    test_golden_parquet_* cases) when the corpus is absent, the rule
    test_differential.py applies to the reference binary."""
    from golden import GOLDEN_DIR

    if os.path.isdir(GOLDEN_DIR):
        return
    skip = pytest.mark.skip(reason=f"reference corpus {GOLDEN_DIR} absent")
    n = 0
    for item in items:
        if item.path.name == "test_golden.py" or item.name.startswith(
            "test_golden_parquet_"
        ):
            item.add_marker(skip)
            n += 1
    config.stash[_GOLDEN_SKIPS] = n


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    n = config.stash.get(_GOLDEN_SKIPS, 0)
    if n:
        from golden import GOLDEN_DIR

        terminalreporter.write_line(
            f"{n} golden tests skipped: reference corpus {GOLDEN_DIR} absent"
        )
