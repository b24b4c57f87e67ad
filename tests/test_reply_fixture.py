"""Recorded replies (tests/replies.json.gz) on each read path.

The fixture holds byte-literal replies for the or-chain, variable and
count-bound request scripts (see tools/record_replies.py, which wrote
it).  Each case replays on a fast-path session and on a compiler-only
session, and every reply must equal the recording — so a fault in the
read plan both evaluators share shows, which a comparison of the two
paths with each other cannot see.
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from graphd_spark.api import GraphSession

_FIXTURE = os.path.join(os.path.dirname(__file__), "replies.json.gz")

with gzip.open(_FIXTURE, "rt", encoding="utf-8") as _f:
    _CASES = json.load(_f)


@pytest.mark.parametrize("fast", [True, False], ids=["fast", "compiler"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_recorded_replies(spark, case, fast):
    gs = GraphSession(spark)
    gs.fast_read_enabled = fast
    for req, want in _CASES[case]:
        assert gs.request(req) == want, req
