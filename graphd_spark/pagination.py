"""Key-set continuation predicates for scale-safe deep paging.

Given a total order (sort keys + a unique tiebreaker), the next page
after a row is ``WHERE (k1, k2, ...) > (last...) ORDER BY k LIMIT
page`` — a plan that stays TakeOrderedAndProject-shaped at any offset,
instead of the single-partition global window an OFFSET plan
degenerates to (``inventory.page_offset``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F


def after_predicate(key_cols: Sequence[str], last: Sequence):
    """Row-value comparison ``(k1,k2,...) > (v1,v2,...)`` as a Column.

    Expanded to the standard nested form so every comparison pushes
    down (Parquet min/max pruning sees the leading key's ``>=``).
    """
    assert len(key_cols) == len(last)
    pred = None
    for i in range(len(key_cols)):
        clause = None
        for j in range(i):
            eq = F.col(key_cols[j]) == F.lit(last[j])
            clause = eq if clause is None else (clause & eq)
        gt = F.col(key_cols[i]) > F.lit(last[i])
        clause = gt if clause is None else (clause & gt)
        pred = clause if pred is None else (pred | clause)
    return pred
