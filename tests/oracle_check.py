"""The rule by which a query result equals its DuckDB oracle, and the SF
it is applied at.

Two results are equal when they have the same row count, the same column
names and the same values as an unordered multiset, compared with
``canon``. ``tests/test_query_gate.py`` applies it to every registered
query at ``SF_DIR``, the SF the oracles that bake data-derived literals
read; ``perfbench/checks.py`` loads this file by path for its output
checks, so importing it must have no side effects: no session, no
subprocess, no DuckDB connection.
"""

from __future__ import annotations

import math
import os

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)
