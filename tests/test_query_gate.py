"""The correctness gate: every registered query, one case each.

Each case builds the query's DataFrame once at the SF of
``SPARK_GRAFT_ORACLE_SF`` (default sf0.01) — the SF the oracles that bake
data-derived literals read, so Spark's input and those literals agree by
construction — and checks three things:

1. every output column is scalar (an array, struct or map column cannot
   be canonicalized by a row sort: round 1's only red row, minhash_bands);
2. the physical plan passes ``plan_problems``;
3. the collected rows equal the DuckDB oracle under ``canon``.

Check one query: ``pytest tests/test_query_gate.py -k <name>``.
"""

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from martial_arts_ocr_spark.queries import (ALL_QUERIES, materialized_oracles,
                                            similarity)
from oracle_check import SF_DIR as SF, canon

_NON_SCALAR = (T.ArrayType, T.StructType, T.MapType)


def _udf_calls(node: str) -> list[str]:
    """The ``udf(args)#id`` expressions of an ``ArrowEvalPython [...]``
    plan line: its first bracketed list, split at depth-0 commas."""
    body = node[node.index("ArrowEvalPython [") + len("ArrowEvalPython ["):]
    calls, depth, start = [], 0, 0
    for i, c in enumerate(body):
        if c in "([":
            depth += 1
        elif c in ")]" and depth:
            depth -= 1
        elif c in ",]" and not depth:
            calls.append(body[start:i].strip())
            start = i + 1
            if c == "]":
                return calls
    raise ValueError(f"unterminated ArrowEvalPython list: {node}")


def plan_problems(plan: str) -> list[str]:
    """What a physical plan may not contain: a CartesianProduct, a
    row-at-a-time BatchEvalPython, or one Python UDF call evaluated by two
    ArrowEvalPython nodes (its body and its Arrow transfer run twice).
    Identical node lines are one node: a self-join's repeated
    InMemoryRelation subtrees print the same node, output ids included."""
    problems = [op for op in ("CartesianProduct", "BatchEvalPython")
                if op in plan]
    nodes = {line[line.index("ArrowEvalPython ["):]
             for line in plan.splitlines() if "ArrowEvalPython [" in line}
    seen: dict[str, str] = {}
    for node in sorted(nodes):
        for call in _udf_calls(node):
            if call in seen:
                problems.append(f"{call} under two nodes: {seen[call]} | "
                                f"{node}")
            seen[call] = node
    return problems


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def duck():
    """One DuckDB view per parquet table of the SF, named like the file."""
    con = duckdb.connect()
    for f in os.listdir(SF):
        table, ext = os.path.splitext(f)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{SF}/{f}')")
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return materialized_oracles()


@pytest.mark.parametrize("name", list(ALL_QUERIES))
def test_query(spark, duck, oracles, name):
    df = ALL_QUERIES[name](spark, SF)
    non_scalar = [f.name for f in df.schema.fields
                  if isinstance(f.dataType, _NON_SCALAR)]
    assert not non_scalar, non_scalar
    assert plan_problems(_plan(df)) == []
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    res = duck.execute(oracles[name])
    ocols, orows = [d[0] for d in res.description], res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows)
    got, want = canon(rows, cols), canon(orows, ocols)
    assert got == want, [ab for ab in zip(got, want) if ab[0] != ab[1]][:5]


def test_audit_flags_a_duplicated_udf(spark, monkeypatch):
    """Negative control: without ``asNondeterministic`` Catalyst pushes
    posexplode's inferred ``size(band_keys) > 0`` filter below the
    projection by evaluating the MinHash band-key UDF a second time."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def mhb(text: pd.Series) -> pd.Series:
        return similarity.minhash_band_keys_batch(text)

    monkeypatch.setattr(similarity, "_minhash_band_keys_udf", lambda: mhb)
    problems = plan_problems(_plan(ALL_QUERIES["minhash_bands"](spark, SF)))
    assert len(problems) == 1 and problems[0].startswith("mhb("), problems


@pytest.mark.parametrize("name, shape", [
    # sh runs over text and over concat(text, suffix): two calls that
    # print the same result id, so only the whole expression tells them
    # apart
    ("simhash_neardup_pairs", "ArrowEvalPython [sh("),
    # row_number is a Window function, not a Python UDF
    ("mixture_epoch_stream", "Window [row_number()"),
    ("ivf_ann_top5", "Window [row_number()"),
])
def test_audit_passes_name_collisions(spark, name, shape):
    """The plans a name-based duplicate detector flagged: the name
    repeats in the plan, but no one call is evaluated twice."""
    plan = _plan(ALL_QUERIES[name](spark, SF))
    assert plan.count(shape) > 1
    assert plan_problems(plan) == []
