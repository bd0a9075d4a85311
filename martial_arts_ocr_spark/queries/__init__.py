"""Driver-harness query surface (SURVEY.md §2 coverage).

Each module exposes ``QUERIES: dict[name, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, str]`` (DuckDB ANSI SQL over the pre-registered
views). Every query is oracle-checked by ``tests/test_query_gate.py``,
``extract_documents`` (the full kernel's free-text output) included. Even
the md5 sketches are exact (``md5_number_upper`` + HUGEINT wrapping
arithmetic, similarity.py) and the xxhash64 checkpoint buckets are baked
literals (xxh64.py mirror).

Determinism rules applied everywhere:
* every float aggregate is ``round(x, 2..6)`` on BOTH sides;
* every LIMIT is preceded by a total ORDER BY with a unique tie-break;
* aggregates are cast to BIGINT/DOUBLE explicitly (DuckDB's HUGEINT sums
  would otherwise hash differently from Spark's bigint).
"""

from . import (corpus, extended, extraction, graph, lineage, media, neardup,
               relational, similarity, temporal, textops)

ALL_QUERIES: dict = {}
ALL_ORACLES: dict = {}
for mod in (corpus, graph, media, temporal, lineage, extraction, neardup,
            similarity, extended, textops, relational):
    ALL_QUERIES.update(mod.QUERIES)
    ALL_ORACLES.update(getattr(mod, "ORACLES", {}))


def materialized_oracles() -> dict[str, str]:
    """ORACLES values may be callables returning SQL (used where the SQL
    bakes data-derived literals, e.g. the k-means IVF centroids) — resolve
    them on the driver at oracle_sql() time, never at module import
    (executors import this package for the pandas UDFs)."""
    return {k: (v() if callable(v) else v) for k, v in ALL_ORACLES.items()}
