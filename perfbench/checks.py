"""Output checks, run outside every timed region.

A document workload's output is correct when every url's (status, text)
digest equals the one from one-process ``extract_document`` over the same
pages (the byte-identity invariant) and no row failed. A query's output is
correct when it equals its DuckDB oracle from ``queries.ALL_ORACLES`` over
the same generated tables, compared by the rule of ``tests/oracle_check.py``
(its ``canon``): same row count, same column names, same values as an
unordered multiset.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from .inputs import TABLES, doc_digest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_check():
    """``tests/oracle_check.py``, loaded by path: ``tests`` is no package,
    and a ``tests`` package installed elsewhere must not shadow it. The
    module adds a directory of its own to ``sys.path``; that is undone."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_oracle_check",
        os.path.join(_ROOT, "tests", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


canon = _oracle_check().canon


def doc_mismatches(reference: dict[str, str], rows) -> int:
    """Number of documents whose extracted row is missing, duplicated,
    ``failed`` or differs from the reference; ``rows`` yields
    (url, status, text)."""
    seen: dict[str, str] = {}
    bad = 0
    for url, status, text in rows:
        if url in seen or status == "failed":
            bad += 1
        seen[url] = doc_digest(status, text)
    bad += sum(1 for url, d in reference.items() if seen.get(url) != d)
    bad += sum(1 for url in seen if url not in reference)
    return bad


def same_result(spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    return (sorted(spark_cols) == sorted(oracle_cols)
            and len(spark_rows) == len(oracle_rows)
            and canon(spark_rows, spark_cols) == canon(oracle_rows,
                                                       oracle_cols))


class Oracle:
    """DuckDB over the generated tables in ``tables_dir`` (a view per
    table file present), with ``SPARK_GRAFT_ORACLE_SF`` pointed at them
    for the oracles that bake data-derived literals."""

    def __init__(self, tables_dir: str):
        import duckdb

        os.environ["SPARK_GRAFT_ORACLE_SF"] = tables_dir
        self.con = duckdb.connect()
        for t in TABLES:
            if not os.path.exists(os.path.join(tables_dir, f"{t}.parquet")):
                continue
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{tables_dir}/{t}.parquet')")

    def run(self, name: str):
        from martial_arts_ocr_spark.queries import ALL_ORACLES

        sql = ALL_ORACLES[name]
        res = self.con.execute(sql() if callable(sql) else sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
