"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the same SQL on DuckDB over the sf0.01 parquet tables;
compares row count, column names, and order-insensitive values.

Usage: python tests/oracle_check.py [name ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import os

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


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


def main(names=None):
    import duckdb
    from __spark_entry__ import oracle_sql, queries
    from martial_arts_ocr_spark.engine.session import build_session

    # fail fast on a mistyped name BEFORE the ~20 s session build
    if names:
        known = set(queries())
        bad = sorted(set(names) - known)
        if bad:
            raise SystemExit(
                f"unknown query name(s): {bad}; valid: {sorted(known)}")

    spark = build_session(master=f"local[{len(os.sched_getaffinity(0))}]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs, oracles = queries(), oracle_sql()
    selected = names or sorted(qs)
    failures = []
    for name in selected:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name:28s} {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} duckdb error: {e}")
            continue
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_vals = canon(srows, scols) == canon(orows, ocols)
        if ok_count and ok_schema and ok_vals:
            print(f"OK    {name:28s} {len(srows)} rows")
        else:
            failures.append(name)
            print(f"FAIL  {name:28s} count={ok_count} schema={ok_schema} "
                  f"values={ok_vals}")
            if not ok_schema:
                print(f"      spark cols: {scols}\n      duck  cols: {ocols}")
            if not ok_vals:
                sc, oc = canon(srows, scols), canon(orows, ocols)
                for a, b in list(zip(sc, oc))[:5]:
                    if a != b:
                        print(f"      spark: {a}\n      duck : {b}")
    spark.stop()
    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
