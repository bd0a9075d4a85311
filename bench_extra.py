#!/usr/bin/env python
"""Round-9 optimization measurement harness (supplements the FROZEN bench.py).

bench.py is the driver's measurement contract and is never edited; the
probes that produced the numbers in OPTIMIZATION_r09.md live here so the
claims are reproducible. All timing uses the noop sink (guide §1.4) and
the interleaved-A/B discipline (round-3 lesson: sequential before/after
on this host is meaningless).

Subcommands:

    python bench_extra.py steady [sf_dir]
        First-run vs steady-state (best-of-4) wall time for each
        headline query in one warmed session — separates the one-time
        codegen/planning cost the one-shot bench measures from the
        repeatable execution floor.

    python bench_extra.py ab-spread <query> [sf_dir] [reps]
        Interleaved A/B of a spread_table-bearing query with the spread
        forced OFF vs the shipped code, best-of-reps per side, one
        process.

    python bench_extra.py extract-decomp [n_pages]
        Decompose the extraction pipeline wall time: input shuffle +
        Arrow transfer (identity UDF) vs + kernel (narrow output) vs the
        full wide-schema output.
"""

from __future__ import annotations

import sys
import time

from bench import CPUS, HEADLINE, _scan_split_bytes

DEFAULT_SF = "/root/testdata/sf0.1"


def _session(app: str, sf_dir: str):
    from martial_arts_ocr_spark.engine.session import build_session

    split = _scan_split_bytes(sf_dir, CPUS)
    spark = build_session(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name=app,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(split)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # same warmups as bench.py so first-run numbers are comparable
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(CPUS * 8).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long").count()
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_steady(sf_dir: str) -> None:
    from martial_arts_ocr_spark.queries import ALL_QUERIES

    spark = _session("bench-extra-steady", sf_dir)

    def run(name):
        _noop(ALL_QUERIES[name](spark, sf_dir))

    first = {}
    for q in HEADLINE:
        spark.sparkContext.setJobDescription(f"first:{q}")
        t0 = time.perf_counter(); run(q); first[q] = time.perf_counter() - t0
    steady = {}
    for q in HEADLINE:
        spark.sparkContext.setJobDescription(f"steady:{q}")
        ts = []
        for _ in range(4):
            t0 = time.perf_counter(); run(q); ts.append(time.perf_counter() - t0)
        steady[q] = min(ts)
    print(f"{'query':28s} {'first':>7s} {'steady':>7s} {'one-time':>9s}")
    for q in HEADLINE:
        print(f"{q:28s} {first[q]:7.3f} {steady[q]:7.3f}"
              f" {first[q] - steady[q]:9.3f}")
    print(f"{'TOTAL':28s} {sum(first.values()):7.3f}"
          f" {sum(steady.values()):7.3f}")
    spark.stop()


def cmd_ab_spread(query: str, sf_dir: str, reps: int) -> None:
    import martial_arts_ocr_spark.queries.corpus as corpus
    import martial_arts_ocr_spark.queries.neardup as neardup
    import martial_arts_ocr_spark.queries.similarity as similarity
    import martial_arts_ocr_spark.queries.tables as tables
    from martial_arts_ocr_spark.queries import ALL_QUERIES

    real = tables.spread_table

    def spread_off(spark_, sf, name, *cols):
        return tables.base_table(spark_, sf, name).select(*cols)

    def set_mode(on: bool) -> None:
        f = real if on else spread_off
        corpus.spread_table = f
        neardup.spread_table = f
        similarity.spread_table = f

    spark = _session("bench-extra-ab", sf_dir)
    for on in (False, True):            # warm both plan shapes
        set_mode(on)
        _noop(ALL_QUERIES[query](spark, sf_dir))
    res = {False: [], True: []}
    for _ in range(reps):
        for on in (False, True):        # interleaved, one process
            set_mode(on)
            t0 = time.perf_counter()
            _noop(ALL_QUERIES[query](spark, sf_dir))
            res[on].append(time.perf_counter() - t0)
    set_mode(True)
    print(f"{query} @ {sf_dir}")
    for on in (False, True):
        label = "spread ON " if on else "spread OFF"
        print(f"  {label} best={min(res[on]):.3f} "
              f"all={[round(x, 2) for x in res[on]]}")
    spark.stop()


def cmd_extract_decomp(n_pages: int) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from martial_arts_ocr_spark.engine.job import (extract_batch, kernel_rows,
                                                   with_host, with_salted_key)
    from martial_arts_ocr_spark.engine.schema import EXTRACTED_SCHEMA
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_spark

    spark = _session("bench-extra-decomp", DEFAULT_SF)
    pages = pages_spark(spark, n_pages, partitions=CPUS).persist()
    pages.count()

    def base():
        df = pages.select("url", "html", "lang").filter(
            F.col("html").isNotNull() & (F.length("html") > 0))
        df = with_host(df)
        df = with_salted_key(df, ["hot.example.com"], CPUS)
        return (df.repartition(CPUS, F.col("part_key"))
                  .select("url", "host", "html", "lang"))

    def ident(it):
        for pdf in it:
            yield pd.DataFrame({"url": pdf["url"]})

    def kernel_narrow(it):
        for pdf in it:
            yield pd.DataFrame({"url": [u for u, _ in kernel_rows(pdf)]})

    variants = {
        "identity (input floor)":
            lambda: base().mapInPandas(ident, schema="url string"),
        "+ kernel (narrow out)":
            lambda: base().mapInPandas(kernel_narrow, schema="url string"),
        "+ wide output (full)":
            lambda: base().mapInPandas(extract_batch, schema=EXTRACTED_SCHEMA),
    }
    for v in variants.values():
        v().count()                     # warm
    res = {k: [] for k in variants}
    for _ in range(4):
        for k, v in variants.items():   # interleaved
            t0 = time.perf_counter(); v().count()
            res[k].append(time.perf_counter() - t0)
    for k, ts in res.items():
        print(f"{k:24s} best={min(ts):.3f} all={[round(x, 2) for x in ts]}")
    spark.stop()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "steady"
    if cmd == "steady":
        cmd_steady(sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF)
    elif cmd == "ab-spread":
        cmd_ab_spread(sys.argv[2],
                      sys.argv[3] if len(sys.argv) > 3 else DEFAULT_SF,
                      int(sys.argv[4]) if len(sys.argv) > 4 else 5)
    elif cmd == "extract-decomp":
        cmd_extract_decomp(int(sys.argv[2]) if len(sys.argv) > 2 else 8000)
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
