"""Sustained curation-pipeline throughput: the composed seven-gate
keep-set and the tokenize-and-pack stage over a large replicated corpus
(default 200k docs) at local[$SPARK_GRAFT_CPUS] (default: the cores
this process may run on) — the curation counterpart of the
sustained-extraction number in BASELINE.md.

Corpus: sf0.1's 5,000 documents replicated K times; every replica's text
is suffixed with a deterministic replica tag so content hashes differ
(the dedup gate stays meaningful), EXCEPT a 5% stride kept byte-identical
to give the survivorship gate real duplicates to kill. Embeddings stay
the sf0.1 2,000 rows — at 40× replication ~1% of docs are embedded,
which exercises the classifier gate's missing-embedding pass-through at
realistic coverage. Corpus build is cached on disk keyed by size
(round-3 lesson: never regenerate a corpus inside a timed loop).

Usage: python scripts/run_curate_bench.py [n_docs] [--rebuild]
Prints one JSON line.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

SRC = "/root/testdata/sf0.1"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))


def build_corpus(spark, n_docs: int, path: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(path, "_DONE")):
        return
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    base = spark.read.parquet(f"{SRC}/documents.parquet")
    n_base = base.count()
    reps = (n_docs + n_base - 1) // n_base
    rep = spark.range(reps).withColumnRenamed("id", "rep")
    docs = (
        base.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            # replica 0 keeps original ids/text so _BENCH_PROBES' src
            # docs exist; 5% of later replicas stay byte-identical dups
            F.when(
                (F.col("rep") == 0) | (F.col("doc_id") % 20 == 0),
                F.col("text"),
            ).otherwise(
                F.concat(F.col("text"), F.lit(" rep"),
                         F.col("rep").cast("string"))
            ).alias("text"),
            "lang", "source", "n_chars",
        )
        .where(F.col("doc_id") < n_docs)
    )
    docs.repartition(CPUS).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet"))
    # embeddings: the sf0.1 table as-is (ids 0..1999 → ~1% coverage)
    spark.read.parquet(f"{SRC}/embeddings.parquet").write.mode(
        "overwrite").parquet(os.path.join(path, "embeddings.parquet"))
    open(os.path.join(path, "_DONE"), "w").write("ok")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() \
        else 200_000
    path = f"/tmp/spark_graft_curation_{n_docs}"
    if "--rebuild" in sys.argv:
        shutil.rmtree(path, ignore_errors=True)

    from bench import kernel_anchor
    anchor = kernel_anchor()

    from martial_arts_ocr_spark.engine.session import build_session
    from martial_arts_ocr_spark.queries.corpus import (
        q_corpus_keep_set,
        q_packed_sequences,
    )

    spark = build_session(master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                          app_name="curate-bench")
    spark.sparkContext.setLogLevel("ERROR")
    build_corpus(spark, n_docs, path)

    # warm Python workers (first pandas UDF pays ~2 s fork on 32 slots)
    spark.range(CPUS * 8).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long").count()

    out = {"n_docs": n_docs, "cpus": CPUS, "host_anchor": anchor}
    for label, fn in (("keep_set", q_corpus_keep_set),
                      ("pack", q_packed_sequences)):
        fn(spark, path).write.format("noop").mode("overwrite").save()  # warm
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, path).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        best = min(times)
        out[label] = {"sec": round(best, 3),
                      "docs_per_sec": round(n_docs / best, 1),
                      "all_runs_sec": [round(t, 3) for t in times]}
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
