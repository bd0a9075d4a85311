"""End-to-end wall time of the mixture-mode curation runner
(engine/curate.py: run_curate_mixture) over the cached replicated corpus
that scripts/run_curate_bench.py builds — the measurement behind
BASELINE.md "Round 8: mixture-mode runner end-to-end at 200k docs".

Single-shot cold-warehouse timing (not best-of-N: the runner is a
pipeline of snapshot-committed stages, so a second run would resume and
measure nothing); pair the number with the host anchor printed alongside
per the round-6 adjudication discipline.

NOTE the corpus is near-dup-degenerate BY DESIGN (every replica is a
near-dup of its base), so the seven-gate keep-set collapses 200k docs to
~1.8k kept — pick epoch_docs below that to exercise a sub-selective
(P<1) draw, or above it to measure the saturated path.

Usage: python scripts/run_mixture_bench.py [n_docs] [epoch_docs]
Prints one JSON line.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
N_EPOCHS = 2


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    epoch_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    corpus = f"/tmp/spark_graft_curation_{n_docs}"

    from bench import kernel_anchor
    anchor = kernel_anchor()

    from run_curate_bench import build_corpus  # same cached-corpus builder

    from martial_arts_ocr_spark.engine import curate
    from martial_arts_ocr_spark.engine.session import build_session

    root = f"/tmp/spark_graft_mixture_wh_{n_docs}_{epoch_docs}"
    shutil.rmtree(root, ignore_errors=True)

    spark = build_session(master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                          app_name="mixture-runner-bench")
    spark.sparkContext.setLogLevel("ERROR")
    build_corpus(spark, n_docs, corpus)

    # warm Python workers (first pandas UDF pays ~2 s fork on 32 slots)
    spark.range(CPUS * 8).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long").count()

    t0 = time.perf_counter()
    summary = curate.run_curate_mixture(
        spark, corpus, root, "mixbench",
        batch_size=4, n_epochs=N_EPOCHS, epoch_docs=epoch_docs)
    wall = time.perf_counter() - t0

    stream_seqs = [
        curate.read_mixture_epoch_stream(spark, root, "mixbench", e).count()
        for e in range(N_EPOCHS)]
    print(json.dumps({
        "n_docs": n_docs, "cpus": CPUS, "host_anchor": anchor,
        "n_epochs": N_EPOCHS, "epoch_docs": epoch_docs,
        "kept_docs": sum(g["n_docs"] for g in summary["grid"]),
        "wall_sec": round(wall, 2),
        "corpus_docs_per_sec": round(n_docs / wall, 1),
        "sampled_totals": {e: sum(v.values())
                           for e, v in summary["sampled"].items()},
        "epoch_stream_seqs": stream_seqs,
        "complete": summary["complete"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
