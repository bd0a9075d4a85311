#!/usr/bin/env python
"""Cluster entry point: resumable curation-and-pack over a documents
table (the training-data counterpart of run_extract.py).

Usage::

    sh scripts/make_pyfiles.sh
    spark-submit --driver-memory 8g --py-files engine.zip \
        scripts/run_curate.py \
        --docs-dir /path/holding/documents.parquet+embeddings.parquet \
        --warehouse /path/to/warehouse --run-id curate-2024-01 \
        [--batch-size N] [--ctx-len N] [--buckets N]

Stage 1 materializes the seven-gate keep-set (curation_flags table) and
the kept documents by pack bucket (kept_docs); stage 2 packs kept docs
into fixed-length token sequences per content bucket with per-bucket
checkpoints (packed_sequences); stage 3 writes the epoch order, one
shard/order table per epoch (epoch_order). Reruns with the same
--run-id resume from the last committed stage or bucket wave; semantic
knobs are pinned per run and a drifted resume is refused
(engine/curate.py). A knob left out takes the engine's default.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs-dir", required=True,
                    help="dir with documents.parquet and embeddings.parquet")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--batch-size", type=int, default=argparse.SUPPRESS)
    ap.add_argument("--ctx-len", type=int, default=argparse.SUPPRESS)
    ap.add_argument("--buckets", type=int, dest="n_buckets",
                    default=argparse.SUPPRESS)
    knobs = vars(ap.parse_args())
    docs_dir, root, run_id = (knobs.pop(k)
                              for k in ("docs_dir", "warehouse", "run_id"))

    from martial_arts_ocr_spark.engine.curate import run_curate
    from martial_arts_ocr_spark.engine.session import build_session

    spark = build_session(app_name=f"curate-{run_id}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        summary = run_curate(spark, docs_dir, root, run_id, **knobs)
    finally:
        spark.stop()
    print(json.dumps(summary))
    return 0 if summary["complete"] else 1


if __name__ == "__main__":
    sys.exit(main())
