"""Resumable end-to-end curation runner: gates -> kept set -> tokenize-
and-pack -> epoch order, with per-bucket checkpoints — the corpus-level
counterpart of the page-extraction runner (resume.py; reference parity:
the reference's persistence/status surface,
src/martial_arts_ocr/db/models.py, re-shaped for a training-data
pipeline).

Every write-once stage below is one ``catalog.commit_stage`` at its
``catalog.run_dir``: a resume that finds the stage's snapshot skips it.

1. **Gate stage** — the seven-gate keep-set (queries/corpus.py:
   q_corpus_keep_set — Gopher + LM + exact-dup survivorship + near-dup
   cluster survivorship + semantic-dup (SemDeDup) survivorship +
   decontamination + embedding classifier) under
   ``curation_flags/run_id=<id>``; then the kept documents (doc_id,
   text) partitioned by pack bucket under
   ``kept_docs/run_id=<id>/bucket=K`` — one shuffle, one corpus pass.
   Each pack wave then reads ONLY its own ``bucket=K`` dirs: partition
   pruning at the filesystem level, O(wave) listing. Filtering the whole
   corpus by a hash expression per wave prunes nothing, so packing N
   buckets in waves of B would cost N/B full corpus scans.
2. **Pack stage** — kept documents are packed per content-hash bucket
   (packing.py: bucket is the unit of parallelism AND determinism) in
   waves of ``batch_size`` buckets, each committed through the
   exactly-once wave protocol in ``catalog.py`` (tmp write, bucket-dir
   swap, snapshot, checkpoint rows). Resume skips completed buckets;
   because packing is a pure function of a bucket's
   documents, the decoded rows and the parquet data pages are identical
   across batch_size choices, parallelism levels, and crash/resume
   boundaries (pinned in tests/test_curate_runner.py). Raw file bytes
   are not: parquet-mr writes each column chunk's encoding set into the
   footer in hash order, which differs between JVM processes.
3. **Epoch stage** — once packing completes, one shard/order table per
   epoch (``epoch_order/run_id=<id>/epoch=E/bucket=K``), derived by
   packing.epoch_order_frame (the definition the oracled
   packed_epoch_order query pins); each epoch is one stage commit.

Design note — pack ONCE, shuffle per epoch: the runner fixes the corpus
composition at the gate stage and varies only the ORDER across epochs
(the standard shard contract — repacking per epoch would re-tokenize the
corpus E times for no training benefit). Composition control across
sources is the separate, oracled query surface
(queries/corpus.py:q_mixture_epoch_stream — temperature-quota sampling
per epoch); mixture mode (run_curate_mixture) draws each epoch's corpus
that way and pays the repack deliberately.

Config pinning: semantic knobs that shape output (ctx_len, n_buckets,
merge-table size, n_epochs) are pinned in ``_curate_<run_id>.json``;
resuming with different values is refused, because every restart-stable
id depends on them. batch_size is deliberately NOT pinned — wave
composition cannot reach the per-bucket pure packer.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import catalog
from .schema import MIX_CHECKPOINT_SCHEMA, PACK_CHECKPOINT_SCHEMA
from ..packing import CTX_LEN, N_BUCKETS, N_EPOCHS, epoch_order_frame, \
    pack_token_sequences, content_hash_col, pack_bucket_col

CURATION_TABLE = "curation_flags"
KEPT_TABLE = "kept_docs"
PACKED_TABLE = "packed_sequences"
PACKED_CKPT_TABLE = "packed_checkpoints"
EPOCH_TABLE = "epoch_order"

MIXTURE_DOCS_TABLE = "mixture_docs"
MIXTURE_PACKED_TABLE = "mixture_packed"
MIXTURE_CKPT_TABLE = "mixture_checkpoints"
MIXTURE_EPOCH_TABLE = "mixture_epoch_order"

# both runners share the config pin prefix, so one curation run of either
# mode owns a warehouse
_PACK = catalog.WaveLog(PACKED_TABLE, PACKED_CKPT_TABLE, PACK_CHECKPOINT_SCHEMA,
                        "bucket", "_curate_", "_tmp_curate_", "curation state")
_MIX = _PACK._replace(table=MIXTURE_PACKED_TABLE,
                      checkpoints=MIXTURE_CKPT_TABLE,
                      schema=MIX_CHECKPOINT_SCHEMA)

# explicit schemas for resume-path reads: an all-empty-bucket table has no
# file to infer from
_PACKED_SCHEMA = ("seq_in_bucket bigint, n_docs_in_seq bigint, "
                  "n_tokens bigint, fill_ratio double, "
                  "token_ids array<bigint>, run_id string, bucket bigint")
_KEPT_SCHEMA = "doc_id bigint, text string"
_SAMPLED_SCHEMA = "doc_id bigint, source string, text string"
_ORDER_SCHEMA = ("pos_in_bucket bigint, seq_in_bucket bigint, "
                 "shuffle_key string, bucket bigint")
_EPOCH_SCHEMA = "epoch bigint, " + _ORDER_SCHEMA


def _pin_config(root: str, run_id: str, cfg: dict) -> None:
    pinned = catalog.pin(root, _PACK, run_id, cfg)
    if pinned != cfg:
        raise ValueError(
            f"resume with different curation config: pinned {pinned}, "
            f"got {cfg} — packed output would not be comparable")


def _read_pinned(spark: SparkSession, path: str, schema: str,
                 progress: str, base: str | None = None) -> DataFrame:
    """Schema-pinned read of ``path``, partition columns taken below
    ``base`` (default ``path``). A missing ``path`` raises a
    FileNotFoundError naming the resume-progress surface ``progress``
    instead of Spark's raw path-not-found AnalysisException."""
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"{path} is not materialized (see {progress} for what has "
            "committed)")
    return (spark.read.schema(schema).option("basePath", base or path)
            .parquet(path))


def _read_bucket_dirs(spark: SparkSession, base: str, buckets: list[int],
                      schema: str, cols: list[str]) -> DataFrame:
    """Bucket-pruned partition-dir reader shared by every wave reader:
    reads ONLY the named ``bucket=K`` dirs (never lists the others — at
    tens of thousands of buckets that is the difference between O(wave)
    and O(corpus) IO per wave). Empty buckets have no dir (partitionBy
    writes none) and contribute no rows; when NONE exist the frame is
    schema-pinned empty."""
    dirs = [os.path.join(base, f"bucket={int(b)}") for b in buckets]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema + ", bucket bigint")
            .option("basePath", base).parquet(*dirs)
            .select(*cols))                # bucket re-derived by the packer


def read_kept_buckets(spark: SparkSession, root: str, run_id: str,
                      buckets: list[int]) -> DataFrame:
    """Read ONLY the given buckets' partition dirs of the kept-docs table
    (see _read_bucket_dirs for the pruning contract)."""
    return _read_bucket_dirs(spark, catalog.run_dir(root, KEPT_TABLE, run_id),
                             buckets, _KEPT_SCHEMA, ["doc_id", "text"])


def _snapshot_epochs(root: str, table: str, run_id: str,
                     stage: str) -> set[int]:
    return {int(s["epoch"])
            for s in catalog.run_snapshots(root, table, run_id, stage)}


def completed_epochs(root: str, run_id: str) -> set[int]:
    """Epochs whose snapshot committed (the snapshot append is the epoch
    stage's commit point, mirroring the pack wave's checkpoint rows)."""
    return _snapshot_epochs(root, EPOCH_TABLE, run_id, "epoch")


def read_epoch_order(spark: SparkSession, root: str, run_id: str,
                     epoch: int) -> DataFrame:
    """One epoch's shard/order table: a training reader seeks shard
    ``bucket``, position ``pos_in_bucket``. ``epoch`` arrives as the
    partition column of the epoch=E dir."""
    return _read_pinned(
        spark, catalog.run_dir(root, EPOCH_TABLE, run_id, epoch=epoch),
        _EPOCH_SCHEMA, "completed_epochs(root, run_id)",
        base=catalog.run_dir(root, EPOCH_TABLE, run_id))


def read_epoch_stream(spark: SparkSession, root: str, run_id: str,
                      epoch: int) -> DataFrame:
    """THE READER CONTRACT SURFACE — the piece a training loop imports:
    one epoch's order table joined back to the packed token arrays —
    (bucket, pos_in_bucket, seq_in_bucket, n_tokens, token_ids), one row
    per training sequence. A reader iterates shards (buckets)
    round-robin, each shard in pos_in_bucket order."""
    return _order_join_packed(read_epoch_order(spark, root, run_id, epoch),
                              read_packed(spark, root))


def _order_join_packed(order: DataFrame, packed: DataFrame) -> DataFrame:
    """The reader-contract join shared by both epoch-stream surfaces:
    bucket-local (both tables are bucket-partitioned on disk, so the join
    co-locates per shard and a reader pulling one shard touches exactly
    two bucket=K dirs), NO global sort — a global sort here would undo
    the shard contract (see epoch_order_frame)."""
    return (order.select("bucket", "pos_in_bucket", "seq_in_bucket")
            .join(packed.select("bucket", "seq_in_bucket",
                                "n_tokens", "token_ids"),
                  ["bucket", "seq_in_bucket"]))


def read_packed(spark: SparkSession, root: str) -> DataFrame:
    """The packed-sequence table (bucket-partitioned; empty buckets are
    bare dirs with no files and simply contribute no rows)."""
    return _read_pinned(spark, catalog.table_path(root, PACKED_TABLE),
                        _PACKED_SCHEMA,
                        "completed_pack_buckets(spark, root, run_id)")


def completed_pack_buckets(spark: SparkSession, root: str,
                           run_id: str) -> set[int]:
    return catalog.completed(spark, root, _PACK, run_id)


def _ensure_flags(spark: SparkSession, docs_dir: str, root: str,
                  run_id: str) -> DataFrame:
    """The seven-gate keep-set flags, one stage commit per run."""
    from ..queries.corpus import q_corpus_keep_set

    catalog.commit_stage(
        root, _PACK, CURATION_TABLE, run_id, "flags",
        lambda tmp: q_corpus_keep_set(spark, docs_dir)
        .write.mode("overwrite").parquet(tmp))
    return spark.read.parquet(catalog.run_dir(root, CURATION_TABLE, run_id))


def _kept_docs(spark: SparkSession, docs_dir: str,
               flags: DataFrame) -> DataFrame:
    return spark.read.parquet(f"{docs_dir}/documents.parquet").join(
        flags.where(F.col("kept")).select("doc_id"), "doc_id")


def _write_bucketed(spark: SparkSession, df: DataFrame, cols: list[str],
                    n_buckets: int, path: str) -> None:
    """Write ``df``'s ``cols`` partitioned by pack bucket, the layout the
    wave readers prune. 4× as many shuffle partitions as buckets: hashing
    K keys into exactly K partitions is balls-into-bins (≈1/e reducers
    empty, the hottest ≈ln K/ln ln K keys); at 4K the collision rate is
    negligible and partitionBy still lays files out per bucket, ≤4 files
    each. The width is capped at 16× the cluster parallelism: at tens of
    thousands of buckets, uncapped 4K partitions stress driver and
    shuffle tracking for no pruning gain; past the cap, files per bucket
    rise instead, which is benign."""
    width = min(4 * n_buckets,
                max(64, 16 * spark.sparkContext.defaultParallelism))
    (df.select(*cols,
               pack_bucket_col(content_hash_col(), n_buckets).alias("bucket"))
     .repartition(width, "bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def _pack_waves(spark: SparkSession, root: str, log: catalog.WaveLog,
                run_id: str, waves: list[list[int]], read, dest: str,
                scope: tuple, meta, ctx_len: int, n_buckets: int) -> None:
    """Pack each wave's documents ``read(wave)`` and commit the wave: the
    packed rows land in a tmp dir partitioned by bucket, then go through
    catalog's bucket-dir swap into ``dest`` and its wave commit, keyed
    ``(*scope, bucket)`` with snapshot fields ``meta(i)`` for wave i."""
    for i, wave in enumerate(waves):
        tmp = catalog.tmp_dir(root, log, run_id,
                              "_".join(map(str, ("pack", *scope, wave[0]))))
        (pack_token_sequences(read(wave), ctx_len=ctx_len,
                              n_buckets=n_buckets)
         .withColumn("run_id", F.lit(run_id))
         .repartition(len(wave), "bucket")
         .sortWithinPartitions("bucket", "seq_in_bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(tmp))
        catalog.swap_buckets(log, tmp, dest, wave)
        catalog.commit_wave(spark, root, log, run_id, wave, scope, **meta(i))


def _write_order(packed: DataFrame, epoch: int, n_buckets: int,
                 path: str) -> None:
    """One epoch's shard order, bucket-partitioned: epoch_order_frame for
    ONE epoch (never all epochs then a filter). ``epoch`` is carried by
    the epoch=E dir — keeping it as a data column too would trip a
    partition-column conflict on read."""
    order = epoch_order_frame(
        packed.select("bucket", "seq_in_bucket"), [epoch]).drop("epoch")
    (order.repartition(n_buckets, "bucket")
     .sortWithinPartitions("bucket", "pos_in_bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def run_curate(spark: SparkSession, docs_dir: str, root: str, run_id: str,
               batch_size: int = 4, n_buckets: int = N_BUCKETS,
               ctx_len: int = CTX_LEN, max_waves: int | None = None,
               n_epochs: int = N_EPOCHS,
               max_epochs: int | None = None) -> dict:
    """Run (or resume) the curation pipeline; returns a summary dict.

    ``docs_dir`` must hold ``documents.parquet`` and
    ``embeddings.parquet`` (the keep-set's seven gates read both).
    ``max_waves`` bounds this invocation's pack waves and ``max_epochs``
    this invocation's epoch-order writes — the crash-test hooks (same
    role as stopping run_checkpointed mid-run). ``n_epochs`` shapes the
    epoch artifact and is pinned like every other semantic knob."""
    from ..bpe_merges_1k import BPE_MERGES_1K

    catalog.claim_root(root, _PACK, run_id)
    _pin_config(root, run_id, {
        "n_buckets": n_buckets, "ctx_len": ctx_len,
        "n_merges": len(BPE_MERGES_1K), "n_epochs": n_epochs,
    })

    # --- stage 1: keep-set flags, then the kept docs by bucket ------------
    flags = _ensure_flags(spark, docs_dir, root, run_id)
    catalog.commit_stage(
        root, _PACK, KEPT_TABLE, run_id, "kept",
        lambda tmp: _write_bucketed(spark, _kept_docs(spark, docs_dir, flags),
                                    ["doc_id", "text"], n_buckets, tmp))

    # --- stage 2: pack kept docs per bucket, waves with checkpoints -------
    done = completed_pack_buckets(spark, root, run_id)
    _pack_waves(spark, root, _PACK, run_id,
                catalog.waves([b for b in range(n_buckets) if b not in done],
                              batch_size, max_waves),
                partial(read_kept_buckets, spark, root, run_id),
                catalog.table_path(root, PACKED_TABLE), (),
                lambda i: {"wave": i}, ctx_len, n_buckets)

    done_after = completed_pack_buckets(spark, root, run_id)
    summary = {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_completed": len(done_after),
        "complete": len(done_after) == n_buckets,
    }
    if summary["complete"]:
        packed = read_packed(spark, root)
        agg = packed.agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
        ).collect()[0]
        summary["n_seqs"] = int(agg["n_seqs"] or 0)
        summary["n_tokens"] = int(agg["n_tokens"] or 0)

        # --- stage 3: epoch order, one stage commit per epoch -------------
        # Runs only once packing is complete: a shard's order is a
        # function of the FULL packed table.
        done_epochs = completed_epochs(root, run_id)
        for e in [e for e in range(n_epochs)
                  if e not in done_epochs][:max_epochs]:
            catalog.commit_stage(root, _PACK, EPOCH_TABLE, run_id, "epoch",
                                 partial(_write_order, packed, e, n_buckets),
                                 epoch=e)
        summary["epochs_total"] = n_epochs
        summary["epochs_completed"] = len(completed_epochs(root, run_id))
        summary["epochs_complete"] = summary["epochs_completed"] == n_epochs
    return summary


# --- mixture mode: quota-sampled corpus per epoch -> pack -> order -----------
#
# The temperature-quota THRESHOLD sampler (queries/corpus.py:
# mixture_threshold_sample, the map-only deployment-scale form) draws each
# epoch's corpus from the KEPT documents; each epoch's sample is
# materialized bucket-partitioned, packed per bucket in checkpointed
# waves, and ordered per shard. Composition varies per epoch, so
# pack-once/shuffle-per-epoch cannot apply. Resume units: the per-epoch
# sample stage, the per-(epoch, bucket) pack checkpoints, the per-epoch
# order stage. Decoded rows and parquet data pages are identical across
# batch_size choices, parallelism levels, and crash/resume boundaries for
# the same pinned config (tests/test_curate_mixture.py); file footers are
# not, as in the pack stage above.


def completed_mix_pack(spark: SparkSession, root: str,
                       run_id: str) -> set[tuple[int, int]]:
    return catalog.completed(spark, root, _MIX, run_id)


def read_mixture_sampled(spark: SparkSession, root: str, run_id: str,
                         epoch: int, buckets: list[int]) -> DataFrame:
    """Wave reader for one epoch's sampled docs (see _read_bucket_dirs
    for the shared pruning contract)."""
    return _read_bucket_dirs(
        spark, catalog.run_dir(root, MIXTURE_DOCS_TABLE, run_id, epoch=epoch),
        buckets, _SAMPLED_SCHEMA, ["doc_id", "source", "text"])


def read_mixture_packed(spark: SparkSession, root: str, run_id: str,
                        epoch: int) -> DataFrame:
    return _read_pinned(
        spark,
        catalog.run_dir(root, MIXTURE_PACKED_TABLE, run_id, epoch=epoch),
        _PACKED_SCHEMA, "completed_mix_pack(spark, root, run_id)")


def read_mixture_epoch_stream(spark: SparkSession, root: str, run_id: str,
                              epoch: int) -> DataFrame:
    """Mixture-mode reader contract surface: one epoch's order table
    joined to THAT epoch's packed arrays (each epoch has its own packed
    table here — composition varies). Same bucket-local join shape as
    read_epoch_stream."""
    order = _read_pinned(
        spark,
        catalog.run_dir(root, MIXTURE_EPOCH_TABLE, run_id, epoch=epoch),
        _ORDER_SCHEMA, "run_curate_mixture's epochs_completed")
    return _order_join_packed(
        order, read_mixture_packed(spark, root, run_id, epoch))


def run_curate_mixture(spark: SparkSession, docs_dir: str, root: str,
                       run_id: str, batch_size: int = 4,
                       n_buckets: int = N_BUCKETS, ctx_len: int = CTX_LEN,
                       n_epochs: int = N_EPOCHS,
                       epoch_docs: int | None = None,
                       max_waves: int | None = None,
                       max_epochs: int | None = None) -> dict:
    """Run (or resume) the mixture-mode curation pipeline: seven-gate
    keep-set -> per-epoch temperature-quota threshold sample -> per-epoch
    tokenize-and-pack (checkpointed waves) -> per-epoch shard order.
    Returns a summary whose per-(epoch, source) sampled counts are the
    audit surface against the quota grid (the mixture_epoch_stream_
    threshold query's semantics over the kept corpus).

    ``max_waves`` bounds this invocation's pack waves ACROSS epochs and
    ``max_epochs`` the epochs entered — the crash-test hooks. Every
    semantic knob (incl. epoch_docs and the draw salt) is pinned."""
    from ..bpe_merges_1k import BPE_MERGES_1K
    from ..queries.corpus import (_MIX_EPOCH_DOCS, _MIX_THRESH_SALT,
                                  mixture_grid_rows,
                                  mixture_threshold_sample)

    epoch_docs = _MIX_EPOCH_DOCS if epoch_docs is None else int(epoch_docs)
    catalog.claim_root(root, _MIX, run_id)
    _pin_config(root, run_id, {
        "mode": "mixture", "n_buckets": n_buckets, "ctx_len": ctx_len,
        "n_merges": len(BPE_MERGES_1K), "n_epochs": n_epochs,
        "epoch_docs": epoch_docs, "salt": _MIX_THRESH_SALT,
    })

    # the kept corpus WITH source (the sampler's quota key); the frame is
    # lazy — it only executes for epochs whose sample isn't committed yet
    kept = _kept_docs(spark, docs_dir,
                      _ensure_flags(spark, docs_dir, root, run_id))

    # the quota grid is snapshot-cached at first computation: a resume
    # must sample with the SAME grid that shaped the already-committed
    # epochs (not one re-derived from whatever docs_dir holds now), and a
    # no-op resume/status poll then launches no corpus scan at all
    grid_snap = catalog.run_snapshots(root, MIXTURE_DOCS_TABLE, run_id,
                                      "mix_grid")
    if grid_snap:
        grid = [tuple(r) for r in grid_snap[0]["grid"]]
    else:
        grid = mixture_grid_rows(kept, epoch_docs=epoch_docs)
        catalog.append_snapshot(root, MIXTURE_DOCS_TABLE,
                                {"run_id": run_id, "stage": "mix_grid",
                                 "grid": [list(r) for r in grid]})

    def write_sample(epoch: int, tmp: str) -> dict:
        _write_bucketed(spark,
                        mixture_threshold_sample(kept, grid, [epoch]),
                        ["doc_id", "source", "text"], n_buckets, tmp)
        # per-source counts ride IN the snapshot: computed once at commit
        # time from the just-written dir, so the summary below — and
        # every no-op resume/status poll — never re-scans the samples
        rows = (_read_bucket_dirs(spark, tmp, list(range(n_buckets)),
                                  _SAMPLED_SCHEMA, ["source"])
                .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                .collect())
        return {"counts": {r["source"]: int(r["n"]) for r in rows}}

    waves_left = max_waves
    pack_done = completed_mix_pack(spark, root, run_id)
    for e in range(n_epochs)[:max_epochs]:
        catalog.commit_stage(root, _MIX, MIXTURE_DOCS_TABLE, run_id,
                             "mix_sample", partial(write_sample, e), epoch=e)

        waves = catalog.waves([b for b in range(n_buckets)
                               if (e, b) not in pack_done],
                              batch_size, waves_left)
        if waves_left is not None:
            waves_left -= len(waves)
        _pack_waves(spark, root, _MIX, run_id, waves,
                    lambda w: read_mixture_sampled(spark, root, run_id, e, w)
                    .select("doc_id", "text"),
                    catalog.run_dir(root, MIXTURE_PACKED_TABLE, run_id,
                                    epoch=e),
                    (e,), lambda _i: {"epoch": e}, ctx_len, n_buckets)
        pack_done.update((e, b) for wave in waves for b in wave)

        # the shard order of THIS epoch's pack, once every bucket is in
        if all((e, b) in pack_done for b in range(n_buckets)):
            catalog.commit_stage(
                root, _MIX, MIXTURE_EPOCH_TABLE, run_id, "mix_epoch",
                lambda tmp: _write_order(
                    read_mixture_packed(spark, root, run_id, e), e,
                    n_buckets, tmp),
                epoch=e)

    # --- summary: the per-(epoch, source) audit surface -------------------
    # counts come from the sample snapshots, so a resume/status poll with
    # nothing to do launches NO Spark jobs here
    order_done = _snapshot_epochs(root, MIXTURE_EPOCH_TABLE, run_id,
                                  "mix_epoch")
    return {
        "run_id": run_id,
        "epochs_total": n_epochs,
        "epochs_completed": len(order_done),
        "complete": len(order_done) == n_epochs,
        "grid": [{"source": s, "n_docs": nd, "quota": q, "n_target": nt}
                 for (s, nd, q, nt) in grid],
        "sampled": {int(s["epoch"]): dict(s["counts"])
                    for s in catalog.run_snapshots(
                        root, MIXTURE_DOCS_TABLE, run_id, "mix_sample")},
    }
