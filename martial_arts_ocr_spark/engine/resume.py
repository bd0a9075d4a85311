"""Checkpointed, resumable extraction runs with per-partition lineage.

North-rule requirements (BASELINE.json): "progress is checkpointed per
Iceberg partition with lineage + per-partition extraction metrics written to
a metrics table so failed runs resume exactly."

Design (the reference analogue is the reference project's document status
state machine in ``pipeline/orchestrator.py`` —
uploaded→processing→completed/failed — lifted from per-document SQLite
rows to per-partition table rows): input pages are bucketed by
``part_bucket = pmod(xxhash64(part_key), P)``, where ``part_key`` is the
(salted) url-host — the Iceberg-partition analogue — and the buckets are
processed in waves of ``batch_size`` (at 10^12 docs a snapshot is a
sequence of partition waves, never one monolithic job). Each wave commits
through the exactly-once protocol in ``catalog.py``; this runner adds one
metrics row per bucket between the bucket-dir swap and the commit. Resume
processes only the buckets without a completed checkpoint row, and
byte-identically: the kernel is a pure function, so reruns can't diverge.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import catalog
from .job import HotHosts, bucket_col, gated_pages, run_extract, with_host
from .schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA

CHECKPOINT_TABLE = "checkpoints"
METRICS_TABLE = "metrics"
EXTRACTED_TABLE = "extracted"

_LOG = catalog.WaveLog(EXTRACTED_TABLE, CHECKPOINT_TABLE, CHECKPOINT_SCHEMA,
                       "part_bucket", "_run_", "_tmp_wave_", "extracted data")


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """Metrics table with exactly one row per (run_id, part_bucket).

    A crash between the metrics append and the checkpoint write (the
    commit point) re-runs the wave and appends a SECOND metrics row for
    its buckets; determinism makes the duplicate byte-identical, so
    dropDuplicates on the key restores exact totals (summing the raw
    table would double-count re-run waves). All metrics consumers must
    read through this helper. Returns an EMPTY frame (not an
    AnalysisException) when no wave has committed metrics yet, so
    progress checks on fresh or crashed-before-wave-0 warehouses report
    zero rows instead of crashing."""
    if not catalog.table_exists(root, METRICS_TABLE):
        return spark.createDataFrame([], METRICS_SCHEMA)
    return (
        catalog.read_table(spark, root, METRICS_TABLE)
        .dropDuplicates(["run_id", "part_bucket"])
    )


def completed_buckets(spark: SparkSession, root: str, run_id: str) -> set[int]:
    return catalog.completed(spark, root, _LOG, run_id)


_DEFAULT_BATCH_SIZE = 4


def _pin_run_config(root: str, run_id: str, hot_hosts: HotHosts,
                    n_buckets: int, batch_size: int | None,
                    sign_snapshots: bool
                    ) -> tuple[HotHosts, int, int, bool]:
    """Persist (hot_hosts, n_buckets, batch_size, sign_snapshots) on
    first run; reload on resume and resolve the caller's values against
    the pin. ``hot_hosts`` is pinned in the form given (list or dict of
    proportional bucket counts) and reloaded in that form.

    Bucket assignment depends on the first two — a resume that re-derived
    a different hot-host list would shift keys and double-process
    documents — so they always follow the pin. Wave COMPOSITION depends
    on batch_size: the signature store's exactly-once snapshot ids derive
    from each wave's bucket set (resuming a signed run with a different
    batch_size regrouped pending buckets into fresh ids and re-signed
    already-signed buckets under ids read_store's dedup cannot collapse).
    And signing itself must be consistent across every wave of a run, so
    sign_snapshots is pinned too. The first run's config is authoritative
    for its run_id.
    """
    bs = _DEFAULT_BATCH_SIZE if batch_size is None else batch_size
    cfg = catalog.pin(root, _LOG, run_id, {
        "hot_hosts": hot_hosts, "n_buckets": n_buckets,
        "batch_size": bs, "sign_snapshots": sign_snapshots})
    # older pin files lack the newer fields; fall back to the caller's
    # values (no signed run can predate the fields)
    pinned_bs = cfg.get("batch_size", bs)
    pinned_sign = cfg.get("sign_snapshots", sign_snapshots)
    # sign_snapshots follows the pin unconditionally: a resume that forgot
    # the flag would commit waves with no signature append, leaving the
    # store missing those documents while their buckets checkpoint
    # 'completed'.
    if sign_snapshots != pinned_sign:
        warnings.warn(
            f"run {run_id!r}: sign_snapshots={sign_snapshots} ignored — "
            f"the run was pinned with sign_snapshots={pinned_sign} and "
            f"signing must be consistent across every wave")
    # batch_size must follow the pin only when signing (snapshot ids
    # derive from wave bucket sets). batch_size=None — the config-less
    # resume — always takes the pinned value. An EXPLICIT divergent width
    # on an unsigned run is a legitimate operational recovery lever (e.g.
    # shrink per-wave memory after an OOM) — honored, loudly.
    if batch_size is None:
        batch_size = pinned_bs
    elif batch_size != pinned_bs:
        if pinned_sign:
            warnings.warn(
                f"run {run_id!r}: batch_size={batch_size} ignored — "
                f"signed runs use the pinned batch_size={pinned_bs} "
                f"(signature snapshot ids derive from wave composition)")
            batch_size = pinned_bs
        else:
            warnings.warn(
                f"run {run_id!r}: resuming with batch_size={batch_size} "
                f"(pinned value was {pinned_bs}; wave width is an "
                f"operational knob for unsigned runs)")
    return cfg["hot_hosts"], cfg["n_buckets"], batch_size, pinned_sign


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str,
    n_buckets: int = 16,
    batch_size: int | None = None,
    hot_hosts: HotHosts = None,
    fail_after_waves: int | None = None,
    files_per_bucket: int = 1,
    sign_snapshots: bool = False,
) -> list[int]:
    """Process all pending buckets in waves; returns buckets processed.

    ``hot_hosts`` salts the bucket key as in ``job.salted_key_col``: a
    list (8 sub-keys per hot host) or a dict host→bucket count
    (``proportional_salt_buckets``). Like ``n_buckets`` it is pinned on
    the first run, and a resume uses the pinned value.

    ``batch_size=None`` (the config-less default) means "the pinned
    value" on resume and ``_DEFAULT_BATCH_SIZE`` on a fresh run; pass an
    explicit int to override (honored with a warning on unsigned
    resumes, rejected with a warning on signed ones — see
    ``_pin_run_config``).

    ``fail_after_waves`` injects a crash after N waves (for resume tests).
    ``files_per_bucket`` sizes the partitioned write: 1 (default) gives one
    well-sized file per bucket at sandbox scale; a 100 TB deployment sets
    it to ≈ bucket_bytes / 128 MB so no single file grows unbounded. The
    bound is STATISTICAL, not exact — (bucket, salt) groups that collide
    in the hash repartition merge into one ~2× file (low-cardinality
    collisions, same mode as the kernel-stage gotcha); a deployment that
    needs a hard per-file cap sets ``spark.sql.files.maxRecordsPerFile``
    on top, which splits at write time without any salt column.

    ``sign_snapshots``: additionally append each wave's MinHash
    band keys (url-keyed, over the EXTRACTED text) to the warehouse's
    ``signatures`` table via engine/sigstore.py — snapshot ids derive
    from the wave's bucket set (``<run_id>/b3-7-9``), which gives the
    append the same exactly-once discipline as the checkpoint rows:
    an already-logged bucket set skips (its rows are byte-identical by
    determinism), a crash between the signature data write and its log
    entry re-appends the SAME snapshot id whose duplicate rows collapse
    in ``sigstore.read_store``, and resumed runs (whose wave numbering
    restarts) get distinct ids for their distinct pending sets. A LATER crawl
    then calls ``sigstore.dedup_new_snapshot`` against this warehouse to
    drop documents already ingested — incremental cross-snapshot dedup as
    a pipeline flow, not just a registered query.
    """
    # one corpus snapshot per warehouse root; resume of the SAME run_id is
    # the designed multi-invocation path. The pin below is written before
    # any wave, so the guard holds even for a run that crashed before its
    # first checkpoint.
    catalog.claim_root(root, _LOG, run_id)
    hot_hosts, n_buckets, batch_size, sign_snapshots = _pin_run_config(
        root, run_id, hot_hosts, n_buckets, batch_size, sign_snapshots)
    # bucketed before the P1 gate: a bucket whose every row is gated
    # still commits (an empty dir and a checkpoint row)
    bucketed = with_host(pages).withColumn(
        "part_bucket", bucket_col(hot_hosts, n_buckets)).persist()
    try:
        present = sorted(
            r.part_bucket
            for r in bucketed.select("part_bucket").distinct().collect()
        )
        done = completed_buckets(spark, root, run_id)
        pending = [b for b in present if b not in done]

        processed: list[int] = []
        for wave_no, wave in enumerate(catalog.waves(pending, batch_size)):
            if fail_after_waves is not None and wave_no >= fail_after_waves:
                raise RuntimeError(f"injected failure before wave {wave_no}")
            # Kernel parallelism is DECOUPLED from checkpoint-wave width
            # (num_partitions=len(wave) ran the kernel on batch_size cores
            # of the whole cluster, and a hash spread on (bucket, url-salt)
            # still left max/mean 3.2 from low-cardinality collisions; both
            # measured). The wave's rows round-robin across every core —
            # exactly uniform, and legal because the kernel is a pure
            # per-row function (byte-identity across partitionings is a
            # pinned invariant) while part_bucket is re-derived from row
            # CONTENT for the write. Host-hash co-location still holds at
            # the bucket/wave granularity the checkpoint design needs;
            # inside a wave, balance wins. The gate runs BEFORE the
            # shuffle, so null/empty-html rows never ride the round-robin
            # exchange.
            subset = gated_pages(
                bucketed.where(F.col("part_bucket").isin(wave))
            ).repartition(spark.sparkContext.defaultParallelism)
            extracted = run_extract(subset, pre_partitioned=True).withColumn(
                "part_bucket", bucket_col(hot_hosts, n_buckets)).persist()
            try:
                if sign_snapshots:
                    from . import sigstore
                    # snapshot id is derived from the wave's BUCKET SET,
                    # not the restart-relative wave_no: wave numbering
                    # restarts on resume, so 'run/wave0' of a resumed run
                    # would collide with the pre-crash wave 0 and skip
                    # signing the re-run waves. Same bucket set → same id
                    # → the skip IS the exactly-once guarantee (re-run
                    # rows are byte-identical by determinism); different
                    # pending sets after a crash → distinct ids.
                    sig_id = f"{run_id}/b" + "-".join(str(b) for b in wave)
                    sigstore.append_snapshot_signatures(
                        spark, root,
                        extracted.where(F.col("status") == "completed"),
                        snapshot=sig_id,
                        key_col="url", text_col="text",
                    )
                _commit_wave(spark, extracted, root, run_id, wave, wave_no,
                             files_per_bucket)
            finally:
                extracted.unpersist()
            processed.extend(wave)
        return processed
    finally:
        bucketed.unpersist()


def _commit_wave(spark, extracted, root, run_id, wave, wave_no,
                 files_per_bucket) -> None:
    # 1. write wave data to a temp dir, then swap its bucket dirs in.
    #    The EXTRACTED rows (html already dropped — a fraction of the
    #    input bytes) take one cheap shuffle onto part_bucket so each
    #    bucket lands as one well-sized file instead of one sliver per
    #    kernel task (the round-robin kernel stage would otherwise
    #    write |cores| tiny files per bucket — the small-file death at
    #    100 TB; one extracted-side shuffle is cheaper than
    #    re-compacting). sortWithinPartitions clusters rows by
    #    (host, url) inside each file so parquet row-group min/max
    #    stats prune host-/url-filtered scans downstream;
    #    part_bucket leads the sort so the partitioned writer's own
    #    required partition-column ordering is already satisfied and
    #    does not re-sort away the (host, url) clustering.
    tmp = catalog.tmp_dir(root, _LOG, run_id, wave_no)
    (extracted.repartition(
        max(len(wave), 1) * files_per_bucket, F.col("part_bucket"),
        F.pmod(F.xxhash64("url"), F.lit(files_per_bucket)))
     .sortWithinPartitions("part_bucket", "host", "url")
     .write.mode("overwrite")
     .partitionBy("part_bucket").parquet(tmp))
    catalog.swap_buckets(_LOG, tmp,
                         catalog.table_path(root, EXTRACTED_TABLE), wave)

    # 2. per-partition metrics (lineage: run_id + bucket + counts +
    #    input bytes), written through the declared METRICS_SCHEMA. A
    #    crash before the commit re-runs the wave; its duplicate metrics
    #    rows are byte-identical (determinism) and collapsed by
    #    read_metrics' key dedup.
    metrics = (
        extracted.groupBy("part_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("status") == "completed", 1).otherwise(0))
            .alias("n_completed"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
            .alias("n_failed"),
            F.sum("n_bytes_in").alias("n_bytes_in"),
            F.sum(F.length("text")).alias("n_chars_out"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select([F.col(f.name).cast(f.dataType)
                 for f in METRICS_SCHEMA.fields])
    )
    (metrics.write.mode("append")
     .parquet(catalog.table_path(root, METRICS_TABLE)))

    # 3. snapshot entry, then checkpoint rows carrying its id (the commit)
    catalog.commit_wave(spark, root, _LOG, run_id, wave, wave=wave_no)
