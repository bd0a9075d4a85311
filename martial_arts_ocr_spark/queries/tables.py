"""Session-scoped memo for the read-only driver-table DataFrames.

``spark.read.parquet(path)`` costs ~70-100 ms of driver-side work per call
(InMemoryFileIndex listing + a footer-read job for schema inference) even
when the same path was read moments earlier in the same session. The
headline bench and the driver gate build the same six base tables dozens
of times per process, so each repeated build pays that fixed cost inside
the timed region for zero information.

``base_table`` memoizes the *unresolved DataFrame plan object* per
(session, sf_dir, table). This caches no data and no results: a
DataFrame is a lazy plan, every action against it still scans the parquet
input (verified: noop-sink wall time of the memoized frame equals the
fresh-read frame; only the ~80 ms plan-build repeat disappears). The
driver tables are read-only fixtures (``/root/testdata/sf*`` is mounted
r-x), so the staleness hazard that makes plan caching wrong for mutable
warehouse tables (engine/catalog.py re-reads on purpose after compaction)
does not exist here — do NOT route catalog/warehouse reads through this.

The plans, the source sizes and the scan-partition counts live in the
session memo (engine/memo.py), which owns their lifetime: keyed by
application, and dropped when a later session inserts anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..engine import memo

# perfbench counts base_table misses as growth of this dict; it is the
# memo store itself, not a cache of its own.
_TABLE_CACHE = memo._STORE


def base_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return memo.get_or_build(
        spark, ("tables", sf_dir, name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))


# Below this many compressed source bytes per scan partition the spread
# exchange is pure overhead (see the inline comment in ``spread``); 1 MiB
# of zstd/snappy parquet text is roughly 5-10k documents, whose fused
# per-row work is already cheaper than one extra shuffle stage.
SPREAD_MIN_SOURCE_BYTES = 1 << 20


def spread(df: DataFrame, n_source: int | None = None,
           src_bytes: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism recovery before expensive per-row work.

    A parquet scan cannot be split below row-group boundaries, so a table
    written as few row groups yields fewer scan partitions than the
    cluster has cores no matter what ``maxPartitionBytes`` asks for (the
    driver tables are single-row-group files: every fused scan stage runs
    on ONE core at any SF). Work that is fused into such a scan — sketch
    UDFs, tokenize-heavy column algebra — is then serialized on one task
    while the rest of the cluster idles.

    ``spread`` round-robin-repartitions to the session's default
    parallelism ONLY when the plan's scan yields fewer partitions: at
    warehouse scale input splits outnumber cores and this is a no-op
    (``df`` returned unchanged, zero plan change); on few-row-group
    inputs it pays one small shuffle of the projected columns to win
    cluster-wide parallelism for the expensive stage (measured: the
    MinHash sketch over a 50k-doc single-row-group table drops 4.9 s →
    1.2 s on local[32]; flat at 5k docs where the sketch is ~0.4 s).

    Call it on a NARROW projection (only the columns the downstream
    stage needs) so the exchange carries minimal bytes (guide: project
    before the exchange). Round-robin ``repartition(n)`` is exactly
    uniform (round-4 lesson: keyed spreads collapse on low-cardinality
    keys) and deterministic under retries (sort-before-repartition is
    on by default). Per-row-deterministic downstream kernels make the
    result independent of batch composition, and every registered query
    ends in a total ORDER BY, so outputs are byte-identical.

    The partition-count probe (``df.rdd.getNumPartitions()``) builds the
    scan RDD but launches no job; with the memoized base tables it costs
    ~1 ms (first build ~40 ms per session).
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if src_bytes is not None and src_bytes < SPREAD_MIN_SOURCE_BYTES:
        # Too small for the exchange to pay for itself: the extra
        # shuffle stage costs ~0.3-0.5 s of fixed work (stage
        # scheduling + codegen of the exchange path) on the FIRST run
        # of a query — the run the one-shot bench measures — while the
        # serialized compute it would parallelize grows linearly with
        # source bytes. Measured crossover: at the 0.6 MiB sf0.1
        # documents table spread was flat in steady state but +0.3-0.4 s
        # on first run (bench medians: gopher 1.55 -> 1.98); at the
        # 5.8 MiB 10x fixture it was a 3-4x win. The threshold is
        # per-source-partition compressed bytes, i.e. input-derived,
        # not a tuned constant for either scale.
        return df
    if (n_source if n_source is not None
            else df.rdd.getNumPartitions()) < p:
        return df.repartition(p)
    return df


def oracle_sf_rows(name: str, cols: str,
                   clauses: str = "") -> tuple[str, list[tuple]]:
    """``(sf_dir, rows)`` of ``SELECT <cols> FROM <name> <clauses>`` run
    by DuckDB over one parquet table of the oracle SF — the read every
    oracle that bakes data-derived literals (BPE counts, LM models,
    k-means centroids) learns them from. The SF is
    ``SPARK_GRAFT_ORACLE_SF`` (default sf0.01), read at call time: a
    harness comparing at another SF sets it before materializing the
    oracles, since the Spark side learns from the sf_dir it is run
    at."""
    import duckdb

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT {cols} FROM read_parquet('{sf}/{name}.parquet') "
            f"{clauses}").fetchall()
    return sf, rows


def source_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized on-disk size of a driver table (the spread threshold
    input). File size, not a Spark statistic: the driver tables are
    single plain parquet files on a read-only mount."""
    return memo.get_or_build(
        spark, ("tables", sf_dir, name, "bytes"),
        lambda: os.path.getsize(f"{sf_dir}/{name}.parquet"))


def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized scan-partition count of a driver table.

    ``DataFrame.rdd.getNumPartitions()`` on a freshly-built projection
    costs ~55 ms (physical-plan build); probing the memoized base frame
    once per (session, table) and caching the count makes every later
    ``spread`` decision free. Valid because the split count of a
    read-only parquet path is fixed for the session (same files, same
    ``maxPartitionBytes``)."""
    return memo.get_or_build(
        spark, ("tables", sf_dir, name, "nparts"),
        lambda: base_table(spark, sf_dir, name).rdd.getNumPartitions())


def spread_table(spark: SparkSession, sf_dir: str, name: str, *cols: str):
    """``base_table`` → narrow projection → ``spread``, with the
    partition probe memoized (the composition every spread call site
    wants: project-before-exchange + free probe)."""
    n = scan_partitions(spark, sf_dir, name)
    return spread(
        base_table(spark, sf_dir, name).select(*cols),
        n_source=n,
        src_bytes=source_bytes(spark, sf_dir, name) // max(n, 1),
    )
