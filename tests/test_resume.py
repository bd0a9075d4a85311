"""Checkpoint/resume semantics (north rule: "failed runs resume exactly").

Mirrors the reference's status-transition tests
(``/root/reference/tests/test_pipeline_orchestrator.py``) at partition
granularity: crash mid-run → rerun → no duplicate work, complete output,
byte-identical to an uninterrupted run.
"""

import pytest
from pyspark.sql import functions as F

from martial_arts_ocr_spark.engine import catalog
from martial_arts_ocr_spark.engine.resume import (
    CHECKPOINT_TABLE,
    EXTRACTED_TABLE,
    METRICS_TABLE,
    completed_buckets,
    run_checkpointed,
)
from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

N = 60


@pytest.fixture()
def pages(spark):
    return spark.createDataFrame(pages_pandas(N))


def test_crash_then_resume_exactly(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")

    # run 1: crash after 1 wave
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="r1",
                         n_buckets=8, batch_size=2, fail_after_waves=1)

    done_after_crash = completed_buckets(spark, root, "r1")
    assert 0 < len(done_after_crash) <= 2     # exactly one wave committed

    # run 2: resume — must process only the remaining buckets
    processed = run_checkpointed(spark, pages, root, run_id="r1",
                                 n_buckets=8, batch_size=2)
    assert set(processed).isdisjoint(done_after_crash)

    # output: every url exactly once
    out = catalog.read_table(spark, root, EXTRACTED_TABLE)
    urls = [r.url for r in out.select("url").collect()]
    assert len(urls) == N
    assert len(set(urls)) == N

    # byte-identity vs an uninterrupted run in a fresh warehouse
    root2 = str(tmp_path / "warehouse2")
    run_checkpointed(spark, pages, root2, run_id="clean",
                     n_buckets=8, batch_size=8)
    clean = {
        r.url: r.text
        for r in catalog.read_table(spark, root2, EXTRACTED_TABLE).collect()
    }
    resumed = {r.url: r.text for r in out.collect()}
    assert resumed == clean


def test_rerun_of_completed_run_is_noop(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")
    first = run_checkpointed(spark, pages, root, run_id="r1",
                             n_buckets=4, batch_size=4)
    assert first
    again = run_checkpointed(spark, pages, root, run_id="r1",
                             n_buckets=4, batch_size=4)
    assert again == []                         # nothing pending


def test_metrics_lineage_rows(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")
    run_checkpointed(spark, pages, root, run_id="r1",
                     n_buckets=4, batch_size=2)
    m = catalog.read_table(spark, root, METRICS_TABLE)
    rows = m.collect()
    assert all(r.run_id == "r1" for r in rows)
    assert sum(r.n_docs for r in rows) == N
    assert sum(r.n_completed for r in rows) == N
    ck = catalog.read_table(spark, root, CHECKPOINT_TABLE)
    assert ck.where(F.col("status") == "completed").count() == \
        m.select("part_bucket").distinct().count()
    snaps = catalog.read_snapshots(root, EXTRACTED_TABLE)
    assert len(snaps) == 2                     # one per wave
    assert all(s["run_id"] == "r1" for s in snaps)


def test_metrics_dedup_after_partial_wave_crash(spark, tmp_path):
    """Crash window between the metrics append (step 2) and the checkpoint
    commit (step 3): the re-run wave appends byte-identical metrics rows.
    read_metrics must collapse them so lineage totals stay exact, while a
    raw read shows the duplication it guards against."""
    from martial_arts_ocr_spark.engine import catalog as cat
    from martial_arts_ocr_spark.engine.resume import read_metrics
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "wh")
    pages = spark.createDataFrame(pages_pandas(40))
    run_checkpointed(spark, pages, root, run_id="dup", n_buckets=4,
                     batch_size=4)
    mpath = cat.table_path(root, METRICS_TABLE)
    raw = spark.read.parquet(mpath)
    # simulate the crash-replay: append an exact copy of one bucket's row
    one = raw.limit(1)
    one.write.mode("append").parquet(mpath)
    raw_docs = (spark.read.parquet(mpath)
                .agg(F.sum("n_docs").alias("s")).head()["s"])
    dedup_docs = (read_metrics(spark, root)
                  .agg(F.sum("n_docs").alias("s")).head()["s"])
    assert dedup_docs == 40
    assert raw_docs > 40                   # the raw table IS duplicated


def test_second_run_id_over_same_root_refused(spark, pages, tmp_path):
    """A different run_id over the same warehouse would silently replace
    the first run's bucket data while its checkpoints still claim it
    (review-found) — run_checkpointed must refuse, and the same run_id
    must still resume as a no-op."""
    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    p = with_host(pages)
    run_checkpointed(spark, p, root, run_id="r1", n_buckets=4, batch_size=2)
    with pytest.raises(ValueError, match="already holds"):
        run_checkpointed(spark, p, root, run_id="r2",
                         n_buckets=4, batch_size=2)
    assert run_checkpointed(spark, p, root, run_id="r1",
                            n_buckets=4, batch_size=2) == []


def test_stale_tmp_wave_dirs_swept_on_entry(spark, pages, tmp_path):
    """An orphaned _tmp_wave_* dir from a hard crash must be reclaimed by
    the next invocation (wave numbering restarts on resume, so nothing
    else would ever delete it — review-found disk leak)."""
    import os

    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    stale = os.path.join(root, "_tmp_wave_r1_7")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "wb") as f:
        f.write(b"x")
    run_checkpointed(spark, with_host(pages), root, run_id="r1",
                     n_buckets=4, batch_size=2)
    assert not os.path.isdir(stale)
    assert not any(d.startswith("_tmp_wave_") for d in os.listdir(root))


def test_read_metrics_empty_warehouse(spark, tmp_path):
    """Progress checks on a fresh/crashed-before-wave-0 warehouse must see
    zero rows, not an AnalysisException (review-found)."""
    from martial_arts_ocr_spark.engine.resume import read_metrics

    assert read_metrics(spark, str(tmp_path / "nowhere")).count() == 0


def test_second_run_id_refused_even_before_first_checkpoint(
        spark, pages, tmp_path):
    """Round-4 ADVICE: the cross-run_id guard must hold even when run 1
    crashed BEFORE its first checkpoint write (zero checkpoint rows) —
    the _run_<id>.json config pin is written at entry before any wave, so
    scanning pins closes the window the checkpoints-table scan left open."""
    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    p = with_host(pages)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, p, root, run_id="r1", n_buckets=4,
                         batch_size=2, fail_after_waves=0)
    # no checkpoint rows exist, but the pin does — r2 must still refuse
    from martial_arts_ocr_spark.engine import catalog
    assert not catalog.table_exists(root, "checkpoints")
    with pytest.raises(ValueError, match="already holds"):
        run_checkpointed(spark, p, root, run_id="r2",
                         n_buckets=4, batch_size=2)
    # the same run_id resumes normally and completes
    assert run_checkpointed(spark, p, root, run_id="r1",
                            n_buckets=4, batch_size=2) != []


def test_empty_bucket_commits_and_counts_done(spark, tmp_path):
    """A bucket whose every row has null or empty html (the P1 gate drops
    them all) still commits: its dir exists and holds no file, the table
    reads back without it, compaction leaves it alone, and a resume
    counts it done."""
    import os
    import re

    from martial_arts_ocr_spark.engine.job import HOST_RE
    from martial_arts_ocr_spark.queries.xxh64 import spark_pmod_bucket

    pdf = pages_pandas(N)
    bucket = [spark_pmod_bucket(re.match(HOST_RE, u).group(1), 4)
              for u in pdf["url"]]
    gated = [i for i, b in enumerate(bucket) if b == 0]
    assert gated and len(gated) < N
    for k, i in enumerate(gated):
        pdf.at[i, "html"] = None if k % 2 else b""
    pages = spark.createDataFrame(pdf)
    root = str(tmp_path / "wh")

    assert 0 in run_checkpointed(spark, pages, root, run_id="r1",
                                 n_buckets=4, batch_size=2)
    bdir = os.path.join(catalog.table_path(root, EXTRACTED_TABLE),
                        "part_bucket=0")
    assert os.path.isdir(bdir) and os.listdir(bdir) == []
    kept = sorted(u for i, u in enumerate(pdf["url"]) if i not in gated)

    def urls():
        return sorted(r.url for r in catalog.read_table(
            spark, root, EXTRACTED_TABLE).select("url").collect())

    assert urls() == kept
    meta = catalog.compact_table(spark, root, EXTRACTED_TABLE)
    assert meta["buckets_rewritten"] == 0
    assert os.listdir(bdir) == [] and urls() == kept
    assert 0 in completed_buckets(spark, root, "r1")
    assert run_checkpointed(spark, pages, root, run_id="r1",
                            n_buckets=4, batch_size=2) == []


def test_caller_host_column_never_feeds_the_bucket_key(spark, tmp_path):
    """A caller's ``host`` column that disagrees with the url-derived host
    (upper-case urls, lower-cased host column) must not move rows out of
    their wave: the bucket key is derived from the url alone, so every row
    commits and the metrics count every document."""
    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import read_metrics

    pdf = pages_pandas(N)
    pdf["url"] = pdf["url"].str.upper()
    pages = with_host(spark.createDataFrame(pdf)).withColumn(
        "host", F.lower("host"))
    root = str(tmp_path / "wh")
    run_checkpointed(spark, pages, root, run_id="r1",
                     n_buckets=8, batch_size=2)
    urls = sorted(r.url for r in catalog.read_table(
        spark, root, EXTRACTED_TABLE).select("url").collect())
    assert urls == sorted(pdf["url"])
    n_docs = read_metrics(spark, root).agg(F.sum("n_docs")).head()[0]
    assert n_docs == N
