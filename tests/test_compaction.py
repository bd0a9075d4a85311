"""compact_table: rows preserved exactly, files reduced, snapshot logged,
and an interrupted-run resume still works over compacted data."""

import os

from martial_arts_ocr_spark.engine import catalog, resume
from martial_arts_ocr_spark.engine.job import with_host
from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas


def _n_files(root, table):
    n = 0
    for _p, _d, files in os.walk(catalog.table_path(root, table)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _rows(spark, root, table):
    df = catalog.read_table(spark, root, table)
    return sorted(tuple(r) for r in df.select("url", "text").collect())


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    root = str(tmp_path / "wh")
    pages = with_host(spark.createDataFrame(pages_pandas(120)))
    # files_per_bucket=3 → the write sub-salts each bucket into 3 files
    # (the 100 TB knob; the sandbox default of 1 would give the compacted
    # layout already and leave compaction nothing to prove)
    resume.run_checkpointed(spark, pages, root, run_id="c1",
                            n_buckets=8, batch_size=2, files_per_bucket=3)
    before_files = _n_files(root, resume.EXTRACTED_TABLE)
    before_rows = _rows(spark, root, resume.EXTRACTED_TABLE)
    assert before_files > 8          # more files than buckets

    meta = catalog.compact_table(spark, root, resume.EXTRACTED_TABLE,
                                 target_files_per_bucket=1)
    after_files = _n_files(root, resume.EXTRACTED_TABLE)
    assert after_files <= 8
    assert after_files < before_files
    assert meta["files_before"] == before_files
    assert meta["files_after"] == after_files
    assert _rows(spark, root, resume.EXTRACTED_TABLE) == before_rows

    snaps = catalog.read_snapshots(root, resume.EXTRACTED_TABLE)
    assert snaps[-1]["op"] == "compact"

    # a rerun over compacted data is a no-op resume (nothing reprocessed)
    processed = resume.run_checkpointed(spark, pages, root, run_id="c1",
                                        n_buckets=8, batch_size=2)
    assert processed == []
    assert _rows(spark, root, resume.EXTRACTED_TABLE) == before_rows


def test_compaction_crash_recovery(spark, tmp_path):
    """The dir-swap protocol's two crash windows (review fix: the old
    per-file swap left PERMANENT duplicates): (A) crash between the two
    renames — bucket dir missing, trash present — must roll BACK; (B)
    crash after the new generation landed — both present — must roll
    FORWARD. Either way rows are exact, never duplicated."""
    import shutil

    root = str(tmp_path / "wh")
    pages = with_host(spark.createDataFrame(pages_pandas(60)))
    resume.run_checkpointed(spark, pages, root, run_id="cr",
                            n_buckets=4, batch_size=2, files_per_bucket=2)
    rows = _rows(spark, root, resume.EXTRACTED_TABLE)
    tdir = catalog.table_path(root, resume.EXTRACTED_TABLE)
    buckets = sorted(d for d in os.listdir(tdir)
                     if d.startswith("part_bucket="))

    # window A: old generation moved out, new never moved in (scratch
    # dirs live in the per-table scratch area, outside the table dir)
    t = resume.EXTRACTED_TABLE
    sdir = catalog._scratch_dir(root, t)
    os.makedirs(sdir, exist_ok=True)
    b0 = os.path.join(tdir, buckets[0])
    os.replace(b0, os.path.join(sdir, "trash_" + buckets[0]))
    assert not os.path.isdir(b0)
    catalog.compact_table(spark, root, t, target_files_per_bucket=1)
    assert _rows(spark, root, t) == rows

    # window B: new generation in place, old still in trash
    b1 = os.path.join(tdir, buckets[1])
    shutil.copytree(b1, os.path.join(sdir, "trash_" + buckets[1]))
    catalog.compact_table(spark, root, t, target_files_per_bucket=1)
    assert _rows(spark, root, t) == rows
    assert not os.listdir(sdir)


def test_read_path_recovers_crashed_swap(spark, tmp_path):
    """Round-4 ADVICE: a crash in window A (bucket renamed to _trash_,
    new generation never moved in) used to leave the bucket INVISIBLE to
    every reader until someone happened to call compact_table again —
    persistent data loss from the reader's point of view. read_table now
    runs the idempotent recovery itself, so a plain read after the crash
    sees every row with no compaction call in between."""
    root = str(tmp_path / "wh")
    pages = with_host(spark.createDataFrame(pages_pandas(60)))
    resume.run_checkpointed(spark, pages, root, run_id="rr",
                            n_buckets=4, batch_size=2)
    rows = _rows(spark, root, resume.EXTRACTED_TABLE)
    tdir = catalog.table_path(root, resume.EXTRACTED_TABLE)
    buckets = sorted(d for d in os.listdir(tdir)
                     if d.startswith("part_bucket="))
    sdir = catalog._scratch_dir(root, resume.EXTRACTED_TABLE)
    os.makedirs(sdir, exist_ok=True)
    b0 = os.path.join(tdir, buckets[0])
    os.replace(b0, os.path.join(sdir, "trash_" + buckets[0]))
    assert _rows(spark, root, resume.EXTRACTED_TABLE) == rows
    assert os.path.isdir(b0)        # rolled back in place by the read


def test_read_path_recovery_never_deletes_compactor_state(spark, tmp_path):
    """Round-5 review find: the read path used to run the FULL recovery,
    deleting _compact_tmp_/_trash_ dirs that may belong to a LIVE
    compaction. The read path now only restores a missing bucket; it
    must leave tmp dirs and post-commit trash untouched (the writer's
    entry-time recovery owns those)."""
    import shutil

    root = str(tmp_path / "wh")
    pages = with_host(spark.createDataFrame(pages_pandas(60)))
    resume.run_checkpointed(spark, pages, root, run_id="rp",
                            n_buckets=4, batch_size=2)
    rows = _rows(spark, root, resume.EXTRACTED_TABLE)
    tdir = catalog.table_path(root, resume.EXTRACTED_TABLE)
    buckets = sorted(d for d in os.listdir(tdir)
                     if d.startswith("part_bucket="))

    # window A (bucket out, live compactor tmp present): restore bucket,
    # keep the tmp dir (scratch dirs live in the per-table scratch area —
    # round-5: in-table scratch names broke readers' partition discovery
    # outright, and root-level prefixes mis-attributed across tables)
    t = resume.EXTRACTED_TABLE
    sdir = catalog._scratch_dir(root, t)
    b0 = os.path.join(tdir, buckets[0])
    tmp0 = os.path.join(sdir, "tmp_" + buckets[0])
    os.makedirs(tmp0)
    os.replace(b0, os.path.join(sdir, "trash_" + buckets[0]))
    assert _rows(spark, root, t) == rows
    assert os.path.isdir(b0)
    assert os.path.isdir(tmp0), "reader deleted live compactor tmp"

    # window B (swap committed, trash not yet dropped): reader leaves
    # the trash for the writer — and the table stays READABLE while the
    # trash exists (the old in-table trash made partition discovery
    # throw CONFLICTING_PARTITION_COLUMN_NAMES)
    b1 = os.path.join(tdir, buckets[1])
    trash1 = os.path.join(sdir, "trash_" + buckets[1])
    shutil.copytree(b1, trash1)
    assert _rows(spark, root, t) == rows
    assert os.path.isdir(trash1), "reader deleted post-commit trash"

    # the writer's entry recovery still cleans everything up
    catalog.compact_table(spark, root, t, target_files_per_bucket=1)
    assert not os.listdir(sdir)
    assert _rows(spark, root, t) == rows
