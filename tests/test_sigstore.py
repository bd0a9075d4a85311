"""Persistent signature store (engine/sigstore.py): a second snapshot
dedups against the first exactly-once — round-4 VERDICT item 3's
resume-style composition test."""

from martial_arts_ocr_spark.engine import catalog, sigstore


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_LONG = ("spark shuffles the hash join across every partition boundary "
         "while the broadcast side stays resident in executor memory and "
         "the probe side streams through one partition at a time")

SNAP1 = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, _LONG),
    (3, "a completely different third document about window functions"),
]
# 101 = verbatim copy of doc 1 (must flag, all 8 bands), 102 = fresh text
# (must pass), 103 = near-copy of doc 2 with one word changed — at this
# length the Jaccard is high enough that bands deterministically collide
# (3 of 8 for these fixed strings, checked below)
SNAP2 = [
    (101, "the quick brown fox jumps over the lazy dog again and again"),
    (102, "entirely novel content that shares no shingles with history"),
    (103, _LONG.replace("streams", "flows")),
]


def test_second_snapshot_dedups_against_first(spark, tmp_path):
    root = str(tmp_path / "wh")
    assert sigstore.append_snapshot_signatures(
        spark, root, _frame(spark, SNAP1), "s1") is True

    out = {r.doc_id: r for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert out[101].dup_vs_store and out[101].n_store_bands == 8
    assert not out[102].dup_vs_store and out[102].n_store_bands == 0
    assert out[103].dup_vs_store      # near-copy: some bands survive
    assert 0 < out[103].n_store_bands <= 8

    # survivors (and only survivors) get appended as snapshot 2
    survivors = _frame(spark, [r for r in SNAP2 if r[0] == 102])
    assert sigstore.append_snapshot_signatures(
        spark, root, survivors, "s2") is True
    # now a RERUN of snapshot 2 flags its own survivor as dup too —
    # history includes s2
    out2 = {r.doc_id: r for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert out2[102].dup_vs_store


def test_reappend_same_snapshot_is_noop(spark, tmp_path):
    """Exactly-once: appending an already-logged snapshot id writes
    nothing (the run_checkpointed refusal discipline), and a crash that
    duplicated data rows before the log write is collapsed by
    read_store's key-dedup (the read_metrics discipline)."""
    root = str(tmp_path / "wh")
    f = _frame(spark, SNAP1)
    assert sigstore.append_snapshot_signatures(spark, root, f, "s1") is True
    n1 = sigstore.read_store(spark, root).count()
    assert sigstore.append_snapshot_signatures(spark, root, f, "s1") is False
    assert sigstore.read_store(spark, root).count() == n1

    # simulated crash window: data written twice, log written once —
    # replay the raw data append without the log
    keys = sigstore.band_keys(f).withColumnRenamed("doc_id", "doc_key") \
        .selectExpr("doc_key", "band", "band_key", "'s1' AS snapshot")
    (keys.write.mode("append")
     .parquet(catalog.table_path(root, sigstore.SIGNATURES_TABLE)))
    raw = spark.read.parquet(
        catalog.table_path(root, sigstore.SIGNATURES_TABLE)).count()
    assert raw == 2 * n1                    # raw table IS duplicated
    assert sigstore.read_store(spark, root).count() == n1

    # dedup results are unchanged by the duplicated store rows
    out = {r.doc_id: r.dup_vs_store for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert out[101] and not out[102]


def test_checkpointed_run_signs_waves_and_next_crawl_dedups(spark, tmp_path):
    """The pipeline flow (round-4 VERDICT item 3, end-to-end): a
    checkpointed extraction run with sign_snapshots=True appends each
    wave's band keys exactly-once; a LATER crawl anti-joins its pages
    against that warehouse and drops already-ingested documents."""
    from martial_arts_ocr_spark.engine.job import run_extract, with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whA")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    run_checkpointed(spark, pages, root, run_id="crawl1", n_buckets=4,
                     batch_size=2, sign_snapshots=True)
    store = sigstore.read_store(spark, root)
    assert store.count() > 0
    snaps = sigstore.appended_snapshots(root)
    assert snaps and all(s.startswith("crawl1/b") for s in snaps)
    # exactly-once: a resume re-invocation adds no waves and no rows
    n0 = store.count()
    run_checkpointed(spark, pages, root, run_id="crawl1", n_buckets=4,
                     batch_size=2, sign_snapshots=True)
    assert sigstore.read_store(spark, root).count() == n0

    # crawl 2: 10 pages refetched (same urls+html as crawl 1) + fresh ones
    pdf2 = pages_pandas(50)           # superset: first 40 identical
    crawl2 = with_host(spark.createDataFrame(pdf2))
    extracted2 = run_extract(
        crawl2.select("url", "html", "lang"), num_partitions=4)
    out = sigstore.dedup_new_snapshot(
        spark, root, extracted2.where("status = 'completed'"),
        key_col="url", text_col="text")
    flagged = {r.url for r in out.where("dup_vs_store").collect()}
    refetched = set(pages_pandas(40)["url"])
    # every refetched page is flagged (verbatim text -> all bands match);
    # genuinely new pages are not all flagged (template corpus has some
    # near-dup collisions, so assert existence of unflagged new pages)
    assert refetched <= flagged
    new_urls = {r.url for r in out.collect()} - refetched
    assert new_urls - flagged, "fresh pages should survive"


def test_fresh_warehouse_dedup_marks_all_new(spark, tmp_path):
    """Round-5 review find: deduping against a warehouse where nothing
    was ever signed crashed with PATH_NOT_FOUND; it must mark every doc
    new instead (the read_metrics empty-table discipline)."""
    root = str(tmp_path / "empty_wh")
    out = sigstore.dedup_new_snapshot(spark, root, _frame(spark, SNAP2))
    assert sigstore.read_store(spark, root) is None
    rows = out.collect()
    assert all(not r.dup_vs_store and r.n_store_bands == 0 for r in rows)
    assert len(rows) == len(SNAP2)


def test_min_bands_knob_requires_stronger_evidence(spark, tmp_path):
    """min_bands=2 (the 2^-128 collision operating point) keeps verbatim
    copies flagged (8 shared bands) while releasing the near-copy that
    shares fewer than 2 bands... or keeps it if it shares >= 2 — assert
    against the doc's actual measured band overlap either way."""
    root = str(tmp_path / "wh")
    sigstore.append_snapshot_signatures(spark, root, _frame(spark, SNAP1), "s1")
    out = {r.doc_id: r for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2), min_bands=2).collect()}
    assert out[101].dup_vs_store              # verbatim: all 8 bands
    assert not out[102].dup_vs_store
    assert out[103].dup_vs_store == (out[103].n_store_bands >= 2)


def test_signing_survives_crash_and_resume(spark, tmp_path):
    """Round-5 review find: snapshot ids were restart-relative wave
    numbers, so a crash+resume collided with the pre-crash wave 0 and
    silently skipped signing the re-run waves. Bucket-derived ids must
    sign EVERY document across the crash boundary."""
    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whC")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="c", n_buckets=8,
                         batch_size=2, sign_snapshots=True,
                         fail_after_waves=1)
    n_after_crash = sigstore.read_store(spark, root).count()
    assert n_after_crash > 0
    run_checkpointed(spark, pages, root, run_id="c", n_buckets=8,
                     batch_size=2, sign_snapshots=True)
    store = sigstore.read_store(spark, root)
    assert store.count() > n_after_crash
    # EVERY completed url is signed: re-fetching the same crawl flags all
    out = sigstore.dedup_new_snapshot(
        spark, root,
        spark.read.parquet(
            f"{root}/extracted").where("status = 'completed'"),
        key_col="url", text_col="text")
    assert out.where("NOT dup_vs_store").count() == 0
    # distinct ids per bucket set, none wave-numbered
    snaps = sigstore.appended_snapshots(root)
    assert all("/b" in s for s in snaps), snaps


def test_resume_with_different_batch_size_does_not_resign(spark, tmp_path):
    """Round-5 second-pass find: wave composition (and so the bucket-set
    snapshot ids) depends on batch_size, which was not pinned — a resume
    with a different batch_size regrouped pending buckets into fresh ids
    and re-signed already-signed buckets under ids the read-side dedup
    cannot collapse. batch_size is now part of the pinned run config."""
    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whB")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="c", n_buckets=8,
                         batch_size=2, sign_snapshots=True,
                         fail_after_waves=1)
    snaps_before = sigstore.appended_snapshots(root)
    store_before = sigstore.read_store(spark, root).count()
    # resume asks for batch_size=3; the pinned 2 must win
    run_checkpointed(spark, pages, root, run_id="c", n_buckets=8,
                     batch_size=3, sign_snapshots=True)
    snaps_after = sigstore.appended_snapshots(root)
    # the pre-crash snapshot ids are a SUBSET of the final set (no
    # regrouped duplicates of already-signed buckets)
    assert snaps_before <= snaps_after
    signed_buckets = [b for s in snaps_after
                     for b in s.split("/b")[1].split("-")]
    assert len(signed_buckets) == len(set(signed_buckets)), snaps_after
    assert sigstore.read_store(spark, root).count() > store_before


def test_unsigned_resume_honors_caller_batch_size(spark, tmp_path):
    """Round-5 third-pass find: for UNSIGNED runs, wave width is an
    operational recovery lever (shrink per-wave memory after an OOM) —
    the pin must not silently override the caller; the divergence is
    warned, and the caller's width drives the remaining waves (visible
    in the per-wave snapshot-log entries)."""
    import warnings as _w

    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whU")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="u", n_buckets=8,
                         batch_size=2, fail_after_waves=1)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        run_checkpointed(spark, pages, root, run_id="u", n_buckets=8,
                         batch_size=6)
    assert any("operational knob" in str(c.message) for c in caught)
    waves = [s for s in catalog.read_snapshots(root, "extracted")
             if "wave" in s]
    # 1 pre-crash wave of 2 buckets + 1 resumed wave of ALL remaining
    # present buckets (computed, not hard-coded: the fixture's hash
    # layout may leave some of the 8 buckets empty)
    n_present = len({b for s in waves for b in s["buckets"]})
    assert len(waves) == 2
    assert len(waves[0]["buckets"]) == 2
    assert len(waves[-1]["buckets"]) == n_present - 2


def test_configless_resume_takes_pinned_batch_size(spark, tmp_path):
    """Round-5 fourth-pass find: batch_size=None (the config-less
    resume) must take the pinned value, never the signature default —
    an operator who pinned 2 and resumes flag-less keeps 2-bucket
    waves."""
    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whP")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="p", n_buckets=8,
                         batch_size=2, fail_after_waves=1)
    run_checkpointed(spark, pages, root, run_id="p")   # no batch_size
    waves = [s for s in catalog.read_snapshots(root, "extracted")
             if "wave" in s]
    assert all(len(s["buckets"]) <= 2 for s in waves), waves


def test_signed_resume_without_flag_keeps_signing(spark, tmp_path):
    """Round-5 fourth-pass find: a signed run resumed WITHOUT the
    sign_snapshots flag used to silently commit the remaining waves with
    no signature append — the flag is pinned now, so signing continues
    (with a warning) and every completed document reaches the store."""
    import warnings as _w

    from martial_arts_ocr_spark.engine.job import with_host
    from martial_arts_ocr_spark.engine.resume import run_checkpointed
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "whS")
    pages = with_host(spark.createDataFrame(pages_pandas(40)))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="s", n_buckets=8,
                         batch_size=2, sign_snapshots=True,
                         fail_after_waves=1)
    n_mid = sigstore.read_store(spark, root).count()
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        run_checkpointed(spark, pages, root, run_id="s")   # flag forgotten
    assert any("sign_snapshots" in str(c.message) for c in caught)
    assert sigstore.read_store(spark, root).count() > n_mid
    # every completed url flags against the store (nothing unsigned)
    out = sigstore.dedup_new_snapshot(
        spark, root,
        spark.read.parquet(f"{root}/extracted")
        .where("status = 'completed'"),
        key_col="url", text_col="text")
    assert out.where("NOT dup_vs_store").count() == 0


# --- signature-store compaction (round-5 VERDICT item 4) ----------------------

def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_compaction_preserves_store_and_probe(spark, tmp_path):
    """Probe results and read_store content must be identical before and
    after compaction — compaction changes layout and cost, never
    answers."""
    root = str(tmp_path / "wh")
    sigstore.append_snapshot_signatures(spark, root, _frame(spark, SNAP1),
                                        "s1")
    sigstore.append_snapshot_signatures(
        spark, root, _frame(spark, [r for r in SNAP2 if r[0] == 102]), "s2")
    pre_store = _sorted_rows(sigstore.read_store(spark, root))
    pre_probe = _sorted_rows(sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)))
    meta = sigstore.compact_signatures(spark, root)
    assert meta["snapshots"] == ["s1", "s2"]
    assert meta["n_rows"] == len(pre_store)
    assert _sorted_rows(sigstore.read_store(spark, root)) == pre_store
    assert _sorted_rows(sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2))) == pre_probe
    # compacting an already-compacted store is a no-op in content
    sigstore.compact_signatures(spark, root)
    assert _sorted_rows(sigstore.read_store(spark, root)) == pre_store


def test_appends_after_compaction_join_the_tail(spark, tmp_path):
    """New snapshots appended after a compaction must still count: the
    probe unions the materialized index with the uncompacted tail, and
    re-appending an already-ingested snapshot stays a no-op."""
    root = str(tmp_path / "wh")
    sigstore.append_snapshot_signatures(spark, root, _frame(spark, SNAP1),
                                        "s1")
    sigstore.compact_signatures(spark, root)
    assert sigstore.append_snapshot_signatures(
        spark, root, _frame(spark, SNAP1), "s1") is False
    assert sigstore.append_snapshot_signatures(
        spark, root, _frame(spark, [SNAP2[1]]), "s2") is True
    out = {r.doc_id: r for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert out[101].dup_vs_store          # via compacted index (s1)
    assert out[102].dup_vs_store          # via uncompacted tail (s2)
    # a second compaction folds the tail in; results unchanged
    meta = sigstore.compact_signatures(spark, root)
    assert meta["snapshots"] == ["s1", "s2"]
    out2 = {r.doc_id: r for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert {k: (v.n_store_bands, v.dup_vs_store) for k, v in out.items()} \
        == {k: (v.n_store_bands, v.dup_vs_store) for k, v in out2.items()}


def test_compacted_probe_plan_has_no_store_side_shuffle(spark, tmp_path):
    """The point of compaction: with no uncompacted tail, the probe's
    store side is a plain scan of signatures_index — the history-sized
    dropDuplicates + distinct aggregates (two wide shuffles per ingest)
    are gone from the plan."""
    root = str(tmp_path / "wh")
    sigstore.append_snapshot_signatures(spark, root, _frame(spark, SNAP1),
                                        "s1")

    def _probe():
        df = sigstore.dedup_new_snapshot(spark, root, _frame(spark, SNAP2))
        return df, df._jdf.queryExecution().executedPlan().toString()

    _, pre = _probe()
    sigstore.compact_signatures(spark, root)
    post_df, post = _probe()
    # plan toString truncates scan Locations — inputFiles() is exact
    files = post_df.inputFiles()
    assert any("/signatures_index/" in f for f in files)
    assert not any("/signatures/" in f for f in files)  # raw not scanned
    assert post.count("HashAggregate") <= pre.count("HashAggregate") - 2
    assert post.count("Exchange") < pre.count("Exchange")


def test_crash_between_swap_renames_restores_on_read(spark, tmp_path):
    """Simulated compactor crash between old→trash and tmp→dir: the
    table dir is missing, its generation parked in gen_trash — the next
    read restores it and answers correctly."""
    import os
    import shutil

    root = str(tmp_path / "wh")
    sigstore.append_snapshot_signatures(spark, root, _frame(spark, SNAP1),
                                        "s1")
    sigstore.compact_signatures(spark, root)
    before = _sorted_rows(sigstore.read_store(spark, root))
    for table in (sigstore._COMPACTED_TABLE, sigstore._INDEX_TABLE,
                  sigstore.SIGNATURES_TABLE):
        path = catalog.table_path(root, table)
        trash = os.path.join(catalog._scratch_dir(root, table), "gen_trash")
        os.makedirs(os.path.dirname(trash), exist_ok=True)
        shutil.rmtree(trash, ignore_errors=True)
        os.replace(path, trash)
    assert _sorted_rows(sigstore.read_store(spark, root)) == before
    out = {r.doc_id: r.dup_vs_store for r in sigstore.dedup_new_snapshot(
        spark, root, _frame(spark, SNAP2)).collect()}
    assert out[101] and not out[102]
