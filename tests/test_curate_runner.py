"""End-to-end resumable curation runner (engine/curate.py): single-shot
vs crash/resume byte-equality, batch-size invariance, and the config
pin."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _packed_content(spark, root):
    from martial_arts_ocr_spark.engine.curate import read_packed

    rows = read_packed(spark, root).collect()
    return sorted(
        (r["bucket"], r["seq_in_bucket"], r["n_docs_in_seq"],
         r["n_tokens"], tuple(r["token_ids"]))
        for r in rows
    )


@pytest.fixture(scope="module")
def single_shot(spark, tmp_path_factory):
    from martial_arts_ocr_spark.engine.curate import run_curate

    root = str(tmp_path_factory.mktemp("wh_single"))
    summary = run_curate(spark, SF, root, "run-a", batch_size=4)
    return root, summary


def test_single_shot_completes_and_matches_direct_pack(spark, single_shot):
    from martial_arts_ocr_spark.packing import pack_token_sequences
    from martial_arts_ocr_spark.queries.corpus import q_corpus_keep_set

    root, summary = single_shot
    assert summary["complete"]
    assert summary["buckets_completed"] == 8
    assert summary["n_seqs"] > 0 and summary["n_tokens"] > 0

    flags = q_corpus_keep_set(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = docs.join(flags.where(F.col("kept")).select("doc_id"), "doc_id")
    direct = sorted(
        (r["bucket"], r["seq_in_bucket"], r["n_docs_in_seq"],
         r["n_tokens"], tuple(r["token_ids"]))
        for r in pack_token_sequences(kept).collect()
    )
    assert _packed_content(spark, root) == direct

    # the committed layout: one run_id=<id> dir per write-once stage,
    # bucket=K dirs in the kept docs, one epoch=E dir per epoch, and one
    # snapshot entry per stage commit and per pack wave
    import os

    from martial_arts_ocr_spark.engine import catalog

    def subdirs(*parts):
        p = os.path.join(root, *parts)
        return sorted(d for d in os.listdir(p)
                      if os.path.isdir(os.path.join(p, d)))

    assert subdirs("curation_flags") == ["run_id=run-a"]
    assert subdirs("kept_docs", "run_id=run-a") == \
        [f"bucket={k}" for k in range(8)]
    assert subdirs("epoch_order", "run_id=run-a") == ["epoch=0", "epoch=1"]
    assert subdirs("packed_sequences") == [f"bucket={k}" for k in range(8)]
    stages = {t: [(x.get("stage"), x.get("epoch"), x.get("wave"))
                  for x in catalog.read_snapshots(root, t)]
              for t in ("curation_flags", "kept_docs", "packed_sequences",
                        "epoch_order")}
    assert stages == {
        "curation_flags": [("flags", None, None)],
        "kept_docs": [("kept", None, None)],
        "packed_sequences": [(None, None, 0), (None, None, 1)],
        "epoch_order": [("epoch", 0, None), ("epoch", 1, None)],
    }


def test_crash_then_resume_is_byte_identical(spark, tmp_path, single_shot):
    from martial_arts_ocr_spark.engine.curate import (
        completed_pack_buckets,
        read_packed,
        run_curate,
    )

    ref_root, _ = single_shot
    root = str(tmp_path / "wh_resume")
    # no packed table yet: a named error pointing at the progress surface
    with pytest.raises(FileNotFoundError, match="completed_pack_buckets"):
        read_packed(spark, root)
    partial = run_curate(spark, SF, root, "run-b", batch_size=4, max_waves=1)
    assert not partial["complete"]
    assert partial["buckets_completed"] == 4
    done_before = completed_pack_buckets(spark, root, "run-b")

    resumed = run_curate(spark, SF, root, "run-b", batch_size=4)
    assert resumed["complete"]
    # resume did not redo finished buckets' checkpoints under a new wave 0
    assert done_before <= completed_pack_buckets(spark, root, "run-b")
    assert _packed_content(spark, root) == _packed_content(spark, ref_root)


def test_batch_size_does_not_shape_output(spark, tmp_path, single_shot):
    from martial_arts_ocr_spark.engine.curate import run_curate

    ref_root, _ = single_shot
    root = str(tmp_path / "wh_b3")
    summary = run_curate(spark, SF, root, "run-c", batch_size=3)
    assert summary["complete"]
    assert _packed_content(spark, root) == _packed_content(spark, ref_root)


def test_wave_reads_only_its_own_buckets(spark, single_shot):
    """The round-6 scale flag (VERDICT What's wrong #1): each pack wave
    must touch ONLY its buckets' files — the kept table is materialized
    bucket-partitioned once, and the wave reader lists only its
    ``bucket=K`` dirs. Assert via inputFiles against the wave set, and
    that the full bucket range is covered by the union of wave reads."""
    import re

    from martial_arts_ocr_spark.engine.curate import read_kept_buckets

    root, _ = single_shot
    seen_buckets = set()
    for wave in ([0, 1, 2, 3], [4, 5, 6, 7]):
        files = read_kept_buckets(spark, root, "run-a", wave).inputFiles()
        assert files, wave                    # sf0.001 fills every bucket
        for f in files:
            m = re.search(r"/bucket=(\d+)/", f)
            assert m, f
            assert int(m.group(1)) in wave, (f, wave)
            seen_buckets.add(int(m.group(1)))
    assert seen_buckets == set(range(8))


def test_kept_table_row_count_matches_keep_set(spark, single_shot):
    from martial_arts_ocr_spark.engine.curate import read_kept_buckets
    from martial_arts_ocr_spark.queries.corpus import q_corpus_keep_set

    root, _ = single_shot
    n_kept = q_corpus_keep_set(spark, SF).where(F.col("kept")).count()
    assert read_kept_buckets(
        spark, root, "run-a", list(range(8))).count() == n_kept


def _epoch_content(spark, root, run_id, n_epochs=2):
    from martial_arts_ocr_spark.engine.curate import read_epoch_order

    out = []
    for e in range(n_epochs):
        rows = read_epoch_order(spark, root, run_id, e).collect()
        out.extend((r["epoch"], r["bucket"], r["pos_in_bucket"],
                    r["seq_in_bucket"], r["shuffle_key"]) for r in rows)
    return sorted(out)


def test_epoch_artifact_matches_shared_derivation(spark, single_shot):
    """Stage 3 materializes the training reader's shard/order table; it
    must equal epoch_order_frame over the packed table (the exact
    definition the oracled packed_epoch_order query pins), and each
    (epoch, bucket) shard must be a complete 1..n permutation."""
    from collections import defaultdict

    from martial_arts_ocr_spark.engine.curate import read_packed
    from martial_arts_ocr_spark.packing import epoch_order_frame

    root, summary = single_shot
    assert summary["epochs_complete"]
    assert summary["epochs_completed"] == 2
    got = _epoch_content(spark, root, "run-a")
    direct = sorted(
        (r["epoch"], r["bucket"], r["pos_in_bucket"],
         r["seq_in_bucket"], r["shuffle_key"])
        for r in epoch_order_frame(
            read_packed(spark, root).select("bucket", "seq_in_bucket"), 2
        ).collect()
    )
    assert got == direct and got
    shards = defaultdict(list)
    for epoch, bucket, pos, _seq, _key in got:
        shards[(epoch, bucket)].append(pos)
    for key, poss in shards.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), key


def test_epoch_crash_then_resume_is_byte_identical(spark, tmp_path,
                                                   single_shot):
    from martial_arts_ocr_spark.engine.curate import (
        completed_epochs,
        run_curate,
    )

    ref_root, _ = single_shot
    root = str(tmp_path / "wh_epoch_resume")
    partial = run_curate(spark, SF, root, "run-ep", batch_size=8,
                         max_epochs=1)
    assert partial["complete"] and not partial["epochs_complete"]
    assert completed_epochs(root, "run-ep") == {0}

    resumed = run_curate(spark, SF, root, "run-ep", batch_size=8)
    assert resumed["epochs_complete"]
    assert completed_epochs(root, "run-ep") == {0, 1}
    assert _epoch_content(spark, root, "run-ep") == \
        _epoch_content(spark, ref_root, "run-a")


def test_config_pin_refuses_drifted_resume(spark, tmp_path):
    from martial_arts_ocr_spark.engine.curate import run_curate

    root = str(tmp_path / "wh_pin")
    run_curate(spark, SF, root, "run-d", batch_size=4, max_waves=1)
    with pytest.raises(ValueError, match="different curation config"):
        run_curate(spark, SF, root, "run-d", ctx_len=256)


def test_second_run_id_refused_over_same_warehouse(spark, tmp_path):
    from martial_arts_ocr_spark.engine.curate import run_curate

    root = str(tmp_path / "wh_two_runs")
    run_curate(spark, SF, root, "run-e", batch_size=8, max_waves=1)
    with pytest.raises(ValueError, match="already holds curation state"):
        run_curate(spark, SF, root, "run-f")


# runner -> (engine module, config pin prefix, checkpoint table constant,
# completed-keys reader): the guard and checkpoint-reader cases below hold
# for every resumable runner
_RUNNERS = {
    "run_checkpointed": ("resume", "_run_", "CHECKPOINT_TABLE",
                         "completed_buckets"),
    "run_curate": ("curate", "_curate_", "PACKED_CKPT_TABLE",
                   "completed_pack_buckets"),
    "run_curate_mixture": ("curate", "_curate_", "MIXTURE_CKPT_TABLE",
                           "completed_mix_pack"),
}


def _runner_module(name):
    import importlib

    return importlib.import_module(
        f"martial_arts_ocr_spark.engine.{_RUNNERS[name][0]}")


@pytest.mark.parametrize("runner", sorted(_RUNNERS))
def test_second_run_id_refused_even_before_first_snapshot(spark, tmp_path,
                                                          runner):
    """ADVICE r6: a run that crashes between its bucket-dir moves and the
    snapshot append leaves orphan bucket dirs with NO snapshot — the guard
    must key on the config pin (written before any data) too, or a new
    run_id silently mixes the dead run's orphans into its output. Holds
    for every runner (the guard is catalog.claim_root)."""
    import json
    import os

    root = str(tmp_path / "wh_orphan")
    os.makedirs(root)
    with open(os.path.join(root, f"{_RUNNERS[runner][1]}dead-run.json"),
              "w") as f:
        json.dump({"n_buckets": 8, "ctx_len": 512, "n_merges": 1024}, f)
    run = getattr(_runner_module(runner), runner)
    if runner == "run_checkpointed":
        from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

        args = (spark.createDataFrame(pages_pandas(4)),)
    else:
        args = (SF,)
    with pytest.raises(ValueError, match="dead-run"):
        run(spark, *args, root, "run-g")


@pytest.mark.parametrize("runner", sorted(_RUNNERS))
def test_resume_survives_checkpoint_dir_with_no_committed_files(
        spark, tmp_path, runner):
    """ADVICE r6: a crash during the very first checkpoint append leaves
    the checkpoint table holding only Spark's _temporary subdir — resume
    must treat that as 'nothing completed', not die on schema inference.
    Holds for every runner's checkpoint reader."""
    import os

    from martial_arts_ocr_spark.engine import catalog

    table, reader = _RUNNERS[runner][2:]
    mod = _runner_module(runner)
    root = str(tmp_path / "wh_crash_ckpt")
    ckpt_dir = catalog.table_path(root, getattr(mod, table))
    os.makedirs(os.path.join(ckpt_dir, "_temporary", "0"))
    assert getattr(mod, reader)(spark, root, "run-h") == set()


def test_epoch_stream_is_packed_sequences_permuted(spark, single_shot):
    """The reader surface: epoch 0's stream must contain EXACTLY the
    packed sequences (same token arrays), each tagged with its shard
    position, and within every shard the pos order must be the epoch-0
    permutation — i.e. a reader walking (bucket, pos) consumes every
    training sequence exactly once in shuffled order."""
    from martial_arts_ocr_spark.engine.curate import (
        read_epoch_stream,
        read_packed,
    )

    root, _ = single_shot
    stream = read_epoch_stream(spark, root, "run-a", epoch=0).collect()
    packed = read_packed(spark, root).collect()
    assert len(stream) == len(packed) > 0
    assert (
        sorted((r["bucket"], r["seq_in_bucket"], tuple(r["token_ids"]))
               for r in stream)
        == sorted((r["bucket"], r["seq_in_bucket"], tuple(r["token_ids"]))
                  for r in packed)
    )
    by_shard = {}
    for r in stream:
        by_shard.setdefault(r["bucket"], []).append(
            (r["pos_in_bucket"], r["seq_in_bucket"]))
    for bucket, rows in by_shard.items():
        rows.sort()
        assert [p for p, _ in rows] == list(range(1, len(rows) + 1)), bucket
        # the permutation is real: identity order would mean the epoch
        # key never mixed (vanishingly unlikely above a few sequences)
        if len(rows) > 4:
            assert [s for _, s in rows] != sorted(s for _, s in rows), bucket


def test_stage_commit_is_write_once_and_atomic(tmp_path):
    """catalog.commit_stage, no Spark: a write that raises leaves the
    stage's dir and the snapshot log as they were (here: a dir moved in
    by an attempt that crashed before its snapshot append); the next call
    commits; a logged stage is skipped without calling its write."""
    import os

    from martial_arts_ocr_spark.engine import catalog

    root = str(tmp_path)
    log = catalog.WaveLog("t", "t_ckpt", None, "bucket", "_pin_", "_tmp_",
                          "state")
    dst = catalog.run_dir(root, "t", "r", epoch=1)
    assert dst == os.path.join(root, "t", "run_id=r", "epoch=1")
    os.makedirs(dst)
    with open(os.path.join(dst, "stale"), "w") as f:
        f.write("old")

    def write(data, tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "part"), "w") as f:
            f.write(data)
        if data == "boom":
            raise RuntimeError(data)
        return {"n": len(data)}

    with pytest.raises(RuntimeError):
        catalog.commit_stage(root, log, "t", "r", "s",
                             lambda tmp: write("boom", tmp), epoch=1)
    assert os.listdir(dst) == ["stale"]
    assert catalog.read_snapshots(root, "t") == []

    catalog.commit_stage(root, log, "t", "r", "s",
                         lambda tmp: write("new", tmp), epoch=1)
    with open(os.path.join(dst, "part")) as f:
        assert f.read() == "new"
    assert os.listdir(dst) == ["part"]

    def never(tmp):
        raise AssertionError("a logged stage must not write")

    catalog.commit_stage(root, log, "t", "r", "s", never, epoch=1)
    assert [{k: v for k, v in s.items() if k != "snapshot_id"}
            for s in catalog.read_snapshots(root, "t")] == \
        [{"run_id": "r", "stage": "s", "epoch": 1, "n": 3}]
