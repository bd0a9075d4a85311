"""Mixture-mode curation runner (engine/curate.py: run_curate_mixture) —
round-7 VERDICT item 2: the quota-sampled per-epoch corpus wired through
pack + order as ONE runnable pipeline, with the same crash/resume
byte-identity contract as the pack-once runner.

Layers:
* sampled counts vs a pure-Python mirror of the md5-threshold draw (the
  audit the summary's grid is for);
* crash (max_waves/max_epochs) -> resume == one-shot, byte-identical
  epoch streams, at a DIFFERENT batch_size on the resume side;
* config-pin refusal on a changed semantic knob.
"""

import hashlib

import pytest

from martial_arts_ocr_spark.engine import curate

SF = "/root/testdata/sf0.001"
N_BUCKETS = 4
N_EPOCHS = 2
EPOCH_DOCS = 96


def _mirror_counts(kept_rows, grid, epoch, salt):
    """Pure-Python mirror of mixture_threshold_keep: h32·n_docs <
    n_target·2^32 over md5(doc_id:epoch:salt)[:8]."""
    nd = {s: n for (s, n, _q, _t) in grid}
    nt = {s: t for (s, _n, _q, t) in grid}
    out: dict = {}
    for doc_id, source in kept_rows:
        h32 = int(hashlib.md5(
            f"{doc_id}:{epoch}:{salt}".encode()).hexdigest()[:8], 16)
        if h32 * nd[source] < nt[source] << 32:
            out[source] = out.get(source, 0) + 1
    return out


def _run(spark, root, **kw):
    args = dict(batch_size=2, n_buckets=N_BUCKETS, n_epochs=N_EPOCHS,
                epoch_docs=EPOCH_DOCS)
    args.update(kw)
    return curate.run_curate_mixture(spark, SF, str(root), "mixrun", **args)


def _stream_rows(spark, root, epoch):
    return sorted(
        (r.bucket, r.pos_in_bucket, r.seq_in_bucket, r.n_tokens,
         tuple(r.token_ids))
        for r in curate.read_mixture_epoch_stream(
            spark, str(root), "mixrun", epoch).collect()
    )


def test_mixture_run_counts_match_threshold_mirror(spark, tmp_path):
    root = tmp_path / "wh"
    summary = _run(spark, root)
    assert summary["complete"]
    assert summary["epochs_completed"] == N_EPOCHS

    # independent ground truth: the kept corpus + the pinned draw rule
    from martial_arts_ocr_spark.queries.corpus import (_MIX_THRESH_SALT,
                                                       q_corpus_keep_set)
    flags = {r.doc_id for r in q_corpus_keep_set(spark, SF).collect()
             if r.kept}
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "source").collect()
    kept_rows = [(r.doc_id, r.source) for r in docs if r.doc_id in flags]
    grid = [(g["source"], g["n_docs"], g["quota"], g["n_target"])
            for g in summary["grid"]]
    assert sum(nd for _s, nd, _q, _t in grid) == len(kept_rows)
    for e in range(N_EPOCHS):
        exp = _mirror_counts(kept_rows, grid, e, _MIX_THRESH_SALT)
        assert summary["sampled"][e] == exp, e
        # the draw actually lands near its target overall (binomial, not
        # exact — the documented threshold-form trade)
        total = sum(exp.values())
        target = sum(t for _s, _n, _q, t in grid)
        assert 0 < total and abs(total - target) < max(24, target), e
    # epochs draw DIFFERENT samples (the salt mixes the epoch)
    assert summary["sampled"][0] != summary["sampled"][1]

    # the grid is snapshot-cached at first computation (r8 review): a
    # resume samples with the grid that shaped the committed epochs and
    # a no-op poll launches no corpus scan
    from martial_arts_ocr_spark.engine import catalog
    snaps = [x for x in catalog.read_snapshots(str(root),
                                               curate.MIXTURE_DOCS_TABLE)
             if x.get("stage") == "mix_grid"]
    assert len(snaps) == 1
    assert [tuple(r) for r in snaps[0]["grid"]] == grid
    # a second invocation (pure no-op resume) reproduces the summary
    again = _run(spark, root)
    assert again["grid"] == summary["grid"]
    assert again["sampled"] == summary["sampled"]

    # the committed layout, unchanged by the no-op resume: one
    # run_id=<id>/epoch=E dir per epoch in each per-epoch table, and one
    # snapshot entry per stage commit and per pack wave
    import os

    epoch_dirs = [f"epoch={e}" for e in range(N_EPOCHS)]
    for table in (curate.MIXTURE_DOCS_TABLE, curate.MIXTURE_PACKED_TABLE,
                  curate.MIXTURE_EPOCH_TABLE):
        run_dir = os.path.join(str(root), table, "run_id=mixrun")
        assert sorted(os.listdir(run_dir)) == epoch_dirs, table
    stages = {t: [(x.get("stage"), x.get("epoch"))
                  for x in catalog.read_snapshots(str(root), t)]
              for t in (curate.CURATION_TABLE, curate.MIXTURE_DOCS_TABLE,
                        curate.MIXTURE_PACKED_TABLE,
                        curate.MIXTURE_EPOCH_TABLE)}
    assert stages == {
        curate.CURATION_TABLE: [("flags", None)],
        curate.MIXTURE_DOCS_TABLE: [("mix_grid", None), ("mix_sample", 0),
                                    ("mix_sample", 1)],
        # batch_size 2 over 4 buckets: two pack waves per epoch
        curate.MIXTURE_PACKED_TABLE: [(None, 0), (None, 0), (None, 1),
                                      (None, 1)],
        curate.MIXTURE_EPOCH_TABLE: [("mix_epoch", 0), ("mix_epoch", 1)],
    }


def test_mixture_crash_resume_byte_identity(spark, tmp_path):
    # one-shot reference run
    ref_root = tmp_path / "ref"
    assert _run(spark, ref_root, batch_size=2)["complete"]
    ref = {e: _stream_rows(spark, ref_root, e) for e in range(N_EPOCHS)}
    assert all(len(v) > 0 for v in ref.values())

    # crashed run: one pack wave only, then resume at ANOTHER batch size
    crash_root = tmp_path / "crash"
    partial = _run(spark, crash_root, batch_size=2, max_waves=1)
    assert not partial["complete"]
    with pytest.raises(FileNotFoundError):
        curate.read_mixture_epoch_stream(spark, str(crash_root),
                                         "mixrun", 0)
    # the packed reader follows the same named-error convention for an
    # epoch whose pack stage never started (r8: raw AnalysisException
    # before)
    with pytest.raises(FileNotFoundError, match="completed_mix_pack"):
        curate.read_mixture_packed(spark, str(crash_root),
                                   "mixrun", N_EPOCHS - 1)
    resumed = _run(spark, crash_root, batch_size=3)
    assert resumed["complete"]
    for e in range(N_EPOCHS):
        assert _stream_rows(spark, crash_root, e) == ref[e], e
    assert resumed["sampled"] == _run(spark, ref_root,
                                      batch_size=2)["sampled"]

    # epoch streams differ across epochs (different corpora AND orders)
    assert ref[0] != ref[1]


def test_mixture_config_pin_refuses_changed_knob(spark, tmp_path):
    root = tmp_path / "wh"
    _run(spark, root, max_epochs=1)
    with pytest.raises(ValueError, match="different curation config"):
        _run(spark, root, epoch_docs=EPOCH_DOCS * 2)


def test_mixture_grid_degenerate_corpora(spark):
    """Round-8 review guards: a zero-token-mass corpus yields an EMPTY
    grid (not ZeroDivisionError); a >= 2^31-doc source is refused loudly
    (the silent-BIGINT-wrap path of the threshold draw)."""
    from martial_arts_ocr_spark.queries.corpus import (
        _grid_from_per_src, mixture_grid_rows)

    # full Spark path: all-NULL texts -> NULL token sums coalesced to 0,
    # total mass 0 -> empty grid (was a TypeError/ZeroDivisionError pair)
    empty_mass = spark.createDataFrame(
        [(1, "a", None), (2, "b", None)],
        "doc_id bigint, source string, text string")
    assert mixture_grid_rows(empty_mass, epoch_docs=10) == []
    # pure half agrees when every sqrt_micro is 0
    assert _grid_from_per_src([("a", 1, 0), ("b", 1, 0)],
                              epoch_docs=10) == []

    # the threshold oracle's quota CTEs in DuckDB agree with Spark on one
    # all-NULL source beside a live one (zero quota; they used to give
    # NULL) and on an all-NULL corpus (an empty grid; they used to give
    # one NULL-quota row per source)
    import duckdb

    from martial_arts_ocr_spark.queries.corpus import _ORACLE_THRESH_GRID

    con = duckdb.connect()
    for rows, want in (
            ([(1, "a", "x y"), (2, "a", "z"), (3, "b", None)],
             [("a", 2, 100000, 256), ("b", 1, 0, 0)]),
            ([(1, "a", None), (2, "b", None)], [])):
        spark_grid = mixture_grid_rows(spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"))
        con.execute("CREATE OR REPLACE TABLE documents "
                    "(doc_id BIGINT, source VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        oracle_grid = con.execute(
            f"WITH {_ORACLE_THRESH_GRID} "
            "SELECT source, n_docs, quota, n_target FROM tt "
            "ORDER BY source").fetchall()
        assert spark_grid == want
        assert oracle_grid == spark_grid

    # pure half: the BIGINT-overflow refusal for a 2^31-doc source
    with pytest.raises(ValueError, match="2\\^31"):
        _grid_from_per_src([("big", 2**31, 10**6)], epoch_docs=10)
    # and one doc below the bound still produces a grid
    grid = _grid_from_per_src([("big", 2**31 - 1, 10**6)], epoch_docs=10)
    assert grid == [("big", 2**31 - 1, 100000, 10)]


def test_mixture_epoch_stream_all_null_source(spark, tmp_path, monkeypatch):
    """mixture_epoch_stream over a source whose texts are all NULL: the
    source reads quota 0, n_target 0 and docs_sampled 0, and the rows
    equal the oracle's. The window form's own quota loop used to raise a
    TypeError on the source's NULL token mass, and the oracle's baked BPE
    counting raised one on its NULL texts."""
    import duckdb

    from martial_arts_ocr_spark.queries.corpus import (
        _oracle_mixture_epoch_stream, q_mixture_epoch_stream)
    from oracle_check import canon

    docs = f"{tmp_path}/documents.parquet"
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM (SELECT * FROM read_parquet('{SF}/documents.parquet')
                         ORDER BY doc_id LIMIT 50)
          UNION ALL
          SELECT * FROM (VALUES (1000001, NULL, 'en', 'all-null', 0),
                                (1000002, NULL, 'en', 'all-null', 0),
                                (1000003, NULL, 'en', 'all-null', 0))
            t(doc_id, text, lang, source, n_chars)
        ) TO '{docs}' (FORMAT PARQUET)""")
    df = q_mixture_epoch_stream(spark, str(tmp_path))
    got = [tuple(r) for r in df.collect()]

    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs}')")
    # the oracle bakes its BPE counts from the SF this variable names
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(tmp_path))
    expected = con.execute(_oracle_mixture_epoch_stream()).fetchall()
    con.close()
    assert canon(got, df.columns) == canon(expected, df.columns)
    null_rows = [r for r in got if r[1] == "all-null"]
    assert len(null_rows) == N_EPOCHS
    assert all(r[2:5] == (0, 0, 0) for r in null_rows), null_rows
    assert any(r[4] > 0 for r in got), got    # live sources still draw
