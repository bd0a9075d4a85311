"""Embedding-based quality classifier (round-5 VERDICT item 6): the
baked-weights freshness guard, the Spark-vs-numpy score mirror, the
bucket split, and the keep-set integration (missing-embedding
pass-through at sf0.1, drop-bucket veto)."""

import duckdb
import numpy as np
import pytest

from martial_arts_ocr_spark import emb_classifier as ec

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.1"


def _fixture(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in rows])
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    lab = np.array([r[2] for r in rows])
    return ids, X, lab


def test_baked_weights_fresh():
    """Refitting from the pinned fixture reproduces the baked literals
    exactly (the fit is RNG-free: zero init, fixed LR/iters, float64)."""
    _, X, lab = _fixture(SF001)
    y = np.array([1.0 if l in ec.POSITIVE_LABELS else 0.0 for l in lab])
    w, b = ec.fit_linear(X, y)
    assert w == ec.WEIGHTS
    assert b == ec.BIAS
    assert len(w) == 64


def test_fit_is_deterministic_across_calls():
    _, X, lab = _fixture(SF001)
    y = np.array([1.0 if l in ec.POSITIVE_LABELS else 0.0 for l in lab])
    assert ec.fit_linear(X, y) == ec.fit_linear(X, y)


def test_classifier_separates_fixture_labels_above_chance():
    """Realism floor, not a benchmark: the fixture clusters are
    near-isotropic (round-4 gotcha — don't chase recall), but the fit
    must still beat coin-flip on its own training labels or the gate is
    noise."""
    _, X, lab = _fixture(SF001)
    y = lab < max(ec.POSITIVE_LABELS) + 1
    pred = ec.np_scores(X) > 0
    assert (pred == y).mean() > 0.60


def test_spark_scores_match_numpy_mirror(spark):
    """The registered query's rounded scores and buckets equal the
    left-to-right numpy fold bit-for-bit at sf0.001."""
    from martial_arts_ocr_spark.queries.corpus import (
        q_embedding_quality_scores,
    )

    ids, X, _ = _fixture(SF001)
    expect = np.round(ec.np_scores(X), ec.SCORE_DECIMALS)
    rows = q_embedding_quality_scores(spark, SF001).collect()
    assert len(rows) == len(ids)
    for r, vid, e in zip(rows, ids, expect):
        assert r["vec_id"] == vid
        assert r["emb_score"] == e, (vid, r["emb_score"], e)
        assert r["emb_bucket"] == ec.bucket_of(r["emb_score"])


def test_all_three_buckets_populated(spark):
    from martial_arts_ocr_spark.queries.corpus import (
        q_embedding_quality_scores,
    )

    counts = {
        r["emb_bucket"]: r["n"]
        for r in q_embedding_quality_scores(spark, SF001)
        .groupBy("emb_bucket").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert set(counts) == {"keep", "flag", "drop"}
    # drop is the tail, not the majority — a quality filter, not a purge
    assert counts["drop"] < counts["keep"] + counts["flag"]


@pytest.fixture(scope="module")
def keep_set_sf01(spark):
    from martial_arts_ocr_spark.queries.corpus import q_corpus_keep_set

    return {r["doc_id"]: r.asDict()
            for r in q_corpus_keep_set(spark, SF01).collect()}


def test_keep_set_missing_embedding_passes(keep_set_sf01):
    """sf0.1 has 5000 docs but embeddings only for ids 0..1999 — every
    unembedded doc must pass the emb gate (you can't drop what you can't
    score)."""
    unembedded = [d for d in keep_set_sf01 if d >= 2000]
    assert len(unembedded) == 3000
    assert all(keep_set_sf01[d]["emb_ok"] for d in unembedded)


def test_keep_set_emb_gate_matches_classifier(keep_set_sf01):
    """For embedded docs, emb_ok == (bucket != 'drop'), and a False
    emb_ok forces kept False."""
    _, X, _ = _fixture(SF01)
    sr = np.round(ec.np_scores(X), ec.SCORE_DECIMALS)
    dropped = {i for i, s in enumerate(sr) if ec.bucket_of(s) == "drop"}
    assert dropped, "fixture produced no drop-bucket docs at sf0.1"
    for d in range(len(sr)):
        row = keep_set_sf01[d]
        assert row["emb_ok"] == (d not in dropped), d
        if d in dropped:
            assert not row["kept"], d
