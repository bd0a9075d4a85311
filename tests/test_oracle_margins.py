"""Rounding-margin audit for the float-thresholded oracles.

The cosine queries round to 5 decimals on BOTH engines before comparing
against thresholds; equal inputs round equally, so the only cross-engine
hazard is an UNROUNDED cosine sitting within summation-order wobble
(~1e-12) of a 0.5e-5 rounding boundary. These audits compute every
relevant cosine in numpy across all three SFs and assert the minimum
distance to a rounding boundary is orders of magnitude above the wobble —
the same checked-not-assumed treatment test_kmeans_ivf gives the
quantizer. (Jaccard needs no audit: intersection/union are integers, so
both engines divide the SAME two exact doubles and get bit-equal
results.)
"""

import duckdb
import numpy as np
import pytest

SFS = ("sf0.001", "sf0.01", "sf0.1")
_WOBBLE_MARGIN = 1e-9        # bound the HAZARD: three orders above the
                             # ~1e-12 summation-order wobble. The observed
                             # minima are 1e-7..1e-5 (order statistics of
                             # 10^4-10^5 uniform-ish fractional parts), but
                             # the assertion's job is "wobble cannot cross
                             # a boundary", not to pin the data's minimum


def _embeddings(sf):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('/root/testdata/{sf}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in rows])
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    return ids, X


def _boundary_dist(values, decimals=5):
    """Distance of each value's scaled fractional part from the round-half
    boundary (the danger zone for cross-engine rounding)."""
    frac = (np.asarray(values) * 10**decimals) % 1.0
    return np.abs(frac - 0.5)


@pytest.mark.parametrize("sf", SFS)
def test_cosine_round5_margins(sf):
    ids, X = _embeddings(sf)
    nrm = np.linalg.norm(X, axis=1)
    # query-vector cosines (ann_cosine_top10 vs vec 0; IVF serving vs 42)
    for qid in (0, 42):
        qi = int(np.where(ids == qid)[0][0])
        cos = X @ X[qi] / (nrm * nrm[qi])
        cos = np.delete(cos, qi)
        assert _boundary_dist(cos).min() > _WOBBLE_MARGIN, (sf, qid)


@pytest.mark.parametrize("sf", SFS)
def test_lsh_bucket_pair_cosine_margins(sf):
    """cosine_neardup_pairs rounds in-bucket pair cosines to 5 decimals and
    thresholds at 0.30 — audit every in-bucket pair."""
    from martial_arts_ocr_spark.queries.similarity import _lsh_planes

    ids, X = _embeddings(sf)
    nrm = np.linalg.norm(X, axis=1)
    mat = _lsh_planes(X.shape[1])
    bits = np.round(X @ mat.T, 7) > 0
    buckets = (bits * (1 << np.arange(bits.shape[1] - 1, -1, -1))).sum(axis=1)
    dists = []
    for b in np.unique(buckets):
        members = np.where(buckets == b)[0]
        if len(members) < 2:
            continue
        sub = X[members]
        sn = nrm[members]
        cos = (sub @ sub.T) / np.outer(sn, sn)
        iu = np.triu_indices(len(members), k=1)
        dists.append(_boundary_dist(cos[iu]))
    if dists:
        assert np.concatenate(dists).min() > _WOBBLE_MARGIN, sf


@pytest.mark.parametrize("sf", SFS)
def test_ivf_serving_cosine_margins(sf):
    """IVF index membership ranks round-7 vec-to-centroid cosines (the
    self-review fix: unrounded ccos ordering crossed the engine boundary)
    — audit every vec×centroid cosine's distance from the round-7
    boundary at each SF."""
    from martial_arts_ocr_spark.queries.neardup import (
        kmeans_centroids_mirror,
    )

    ids, X = _embeddings(sf)
    C = np.asarray(kmeans_centroids_mirror(X, vec_ids=list(ids)),
                   dtype=np.float64)
    cos = (X @ C.T) / np.outer(np.linalg.norm(X, axis=1),
                               np.linalg.norm(C, axis=1))
    assert _boundary_dist(cos, 7).min() > _WOBBLE_MARGIN, sf


@pytest.mark.parametrize("sf", SFS)
def test_semantic_pair_cosine_margins(sf):
    """The round-8 semantic gate compares round-5 in-cluster pair cosines
    to _SEM_THRESH — Spark's sequential fold and DuckDB's
    list_cosine_similarity differ in low bits, so the hazard is a raw
    cosine sitting ON a round-5 half boundary. Audit every in-top1-
    cluster pair at each SF (the >= compare itself runs on identical
    rounded doubles and is safe)."""
    from martial_arts_ocr_spark.queries.neardup import (
        kmeans_centroids_mirror,
    )

    ids, X = _embeddings(sf)
    C = np.asarray(kmeans_centroids_mirror(X, vec_ids=list(ids)),
                   dtype=np.float64)
    ccos = np.round((X @ C.T) / np.outer(np.linalg.norm(X, axis=1),
                                         np.linalg.norm(C, axis=1)), 7)
    assign = ccos.argmax(axis=1)        # first max == lowest cent_id tie
    nrm = np.linalg.norm(X, axis=1)
    pair_cos = []
    for c in set(assign.tolist()):
        idx = np.where(assign == c)[0]
        sub = (X[idx] @ X[idx].T) / np.outer(nrm[idx], nrm[idx])
        iu = np.triu_indices(len(idx), k=1)
        pair_cos.append(sub[iu])
    pair_cos = np.concatenate(pair_cos)
    assert _boundary_dist(pair_cos, 5).min() > _WOBBLE_MARGIN, sf


@pytest.mark.parametrize("sf", SFS)
def test_lsh_sign_margins(sf):
    """The LSH bucket bit is sign(round7(x·plane)) on both engines — audit
    that no projection sits near the round-7 boundary OR near zero (where
    the sign itself would be wobble-decided)."""
    from martial_arts_ocr_spark.queries.similarity import _lsh_planes

    _, X = _embeddings(sf)
    proj = X @ _lsh_planes(X.shape[1]).T
    assert _boundary_dist(proj, 7).min() > _WOBBLE_MARGIN, sf
    assert np.abs(np.round(proj, 7)).min() > 1e-7, sf


@pytest.mark.parametrize("sf", SFS)
def test_mix_weight_margins(sf):
    """source_mixing_weights oracles round(sqrt_micro/total, 6) — a ratio
    whose denominator is data-derived (the exact class the round-2 lesson
    warns about: Spark HALF_UP vs DuckDB nearest could split on a tie).
    Both engines divide the SAME two integers, so the quotient is an
    identical double; the only hazard is that double sitting ON a round-6
    half boundary. Audit (a) the quotient's distance from the boundary at
    all SFs, and (b) the quota floor's distance from an integer (floor of
    a near-integer double is the same knife edge)."""
    from martial_arts_ocr_spark.queries.corpus import _MIX_QUOTA_SCALE

    con = duckdb.connect()
    rows = con.execute(
        "SELECT source, sum(len(regexp_split_to_array(trim(text), '\\s+')))"
        f" FROM read_parquet('/root/testdata/{sf}/documents.parquet')"
        " GROUP BY source ORDER BY source"
    ).fetchall()
    con.close()
    tokens = np.array([r[1] for r in rows], dtype=np.int64)
    sqrt_micro = np.floor(np.sqrt(tokens.astype(np.float64)) * 1e6)
    sqrt_micro = sqrt_micro.astype(np.int64)
    total = int(sqrt_micro.sum())
    q = sqrt_micro.astype(np.float64) / float(total)
    assert _boundary_dist(q, 6).min() > _WOBBLE_MARGIN, sf
    quota_raw = (sqrt_micro * _MIX_QUOTA_SCALE).astype(np.float64) / total
    frac = quota_raw % 1.0
    assert np.minimum(frac, 1.0 - frac).min() > _WOBBLE_MARGIN, sf


@pytest.mark.parametrize("sf", SFS)
def test_emb_classifier_score_margins(sf):
    """embedding_quality_scores rounds the affine score to 6 decimals and
    buckets at 0.05/-0.45 — audit (a) no raw score near a round-6 half
    boundary (cross-engine sum-order hazard) and (b) no ROUNDED score
    within 1e-5 of a bucket threshold (regen-drift canary; rounded scores
    are identical doubles cross-engine so this one is not a correctness
    hazard, just an early warning that a refit landed a doc on a knife
    edge)."""
    from martial_arts_ocr_spark import emb_classifier as ec

    _, X = _embeddings(sf)
    s = ec.np_scores(X)
    assert _boundary_dist(s, ec.SCORE_DECIMALS).min() > _WOBBLE_MARGIN, sf
    sr = np.round(s, ec.SCORE_DECIMALS)
    for t in (ec.THRESH_KEEP, ec.THRESH_DROP):
        assert np.abs(sr - t).min() > 1e-5, (sf, t)
