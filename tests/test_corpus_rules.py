"""Discrimination guards for the Gopher line-shape rules: a rule that can
never fire (or never pass) on the demo corpus is vacuous evidence, so pin
that every flag has BOTH outcomes at the smallest SF. DuckDB-only (the
oracle is the cheaper engine and test_query_gate proves Spark == oracle).
"""

import duckdb
import pytest

from martial_arts_ocr_spark.queries.corpus import (ORACLE_CONTAMINATION,
                                                   ORACLE_LINE_FLAGS)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{SF}/documents.parquet')")
    yield c
    c.close()


def test_every_line_flag_fires_both_ways(con):
    df = con.execute(ORACLE_LINE_FLAGS).df()
    for flag in ("symbol_ok", "bullet_ok", "ellipsis_ok",
                 "dup_line_ok", "dup_char_ok", "line_pass"):
        vals = set(df[flag])
        assert vals == {True, False}, (flag, vals)


def test_line_flag_variants_behave(con):
    """The variant construction itself: base docs all pass, every decorated
    doc fails the bullet rule (100% bullet lines), and the dup variant's
    1-line docs fail both duplicate rules (3 of 4 lines are copies)."""
    df = con.execute(ORACLE_LINE_FLAGS).df().set_index("doc_id")
    base = df[df.index < 200000]
    deco = df[df.index >= 400000]
    dup = df[(df.index >= 200000) & (df.index < 400000)]
    assert base["line_pass"].all()
    assert (~deco["bullet_ok"]).all()
    one_line_dups = dup[dup["n_lines"] == 4]
    assert len(one_line_dups) > 0
    assert (~one_line_dups["dup_line_ok"]).all()
    assert (~one_line_dups["dup_char_ok"]).all()


def test_contamination_probes_flag_their_source_docs(con):
    """Every probe's source document must be flagged (it contains the gram
    the eval suite quoted from it) — the minimum a decontamination pass
    must catch."""
    df = con.execute(ORACLE_CONTAMINATION).df().set_index("doc_id")
    from martial_arts_ocr_spark.queries.corpus import _BENCH_PROBES
    for _, src_doc, _ in _BENCH_PROBES:
        assert src_doc in df.index, src_doc
        assert df.loc[src_doc, "n_benchmarks"] >= 1


def test_variant_offsets_cannot_collide():
    """simhash_neardup_pairs perturbs doc_id by +100000 and
    gopher_line_flags derives variants at +200000/+400000; a corpus whose
    real doc_ids reach the smallest offset would silently mix perturbed
    and real documents (review-found). Pin the precondition at every
    driver SF so growth past the offsets fails loudly here, not silently
    in a green-looking oracle."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        mx = duckdb.connect().execute(
            f"SELECT max(doc_id) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet')"
        ).fetchone()[0]
        assert mx < 100000, (sf, mx)


def test_source_mixing_weights_properties(spark):
    """Mixture invariants at sf0.001: weights sum to ~1, integer quotas
    sum to <= SCALE (floor never over-allocates), every source gets a
    positive quota, and the sqrt rule actually damps: the largest
    source's weight share is strictly below its raw token share."""
    from martial_arts_ocr_spark.queries.corpus import (
        _MIX_QUOTA_SCALE,
        q_source_mixing_weights,
    )

    rows = q_source_mixing_weights(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    assert sum(r["quota"] for r in rows) <= _MIX_QUOTA_SCALE
    assert all(r["quota"] > 0 for r in rows)
    tok_total = sum(r["total_tokens"] for r in rows)
    big = max(rows, key=lambda r: r["total_tokens"])
    assert big["mix_weight"] < big["total_tokens"] / tok_total
    # and boosts: the smallest source's share exceeds its raw share
    small = min(rows, key=lambda r: r["total_tokens"])
    assert small["mix_weight"] > small["total_tokens"] / tok_total


def test_neardup_gate_fires_both_ways(con, monkeypatch):
    """The sixth keep-set gate (near-dup cluster survivorship) must
    discriminate on the smallest SF: some docs are non-min members of a
    verified near-dup cluster (killed), cluster minima survive, and the
    gate is exactly 'doc_id == min(cluster)' for every cluster member.
    DuckDB-only, same rationale as the line-flag guards."""
    from martial_arts_ocr_spark.queries.corpus import _oracle_corpus_keep_set
    from martial_arts_ocr_spark.queries.graph import _clusters_oracle

    # the keep-set oracle now also bakes the semantic gate's centroid
    # literals — learn them from THIS test's SF, not the gate default
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF)
    con.execute(
        f"CREATE VIEW IF NOT EXISTS embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')")
    keep = con.execute(_oracle_corpus_keep_set()).df().set_index("doc_id")
    vals = set(keep["neardup_survivor"])
    assert vals == {True, False}, vals
    labels = con.execute(_clusters_oracle()).df()
    by_doc = dict(zip(labels["doc_id"], labels["cluster_id"]))
    for doc_id, row in keep.iterrows():
        expected = doc_id not in by_doc or by_doc[doc_id] == doc_id
        assert bool(row["neardup_survivor"]) == expected, doc_id
    # every cluster keeps exactly its min member
    for cid in set(by_doc.values()):
        members = [d for d, c in by_doc.items() if c == cid]
        survivors = [d for d in members if keep.loc[d, "neardup_survivor"]]
        assert survivors == [min(members)], (cid, survivors)


def test_semantic_gate_fires_both_ways(con, monkeypatch):
    """The seventh keep-set gate (round-8, SemDeDup-style semantic
    survivorship) — same contract as the lexical gate: non-min members
    of an in-k-means-cluster high-cosine component are killed, component
    minima and unclustered docs survive, and the gate is exactly
    'doc_id == min(component)' for every member."""
    from martial_arts_ocr_spark.queries.corpus import _oracle_corpus_keep_set
    from martial_arts_ocr_spark.queries.neardup import (
        _semantic_clusters_oracle,
    )

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF)
    con.execute(
        f"CREATE VIEW IF NOT EXISTS embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')")
    keep = con.execute(_oracle_corpus_keep_set()).df().set_index("doc_id")
    vals = set(keep["sem_survivor"])
    assert vals == {True, False}, vals
    labels = con.execute(_semantic_clusters_oracle()).df()
    by_doc = dict(zip(labels["doc_id"], labels["cluster_id"]))
    assert len(by_doc) > 0
    for doc_id, row in keep.iterrows():
        expected = doc_id not in by_doc or by_doc[doc_id] == doc_id
        assert bool(row["sem_survivor"]) == expected, doc_id
    for cid in set(by_doc.values()):
        members = [d for d, c in by_doc.items() if c == cid]
        survivors = [d for d in members if keep.loc[d, "sem_survivor"]]
        assert survivors == [min(members)], (cid, survivors)


def test_mixture_epoch_stream_sampling_discriminates(con):
    """The quota-weighted epoch sample must (a) draw exactly
    min(n_target, n_docs_source) docs per (epoch, source), (b) actually
    SUBSET at least one source (n_target < n_docs), and (c) draw
    different docs in different epochs (the per-epoch salt is live) —
    else the 'epoch stream' is vacuously the same sample twice."""
    from martial_arts_ocr_spark.queries.corpus import (
        _oracle_mixture_epoch_stream,
    )

    df = con.execute(_oracle_mixture_epoch_stream()).df()
    n_by_src = dict(con.execute(
        "SELECT source, count(*) FROM documents GROUP BY source").fetchall())
    assert (df["docs_sampled"]
            == df.apply(lambda r: min(r["n_target"],
                                      n_by_src[r["source"]]), axis=1)).all()
    assert df["docs_sampled"].sum() > 0
    assert (df["n_target"] < df["source"].map(n_by_src)).any()
    # per-epoch salt: some source's epoch-0 and epoch-1 fingerprints differ
    e0 = df[df["epoch"] == 0].set_index("source")["sum_doc_ids"]
    e1 = df[df["epoch"] == 1].set_index("source")["sum_doc_ids"]
    assert (e0 != e1).any()
