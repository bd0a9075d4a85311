"""Round-9 optimization internals: base-table memo + scale-adaptive spread,
and the session memo (engine/memo.py) they and the signature frames,
LM tables and centroids live in.

``base_table`` caches only the lazy DataFrame *plan* per (application,
sf_dir, name) — never rows; ``spread`` recovers parallelism only when the
scan yields fewer partitions than the cluster has slots (single-row-group
driver tables) and must be a strict no-op otherwise, so warehouse-scale
plans are unchanged. Every memo insert drops the entries of other
(stopped) applications, and every persisted entry may spill to disk.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from martial_arts_ocr_spark.engine import memo
from martial_arts_ocr_spark.queries.corpus import _lm_model
from martial_arts_ocr_spark.queries.neardup import (_learned_centroids,
                                                    q_cosine_neardup_pairs)
from martial_arts_ocr_spark.queries.similarity import (
    _lsh_signatures_cached, q_incremental_snapshot_dedup,
    q_simhash_neardup_pairs)
from martial_arts_ocr_spark.queries.tables import (SPREAD_MIN_SOURCE_BYTES,
                                                   base_table,
                                                   scan_partitions,
                                                   source_bytes, spread,
                                                   spread_table)

# uses the conftest session-scoped `spark` fixture — a module-local
# fixture that calls .stop() would kill the process-global SparkContext
# under every later test module (found the hard way this round)

SF = "/root/testdata/sf0.001"


def test_base_table_memoizes_plan_per_session(spark):
    a = base_table(spark, SF, "documents")
    b = base_table(spark, SF, "documents")
    assert a is b                      # same lazy plan object, no rebuild
    # distinct tables get distinct entries
    c = base_table(spark, SF, "events")
    assert c is not a
    # it is a plan memo, not a result memo: actions still scan parquet
    assert a.count() == spark.read.parquet(f"{SF}/documents.parquet").count()


# entry point -> (its memo key, one call that inserts it)
INSERTS = {
    "base_table": (("tables", SF, "orders"),
                   lambda s: base_table(s, SF, "orders")),
    "source_bytes": (("tables", SF, "orders", "bytes"),
                     lambda s: source_bytes(s, SF, "orders")),
    "scan_partitions": (("tables", SF, "orders", "nparts"),
                        lambda s: scan_partitions(s, SF, "orders")),
    "lm_model": (("corpus", SF, "lm"), lambda s: _lm_model(s, SF)),
    "learned_centroids": (("neardup", SF, "cents"),
                          lambda s: _learned_centroids(s, SF)),
    "lsh_signatures": (("similarity", SF, "lsh_sigs"),
                       lambda s: _lsh_signatures_cached(s, SF)),
}


@pytest.mark.parametrize("entry", sorted(INSERTS))
def test_insert_evicts_other_applications(spark, entry):
    key, insert = INSERTS[entry]
    app = spark.sparkContext.applicationId
    # eviction runs on the INSERT path, so drop this session's entry
    # first (a hit inserts nothing)
    prev = memo._STORE.pop((app, *key), None)
    if isinstance(prev, DataFrame):
        prev.unpersist()
    memo._STORE[("dead-app", *key)] = object()
    insert(spark)
    assert (app, *key) in memo._STORE
    assert all(k[0] == app for k in memo._STORE)


def test_persisted_entries_use_disk(spark):
    """``persist()`` with no level is MEMORY_AND_DISK_DESER in pyspark 4:
    the signature frames spill rather than recompute under memory
    pressure."""
    q_cosine_neardup_pairs(spark, SF)
    q_simhash_neardup_pairs(spark, SF)
    q_incremental_snapshot_dedup(spark, SF)
    levels = memo.describe(spark)
    for key in (("neardup", SF, "cosine_nd"),
                ("similarity", SF, "simhash_nd"),
                ("similarity", SF, "incr_band_keys")):
        assert levels[key] is not None, key
    assert all(lvl.useDisk for lvl in levels.values() if lvl is not None)


def test_spread_fires_only_below_parallelism(spark):
    p = spark.sparkContext.defaultParallelism
    # single-row-group parquet scan -> 1 partition -> spread repartitions
    narrow = base_table(spark, SF, "documents").select("doc_id", "text")
    assert narrow.rdd.getNumPartitions() < p
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == p
    # already-parallel input -> STRICT no-op (same object, no exchange)
    wide = spark.range(1000).repartition(p)
    assert spread(wide) is wide
    wider = spark.range(1000).repartition(p * 2)
    assert spread(wider) is wider


def test_spread_preserves_rows(spark):
    narrow = base_table(spark, SF, "documents").select("doc_id")
    before = sorted(r["doc_id"] for r in narrow.collect())
    after = sorted(r["doc_id"] for r in spread(narrow).collect())
    assert before == after


def test_spread_respects_source_size_threshold(spark):
    """Sub-threshold sources (every sf fixture table) stay unspread —
    the exchange's fixed first-run cost exceeds the serialized compute
    it would parallelize; above the threshold the repartition fires."""
    narrow = base_table(spark, SF, "documents").select("doc_id", "text")
    small = spread(narrow, n_source=1, src_bytes=SPREAD_MIN_SOURCE_BYTES - 1)
    assert small is narrow
    big = spread(narrow, n_source=1, src_bytes=SPREAD_MIN_SOURCE_BYTES)
    assert big is not narrow
    assert big.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # spread_table wires the real file size through: the tiny sf0.001
    # documents table must come back unspread
    st = spread_table(spark, SF, "documents", "doc_id", "text")
    assert st.rdd.getNumPartitions() == 1
