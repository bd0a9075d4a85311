"""The one memo for values derived from a Spark session.

Every value whose lifetime is "this Spark application" lives here: lazy
base-table plans and their size probes, persisted signature frames, LM
cost tables, learned centroids, the slot-scoped component labels. Keys
are ``(applicationId, owner, *parts)``; the owner (first element of the
caller's key) names the module and value, so two callers memoizing on
the same ``sf_dir`` never collide.

Eviction is one rule, applied on every insert: entries of any other
application are dropped WITHOUT release. Classic pyspark runs one active
SparkContext per process, so another applicationId belongs to a stopped
session whose storage died with it; dropping the reference is all that
is left to do (pytest runs many sessions in one process). Entries of the
live application are never evicted — ``replace`` is the only path that
frees one, and only the previous value of the same key.

Persisted frames use ``DataFrame.persist()`` with no argument, whose
default in pyspark 4.1 is ``MEMORY_AND_DISK_DESER``: partitions that do
not fit in memory spill to disk instead of being recomputed
(tests/test_tables_spread.py pins ``useDisk`` on every persisted entry).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_STORE: dict[tuple, Any] = {}


def _insert(full_key: tuple, value: Any) -> None:
    for k in [k for k in _STORE if k[0] != full_key[0]]:
        del _STORE[k]
    _STORE[full_key] = value


def get_or_build(spark: SparkSession, key: tuple, build: Callable[[], Any]):
    """The memoized value for ``key`` = ``(owner, *parts)`` in this
    application; on a miss, ``build()`` runs once and its result is
    stored."""
    full = (spark.sparkContext.applicationId, *key)
    if full not in _STORE:
        _insert(full, build())
    return _STORE[full]


def replace(spark: SparkSession, key: tuple, value: Any,
            release: Callable[[Any], None]) -> None:
    """Store ``value`` under ``key``, first calling ``release`` on the
    value it replaces in this application (if any)."""
    full = (spark.sparkContext.applicationId, *key)
    prev = _STORE.pop(full, None)
    if prev is not None:
        release(prev)
    _insert(full, value)


def free_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a checkpointed DataFrame's storage: the
    block-manager blocks of a ``localCheckpoint()``, the files of a
    reliable ``checkpoint()`` (each step no-ops on the other's plan).

    ``DataFrame.unpersist()`` clears neither: it only drops CacheManager
    entries, and ``spark.cleaner.referenceTracking.cleanCheckpoints``
    defaults to false. The checkpointed Dataset's analyzed plan is a
    ``LogicalRDD`` whose ``rdd()`` is the checkpointed RDD, so
    unpersisting it frees the blocks and its checkpoint file, if any, is
    deleted through the JVM Hadoop FileSystem. Internal API — guarded so
    a Spark upgrade degrades to leaking storage instead of failing the
    query."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return
        rdd = plan.rdd()
        rdd.unpersist(False)
        opt = rdd.getCheckpointFile()
        if opt.isDefined():
            path = df.sparkSession._jvm.org.apache.hadoop.fs.Path(opt.get())
            path.getFileSystem(
                df.sparkSession._jsc.hadoopConfiguration()).delete(path, True)
    except Exception:
        pass


def describe(spark: SparkSession) -> dict[tuple, StorageLevel | None]:
    """``{(owner, *parts): StorageLevel or None}`` for the live entries of
    this application; the level is set only for persisted DataFrames."""
    app = spark.sparkContext.applicationId
    out = {}
    for (k_app, *key), value in _STORE.items():
        if k_app != app:
            continue
        level = value.storageLevel if isinstance(value, DataFrame) else None
        out[tuple(key)] = None if level == StorageLevel.NONE else level
    return out
