"""The distributed extraction job: scan → gate → partition → mapInPandas.

Target lifecycle (SURVEY.md §3.4):

    read pages → prune columns → validity gate (P1) → host-hash repartition
    (+ salt for hot hosts) → mapInPandas(extract_batch) → extracted rows

Scale notes (the parts the 100 TB design hangs on):
* **Column pruning**: `html` (the giant binary column) is selected only into
  the UDF stage and dropped in its output — every downstream query reads
  extracted parquet without it.
* **Explicit hash partitioning on url-host** (north_rule): co-locates each
  host's pages so per-host skew is visible and addressable; hot hosts get a
  salt suffix so one host never pins one executor.
* **No driver-side loops**: host extraction, salting, and all per-doc logic
  are column expressions + one Arrow-batched UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel.pipeline import extract_document
from .schema import EXTRACTED_SCHEMA

# case-insensitive scheme + optional userinfo ('HTTP://X/..' and
# 'http://alice@example.com/..' both yield the real host; a case-sensitive
# scheme match extracted '' for uppercase schemes — one shared partition
# key — and userinfo leaked into the host)
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"

_OUT_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]

# hot hosts: a list (``salt_buckets`` sub-keys each) or host→sub-key count
HotHosts = list[str] | dict[str, int] | None


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """host column via JVM-side regexp (no Python)."""
    return df.withColumn("host", F.regexp_extract(F.col(url_col), HOST_RE, 1))


def gated_pages(pages: DataFrame, *keep: str) -> DataFrame:
    """The kernel's input rows: pages pruned to url/html/lang (plus the
    ``keep`` pass-through columns), the P1 validity gate (no null or
    empty html) and the url host."""
    df = pages.select("url", *keep, "html", "lang")
    return with_host(
        df.filter(F.col("html").isNotNull() & (F.length("html") > 0)))


def salted_key_col(hot_hosts: HotHosts = None, salt_buckets: int = 8):
    """Column expression: host salted with a url-hash suffix for hot hosts.

    ``hot_hosts`` is either a list (every hot host gets ``salt_buckets``
    sub-keys) or a dict host→buckets (proportional salting, see
    ``proportional_salt_buckets``); a list is the dict with every count
    equal to ``salt_buckets``. The key is ``host#pmod(xxhash64(url), k)``
    for a hot host and the bare host otherwise.
    """
    if not isinstance(hot_hosts, dict):
        hot_hosts = dict.fromkeys(hot_hosts or (), salt_buckets)
    host = F.col("host")
    expr = F                    # F.when opens the CASE, Column.when extends it
    for h, k in sorted(hot_hosts.items()):
        expr = expr.when(host == h, F.concat(
            host, F.lit("#"),
            F.pmod(F.xxhash64(F.col("url")), F.lit(int(k))).cast("string")))
    return expr.otherwise(host) if hot_hosts else host


def bucket_col(hot_hosts: HotHosts, n_buckets: int):
    """Column expression: the checkpoint bucket
    ``pmod(xxhash64(part_key), n_buckets)``. The one derivation of
    ``part_bucket``, for the input bucketing and the post-kernel write
    alike; its ``host`` column must be the ``with_host`` one, never a
    caller's own."""
    return F.pmod(F.xxhash64(salted_key_col(hot_hosts)),
                  F.lit(n_buckets)).cast("int")


def with_salted_key(df: DataFrame, hot_hosts: HotHosts = None,
                    salt_buckets: int = 8) -> DataFrame:
    """Partition key = host, salted for known-hot hosts (SURVEY §4.3).

    ``hot_hosts`` comes from a cheap sampled count upstream (see
    ``detect_hot_host_shares``); at 10^12 docs that sample is a separate
    tiny job.
    """
    return df.withColumn("part_key", salted_key_col(hot_hosts, salt_buckets))


def detect_hot_host_shares(
    df: DataFrame, threshold: float = 0.05, sample_fraction: float = 0.01
) -> dict[str, float]:
    """Hot hosts with their sampled row share (for proportional salting)."""
    sample = df.select("host")
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=42)
    total = sample.count()
    if total == 0:
        return {}
    rows = (
        sample.groupBy("host").count()
        .where(F.col("count") > threshold * total)
        .orderBy("host")
        .collect()
    )
    return {r["host"]: r["count"] / total for r in rows}


def proportional_salt_buckets(
    shares: dict[str, float], target_share: float
) -> dict[str, int]:
    """Bucket count per hot host so each salted key carries ≈target_share
    of rows (e.g. 1/(4·cores)): buckets = ceil(share / target_share).

    The fixed-buckets scheme under-salts very hot hosts (their keys stay
    k× tail size) and over-salts mildly hot ones; proportional salting
    equalizes key sizes, which is what bounds the straggler partition.
    """
    import math

    return {
        h: max(1, math.ceil(s / target_share)) for h, s in sorted(shares.items())
    }


def kernel_rows(pdf):
    """THE per-row kernel call contract for a P1-gated pandas batch:
    yields ``(url, extract_document(url, html, lang or ""))`` in row
    order. Shared by the batch path (``extract_batch``) and the streaming
    path (``streaming.extract_stream``) so the call signature and
    lang-coalescing cannot diverge between them."""
    for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
        yield url, extract_document(url, html, lang or "")


def extract_batch(iterator):
    """mapInPandas worker: Arrow batch in → extracted batch out.

    Pure function of row content — batch boundaries and row order never
    affect any output value (byte-identity invariant). Nested values stay
    the kernel's dicts: pyspark converts every struct value to a dict by
    field name before the Arrow build, so ``EXTRACTED_SCHEMA`` alone fixes
    the nested field order.
    """
    for pdf in iterator:
        yield pd.DataFrame(
            [{**row, "host": host}
             for (_url, row), host in zip(kernel_rows(pdf), pdf["host"])],
            columns=_OUT_COLS)


def run_extract(
    pages: DataFrame,
    num_partitions: int | None = None,
    hot_hosts: HotHosts = None,
    salt_buckets: int = 8,
    pre_partitioned: bool = False,
) -> DataFrame:
    """pages DataFrame → extracted DataFrame (lazy; caller writes/collects).

    ``pre_partitioned=True`` means THE CALLER OWNS THE PARTITIONING and no
    shuffle is added here — the job runs scan → mapInPandas → sink. The
    kernel is a pure per-row function, so ANY caller-chosen layout is
    correct; the two layouts callers actually use are (a) the 100 TB fast
    path, input already hash-partitioned on url-host at ingest (Iceberg
    partition spec ``bucket(host)``; emulated by the catalog's
    ``part_bucket=`` layout — never re-shuffle 100 TB that storage
    already partitioned), and (b) the checkpointed runner's round-robin
    wave spread (resume.py), where host co-location already holds at
    bucket granularity and intra-wave balance wins. Nothing in this
    module may assume per-partition host locality under
    ``pre_partitioned=True``. ``pre_partitioned=False`` performs the
    explicit salted host-hash repartition for unpartitioned input.
    """
    df = gated_pages(pages)
    if not pre_partitioned:
        df = with_salted_key(df, hot_hosts, salt_buckets)
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(n, F.col("part_key"))
    out = df.select("url", "host", "html", "lang").mapInPandas(
        extract_batch, schema=EXTRACTED_SCHEMA
    )
    return out
