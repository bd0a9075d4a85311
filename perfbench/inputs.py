"""Seeded input builders, cached on disk by (kind, seed, size).

Every input the benchmark feeds the engine is made here from ``--seed``
alone, so the same seed gives byte-identical files and the engine never
sees anything but the generated tables:

* ``pages``: the ``pages`` table built with ``fixtures.gen_pages.make_html``
  (one hot host with ~30% of rows, mixed en/ja), one parquet file, plus the
  per-url reference digests from one-process ``extract_document`` over the
  same pages;
* ``tables``: the star-schema tables the headline queries read (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings), each one single-row-group parquet file, with the row
  counts, value ranges and text shapes of the read-only sf fixtures at the
  given scale factor (``fixture_profile.py`` compares the two).

Builds go to a temporary directory that is renamed into place, so a build
cut short never leaves a half-written cache entry behind.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def cache_dir(root: str, kind: str, seed: int, size) -> str:
    return os.path.join(root, ".perfbench", "inputs", f"{kind}-s{seed}-{size}")


def _build_once(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` already holds a finished build."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


def doc_digest(status: str, text: str | None) -> str:
    """Digest of one extracted row's (status, text); the url is the key."""
    h = hashlib.sha256(status.encode())
    h.update(b"\0")
    h.update((text or "").encode())
    return h.hexdigest()[:24]


# --- pages ---------------------------------------------------------------

def _digest_slice(path: str, k: int, n: int) -> dict[str, str]:
    """url -> ``doc_digest`` over every ``n``-th page of ``path`` from the
    ``k``-th on, from ``extract_document`` called directly, with no Spark."""
    from martial_arts_ocr_spark.kernel.pipeline import extract_document

    t = pq.read_table(path, columns=["url", "html", "lang"])
    rows = zip(*(t.column(c).to_pylist()[k::n]
                 for c in ("url", "html", "lang")))
    out = {}
    for url, html, lang in rows:
        row = extract_document(url, html, lang or "")
        out[url] = doc_digest(row["status"], row["text"])
    return out


def _reference(path: str, workers: int) -> dict[str, str]:
    """``_digest_slice`` over all of ``path``, split over ``workers``
    child interpreters, each waited for here. (A process pool would
    leave its resource tracker running until this interpreter exits.)"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    procs = [subprocess.Popen(
        [sys.executable, "-m", "perfbench.inputs", path, str(k),
         str(workers)], stdout=subprocess.PIPE, env=env, cwd=root)
        for k in range(workers)]
    ref: dict[str, str] = {}
    try:
        for p in procs:
            out, _ = p.communicate()
            if p.returncode:
                raise RuntimeError(f"reference digests: exit {p.returncode}")
            ref.update(json.loads(out))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return ref


def pages(root: str, seed: int, n: int, workers: int = 1) -> str:
    """Directory with ``pages.parquet`` (n pages) and ``reference.json``
    (url -> ``doc_digest`` from ``extract_document`` called directly,
    with no Spark, split over ``workers`` processes)."""

    def build(tmp: str) -> None:
        from martial_arts_ocr_spark.fixtures.gen_pages import \
            write_pages_parquet

        path = os.path.join(tmp, "pages.parquet")
        write_pages_parquet(path, n, seed)
        ref = _reference(path, workers)
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(ref, f, sort_keys=True)

    return _build_once(cache_dir(root, "pages", seed, n), build)


# --- star-schema tables ----------------------------------------------------

def _write(tmp: str, name: str, cols: dict, **options) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1), **options)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(lo, hi, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + days, pa.timestamp("us"))


def _coprime_10(c: int) -> int:
    while c % 2 == 0 or c % 5 == 0:
        c -= 1
    return c


def _documents(rng, n: int, max_words: int = 100) -> dict:
    """About ``n`` documents of ``max_words // 10`` to ``max_words`` words
    (10 to 100 in the fixtures). Each language gets a document count with
    no factor 2 or 5, so no per-language average of integers ends in an
    exact half-cent, where Spark's and DuckDB's ``round(x, 2)`` differ."""
    counts = [_coprime_10(round(n * p)) for p in _LANG_P]
    langs = rng.permutation(np.repeat(_LANGS, counts))
    n = len(langs)
    texts = []
    for i in range(n):
        words = rng.choice(_WORDS, size=int(
            rng.integers(max_words // 10, max_words)))
        text = " ".join(words)
        if rng.random() < 0.05:            # near-duplicate marker docs
            text += " dup"
        if i % 625 == 624:                 # a fixed share of exact duplicates
            text = texts[int(rng.integers(0, i))]
        texts.append(text)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def _events(rng, n: int, n_users: int) -> dict:
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(1.0, n)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 10**6))
    ts = np.datetime64(_EPOCH_2024, "us") + offs.astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    }


def tables(root: str, seed: int, sf: float) -> str:
    """Directory with one parquet file per table of ``TABLES`` at scale
    factor ``sf``. Row counts, value ranges and the documents' language
    mix, vocabulary, lengths and duplicate shares follow the read-only
    sf fixtures (60k lineitem, 10k events, 500 documents and 500
    embeddings at sf 0.01; 600k, 100k, 5,000 and 2,000 at sf 0.1);
    ``fixture_profile.py`` prints both for a side-by-side check."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), \
            int(200_000 * sf)
        n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
        _write(tmp, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string())})
        _write(tmp, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        _write(tmp, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, size=n_cust))})
        _write(tmp, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
        names = [f"{a} {w}" for a in _ADJECTIVES for w in _NOUNS]
        _write(tmp, "part", {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(rng.choice(names, size=n_part)),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PART_TYPES, size=n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
        _write(tmp, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _days(rng, _EPOCH_1995, 0, 2405, n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, size=n_ord))})
        _write(tmp, "lineitem", {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
            "l_discount": pa.array(_money(rng, 0.0, 0.10, n_li)),
            "l_tax": pa.array(_money(rng, 0.0, 0.08, n_li)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_li)),
            "l_shipdate": _days(rng, _EPOCH_1995, 1, 2500, n_li)})
        _write(tmp, "events", _events(rng, int(1_000_000 * sf),
                                      int(15_000 * sf)))
        # as in the fixtures: at least 500 documents, at most 2,000 embedded
        docs = _documents(rng, max(500, int(50_000 * sf)))
        _write(tmp, "documents", docs)
        _write(tmp, "embeddings",
               _embeddings(rng, min(len(docs["doc_id"]), 2000)))

    return _build_once(cache_dir(root, "tables", seed, f"sf{sf}"), build)


# --- replica corpus ----------------------------------------------------------

def corpus(root: str, seed: int, base_docs: int, replicas: int) -> str:
    """Directory with ``documents`` and ``embeddings`` for the curation
    queries: ``replicas`` copies of a ``base_docs``-document table shaped
    like the sf fixtures' ``documents``, except that texts are twice as
    long (20 to 200 words). Every copy after the first appends three
    seeded vocabulary words to each text, except on a fixed 5% stride,
    which stays byte-identical to the original, so the exact and
    near-duplicate gates both see real duplicates. ``documents`` is one
    uncompressed row group of at least ``SPREAD_MIN_SOURCE_BYTES``, so
    ``queries.tables.spread`` fires on it. Curation time grows with the
    number of documents more than with their length, so the longer texts
    pass that threshold at about half the time; embeddings cover the same
    40% of documents as in the fixtures."""
    from martial_arts_ocr_spark.queries.tables import SPREAD_MIN_SOURCE_BYTES

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        base = _documents(rng, base_docs, max_words=200)
        texts0 = base["text"].to_pylist()
        texts, langs, sources = [], [], []
        for r in range(replicas):
            for i, t in enumerate(texts0):
                if r and i % 20:
                    t += " " + " ".join(rng.choice(_WORDS, size=3))
                texts.append(t)
            langs += base["lang"].to_pylist()
            sources += base["source"].to_pylist()
        n = len(texts)
        _write(tmp, "documents", {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }, compression="none", use_dictionary=False)
        _write(tmp, "embeddings", _embeddings(rng, int(0.4 * n)))
        size = os.path.getsize(os.path.join(tmp, "documents.parquet"))
        if size < SPREAD_MIN_SOURCE_BYTES:
            raise ValueError(f"replica corpus is {size} bytes, below the "
                             f"spread threshold; raise replicas")

    return _build_once(
        cache_dir(root, "corpus", seed, f"{base_docs}x{replicas}"), build)


if __name__ == "__main__":
    # python3 -m perfbench.inputs PAGES_PARQUET K N: the reference digests
    # of every N-th page from the K-th on, as JSON on standard output
    json.dump(_digest_slice(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])),
              sys.stdout)
