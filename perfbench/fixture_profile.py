#!/usr/bin/env python3
"""Shape of a directory of query tables, for comparing the generated
tables with a reference set of the same schema:

    python3 perfbench/fixture_profile.py DIR [DIR ...]

For each directory it prints, as one JSON object per line, the row count
of every table and the properties the headline queries are sensitive to:
the language mix, text lengths, vocabulary, language-marker words,
duplicate shares of ``documents``; the embedding count and width; the
user and event-type mix of ``events``; and the key and date ranges of
the star-schema tables.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

_MARKERS = ("the", "el", "der", "le", "dup")


def _read(d: str, name: str):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


def _q(xs) -> list[float]:
    return [round(float(v), 1) for v in np.percentile(xs, [0, 25, 50, 75, 100])]


def profile(d: str) -> dict:
    from perfbench.inputs import TABLES

    out: dict = {"rows": {t: pq.ParquetFile(
        os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in TABLES}}
    docs = _read(d, "documents").to_pydict()
    texts = docs["text"]
    n = len(texts)
    words = [t.split() for t in texts]
    vocab = collections.Counter(w for ws in words for w in ws)
    out["documents"] = {
        "lang_share": {k: round(v / n, 3) for k, v in
                       sorted(collections.Counter(docs["lang"]).items())},
        "sources": len(set(docs["source"])),
        "n_chars_q": _q(docs["n_chars"]),
        "words_q": _q([len(ws) for ws in words]),
        "vocabulary": len(vocab),
        "docs_with_marker": {m: round(sum(m in ws for ws in words) / n, 4)
                             for m in _MARKERS},
        "exact_dup_share": round(1 - len(set(texts)) / n, 4),
        "bytes": os.path.getsize(os.path.join(d, "documents.parquet")),
    }
    emb = _read(d, "embeddings")
    out["embeddings"] = {
        "dim": len(emb.column("embedding")[0].as_py()) if emb.num_rows else 0,
        "labels": len(set(emb.column("label").to_pylist())),
        "share_of_docs": round(emb.num_rows / max(n, 1), 3),
    }
    ev = _read(d, "events")
    n_ev = ev.num_rows
    out["events"] = {
        "users": len(pc.unique(ev.column("user_id"))),
        "type_share": {k: round(v / n_ev, 3) for k, v in sorted(
            collections.Counter(ev.column("event_type").to_pylist()).items())},
        "value_q": _q(ev.column("value").to_numpy()),
        "span_days": round((pc.max(ev.column("ts")).value
                            - pc.min(ev.column("ts")).value) / 86400e6, 2),
    }
    li = _read(d, "lineitem")
    o = _read(d, "orders")
    out["star"] = {
        "orders_per_customer": round(o.num_rows / max(out["rows"]["customer"],
                                                      1), 2),
        "lineitems_per_order": round(li.num_rows / max(o.num_rows, 1), 2),
        "l_quantity_q": _q(li.column("l_quantity").to_numpy()),
        "l_extendedprice_q": _q(li.column("l_extendedprice").to_numpy()),
        "o_orderdate": [str(pc.min(o.column("o_orderdate"))),
                        str(pc.max(o.column("o_orderdate")))],
        "l_shipdate": [str(pc.min(li.column("l_shipdate"))),
                       str(pc.max(li.column("l_shipdate")))],
    }
    return out


def main(argv) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    for d in argv:
        print(json.dumps({"dir": d, **profile(d)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
