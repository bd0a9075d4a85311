"""Tokenize-and-pack output stage (round-5 VERDICT item 1).

Every training run consumes the same artifact: documents BPE-tokenized,
concatenated with a separator id, chunked into fixed-length context
windows.  Reference parity: the reference ends its pipeline at per-page
artifact JSON (src/martial_arts_ocr/ocr/processor.py — no training-data
stage exists there); this stage is the LLM-pipeline extension the graft
brief asks for, composed from the repo's own BPE (bpe.py) and
content-hash split (queries/corpus.py).

Layout — the 100 TB shape:

* Docs are assigned to ``n_buckets`` PACK BUCKETS by content hash
  (md5-prefix mod), and packing is independent per bucket: the bucket is
  the unit of parallelism AND of determinism.  A global pack order over
  100 TB would serialize the cumulative sum; per-bucket packing is
  embarrassingly parallel, and n_buckets is sized so one bucket's token
  stream fits an executor (at 100 TB: tens of thousands of buckets — the
  same knob every distributed tokenizer job exposes).
* WITHIN a bucket, order is (md5(text), doc_id) — deterministic across
  runs, partitionings and engines; ties are exact-duplicate texts, which
  are interchangeable for every emitted statistic and id stream.
* Two surfaces share the identical arithmetic:
  - ``pack_token_sequences`` (here): the REAL artifact — token-id arrays
    via one ``applyInPandas`` over ``groupBy(bucket)``; arrays cannot
    cross the driver's canonicalizer, so this surface is pytest-pinned
    (tests/test_packing.py) against the stats query;
  - ``queries/corpus.py:q_packed_sequences``: the registered, DuckDB-
    oracled stats query — pure column algebra (window cumsum + explode)
    over the same (bucket, order, cost) definitions imported from here.

Separator convention: one SEP after EVERY document (stream length =
sum(tokens_i + 1)); a document may span a chunk boundary (GPT-style
packing, no padding except the final short chunk of each bucket).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CTX_LEN = 512
N_BUCKETS = 8
N_EPOCHS = 2


def content_hash_col():
    """md5 hex of the text — the shared order key (identical in DuckDB:
    ``md5(text)``)."""
    return F.md5(F.col("text"))


def pack_bucket_col(h, n_buckets: int = N_BUCKETS):
    """Pack-bucket id from the hash's first 15 hex digits (same parse both
    engines: Spark conv(,16,10), DuckDB CAST('0x'||substr AS BIGINT))."""
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % n_buckets


def epoch_order_frame(packed: DataFrame,
                      n_epochs: int | list[int]) -> DataFrame:
    """Deterministic per-epoch permutation of packed sequences — the ONE
    definition shared by the registered query (queries/corpus.py:
    q_packed_epoch_order, DuckDB-oracled) and the runner's materialized
    epoch artifact (engine/curate.py): md5(epoch:bucket:seq) as the
    shuffle key, rank WITHIN each (epoch, bucket) shard. Global training
    order is the standard shard contract (read shards round-robin);
    there is deliberately NO global row_number — a single-partition
    window is the 100 TB scale-killer, and each bucket's permutation is
    independent and parallel.

    Input needs (bucket, seq_in_bucket); output: (epoch, bucket,
    pos_in_bucket, seq_in_bucket, shuffle_key), unordered — callers add
    their own presentation sort or write layout.

    ``n_epochs`` may be an int (epochs 0..n-1, the query surface) or an
    explicit list of epoch numbers — the runner materializes one epoch
    per resume unit and passes ``[e]``, so each epoch stage generates
    ONLY its own rows instead of exploding all epochs and filtering
    (round-7 review: that shape re-scanned the packed table and
    generated n_epochs× the rows once per epoch — O(n_epochs²) total).
    The md5(e:bucket:seq) key depends only on the epoch NUMBER, so any
    epoch subset derives bit-identical rows."""
    from pyspark.sql import Window

    epochs = list(range(n_epochs)) if isinstance(n_epochs, int) else \
        [int(e) for e in n_epochs]
    x = packed.select(
        "bucket", "seq_in_bucket",
        F.explode(F.array(*[F.lit(e) for e in epochs])).alias("epoch"),
    ).select(
        "epoch", "bucket", "seq_in_bucket",
        F.md5(F.concat_ws(
            ":", F.col("epoch").cast("string"),
            F.col("bucket").cast("string"),
            F.col("seq_in_bucket").cast("string"),
        )).alias("shuffle_key"),
    )
    w = Window.partitionBy("epoch", "bucket").orderBy(
        "shuffle_key", "seq_in_bucket")
    return x.select(
        "epoch", "bucket",
        F.row_number().over(w).cast("bigint").alias("pos_in_bucket"),
        "seq_in_bucket", "shuffle_key",
    )


def _prepped(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Shared packer input prep: doc_id as STRING across Arrow (round-5
    gotcha: Spark's Arrow input coercion turns nullable int64 into
    float64 whenever a null shares the batch, corrupting ids >= 2^53
    before user code runs), content hash as the order key, pack bucket."""
    h = content_hash_col()
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        h.alias("h"),
        pack_bucket_col(h, n_buckets).alias("bucket"),
    )


def _pack_pdf(pdf: pd.DataFrame, merges, ctx_len: int,
              media: bool) -> pd.DataFrame:
    """THE per-bucket pack kernel — one definition for both surfaces
    (text-only and multimodal), so the chunk arithmetic can never drift
    between them (r8 review). ``media`` toggles the placeholder insertion
    and the parallel ``media_ids``/``media_offsets`` ref arrays."""
    import numpy as np

    from . import bpe

    ranks = bpe.merge_ranks(merges)
    mids = bpe.merged_token_ids(merges)
    nm = len(merges)
    pdf = pdf.assign(_did=pdf["doc_id"].astype("int64"))
    pdf = pdf.sort_values(["h", "_did"], kind="mergesort")
    stream: list[int] = []
    bounds: list[tuple[int, int]] = []
    refs: list[tuple[int, int]] = []            # (global_pos, media_id)
    pos = 0
    cache: dict = {}
    for did, t in zip(pdf["_did"], pdf["text"]):
        ids = bpe.doc_token_ids(t, ranks, mids, nm, cache)
        if media:
            mpos = media_insert_pos(int(did), len(ids))
            ids.insert(mpos, MEDIA_PLACEHOLDER_ID)
            refs.append((pos + mpos, int(did)))
        ids.append(bpe.SEP_ID)
        bounds.append((pos, pos + len(ids)))
        stream.extend(ids)
        pos += len(ids)
    total = pos
    cols = ["bucket", "seq_in_bucket", "n_docs_in_seq", "n_tokens",
            "fill_ratio", "token_ids"]
    if media:
        cols += ["media_ids", "media_offsets"]
    if total == 0:
        return pd.DataFrame({c: [] for c in cols})
    arr = np.asarray(stream, dtype=np.int64)
    n_seqs = -(-total // ctx_len)
    diff = np.zeros(n_seqs + 1, dtype=np.int64)
    for s, e in bounds:
        diff[s // ctx_len] += 1
        diff[(e - 1) // ctx_len + 1] -= 1
    n_docs = np.cumsum(diff[:-1])
    n_tok = np.minimum(ctx_len,
                       total - ctx_len * np.arange(n_seqs, dtype=np.int64))
    bucket = int(pdf["bucket"].iloc[0])
    out = {
        "bucket": np.full(n_seqs, bucket, dtype=np.int64),
        "seq_in_bucket": np.arange(n_seqs, dtype=np.int64),
        "n_docs_in_seq": n_docs,
        "n_tokens": n_tok,
        "fill_ratio": n_tok / float(ctx_len),
        "token_ids": [arr[k * ctx_len:(k + 1) * ctx_len]
                      for k in range(n_seqs)],
    }
    if media:
        by_seq: dict[int, list[tuple[int, int]]] = {}
        for gpos, mid in refs:
            by_seq.setdefault(gpos // ctx_len, []).append(
                (gpos % ctx_len, mid))
        out["media_ids"] = [[mid for _o, mid in sorted(by_seq.get(k, []))]
                            for k in range(n_seqs)]
        out["media_offsets"] = [[o for o, _mid in sorted(by_seq.get(k, []))]
                                for k in range(n_seqs)]
    return pd.DataFrame(out)


def pack_token_sequences(docs: DataFrame,
                         ctx_len: int = CTX_LEN,
                         n_buckets: int = N_BUCKETS,
                         merges=None) -> DataFrame:
    """The real packer: (bucket, seq_in_bucket, n_docs_in_seq, n_tokens,
    fill_ratio, token_ids) — token_ids is the training-ready id array.

    One shuffle (groupBy bucket), one Arrow-batched pandas stage; the
    merge table rides the closure as a task-local constant (kernel:
    _pack_pdf, shared with the multimodal surface)."""
    if merges is None:
        from .bpe_merges_1k import BPE_MERGES_1K
        merges = BPE_MERGES_1K
    schema = ("bucket bigint, seq_in_bucket bigint, n_docs_in_seq bigint, "
              "n_tokens bigint, fill_ratio double, token_ids array<bigint>")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pack_pdf(pdf, merges, ctx_len, media=False)

    return _prepped(docs, n_buckets).groupBy("bucket") \
        .applyInPandas(pack, schema)


# --- multimodal training samples (round-8 VERDICT item 4) --------------------
#
# A multimodal pipeline trains on sequences where media placeholders
# interleave with text tokens; the media bytes themselves stay out of the
# token stream (a reader resolves media_id against the feature/binary
# table — queries/media.py's convention is media_id == doc_id for the
# per-document synthesized image). Placement rule, chosen to be exact in
# SQL: each document carries ONE media ref, inserted at token position
# doc_id % (n_bpe_tokens + 1) (before the separator). The registered
# query `multimodal_seq_media` (queries/corpus.py) oracles the resulting
# (sequence, offset) layout; tests/test_packing.py pins this packer's
# arrays against it row for row.

MEDIA_PLACEHOLDER_ID = -1     # outside the BPE id space (SEP=0, merges/
                              # chars positive) — unambiguous in bigint


def media_insert_pos(doc_id: int, n_ids: int) -> int:
    """The ONE definition of the placeholder position (packer + query +
    oracle all derive from it): 0..n_ids inclusive, before the SEP."""
    return doc_id % (n_ids + 1)


def pack_multimodal_sequences(docs: DataFrame,
                              ctx_len: int = CTX_LEN,
                              n_buckets: int = N_BUCKETS,
                              merges=None) -> DataFrame:
    """pack_token_sequences + interleaved media refs: adds
    ``media_ids``/``media_offsets`` (parallel arrays — one entry per
    placeholder landing in this sequence; ``token_ids[offset] ==
    MEDIA_PLACEHOLDER_ID`` for every entry). Same bucket/order/chunk
    arithmetic as the text packer with per-doc cost = n_bpe_tokens + 2
    (placeholder + separator); same one-shuffle one-Arrow-stage shape.
    A placeholder spans no chunk boundary (it is one token), so a ref
    belongs to exactly one sequence. Kernel: _pack_pdf(media=True) —
    the SAME chunk arithmetic as the text packer by construction."""
    if merges is None:
        from .bpe_merges_1k import BPE_MERGES_1K
        merges = BPE_MERGES_1K
    schema = ("bucket bigint, seq_in_bucket bigint, n_docs_in_seq bigint, "
              "n_tokens bigint, fill_ratio double, token_ids array<bigint>, "
              "media_ids array<bigint>, media_offsets array<bigint>")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pack_pdf(pdf, merges, ctx_len, media=True)

    return _prepped(docs, n_buckets).groupBy("bucket") \
        .applyInPandas(pack, schema)
