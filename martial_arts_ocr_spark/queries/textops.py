"""Training-data text operators over the `documents` table.

The text-statistics / quality / language operators from SURVEY.md §2.4
(A5-A7) and the large-scale-pipeline additions (exact dedup, fingerprinting,
token counting, language-ID heuristic, quality scoring, URL
canonicalization) — expressed as JVM-side Column algebra wherever the
semantics allow (whole-stage codegen end-to-end); the one exception is
``bpe_token_counts``, whose merge-loop semantics need a (vectorized,
Arrow-batched) pandas UDF. Each query has a DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd    # module-level: pandas_udf resolves the stringified
# 'pd.Series' annotations in the defining function's GLOBAL namespace
# (a local `import pandas as pd` fails with UNSUPPORTED_SIGNATURE)
from pyspark.sql import functions as F

from martial_arts_ocr_spark.queries.tables import base_table, oracle_sf_rows


# --- per-language token/char statistics (A6 corpus rollup) --------------------

def q_doc_stats_by_lang(spark, sf_dir):
    # spread() A/B: +0.05 s at sf0.1, -0.15 s at 10x — inside noise both
    # ways; left unspread (the tokenize feeds a partial agg that fuses
    # with the scan, and the shuffle would carry the full text column).
    d = base_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
            F.round(F.avg(tokens), 2).alias("avg_tokens"),
            F.max(F.length("text")).cast("bigint").alias("max_chars"),
        )
        .orderBy("lang")
    )


ORACLE_DOC_STATS = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(avg(length(text)) AS DOUBLE), 2) AS avg_chars,
       round(CAST(avg(len(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE), 2) AS avg_tokens,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# --- exact dedup via content hash (O1 cross-corpus analogue) -------------------

def q_exact_dup_groups(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .orderBy("content_hash")
    )


ORACLE_DUP_GROUPS = """
SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
"""


def q_dedup_survivors(spark, sf_dir):
    """Exact dedup keeping min doc_id per content hash — the scalable
    pattern (hash → groupBy → min) rather than dropDuplicates on text."""
    d = base_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .orderBy("keep_doc_id")
        .select("keep_doc_id", "content_hash")
    )


ORACLE_DEDUP_SURVIVORS = """
SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id, md5(text) AS content_hash
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""


# --- document fingerprints (md5; L-like fingerprint op) ------------------------

def q_fingerprints(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars") > 400)
        .select("doc_id", F.md5("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


ORACLE_FINGERPRINTS = """
SELECT doc_id, md5(text) AS fingerprint FROM documents
WHERE n_chars > 400 ORDER BY doc_id
"""


# --- quality scoring (A5 staircase as Column algebra) ---------------------------

def q_quality_buckets(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avg_word = n_chars / tokens
    bucket = (
        F.when(n_chars < 100, "tiny")
        .when(tokens < 20, "short")
        .when(avg_word > 12, "suspicious")
        .otherwise("ok")
    )
    return (
        d.select(bucket.alias("quality_bucket"))
        .groupBy("quality_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("quality_bucket")
    )


ORACLE_QUALITY = """
SELECT CASE
         WHEN length(text) < 100 THEN 'tiny'
         WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 20 THEN 'short'
         WHEN CAST(length(text) AS DOUBLE)
              / len(regexp_split_to_array(trim(text), '\\s+')) > 12
              THEN 'suspicious'
         ELSE 'ok'
       END AS quality_bucket,
       CAST(count(*) AS BIGINT) AS n
FROM documents GROUP BY 1 ORDER BY 1
"""


# --- language-ID heuristic (L12 analogue: marker-word scoring) -------------------

# marker → lang; counts of ' <marker> ' occurrences decide the language.
_MARKERS = [("the", "en"), ("el", "es"), ("der", "de"), ("le", "fr")]


def _occurrences(col, marker):
    # number of occurrences of ' marker ' = (len - len(replace)) / len(marker+2)
    pat = f" {marker} "
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / len(pat)
    ).cast("bigint")


def q_langid_heuristic(spark, sf_dir):
    # spread() measured a REGRESSION here at sf0.1 (0.25 -> 0.37 s best,
    # interleaved A/B) and flat at 10x: the 4-marker occurrence count is
    # codegen'd string work cheaper than shuffling the text column.
    d = base_table(spark, sf_dir, "documents")
    col = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    counts = [_occurrences(col, m).alias(f"n_{m}") for m, _ in _MARKERS]
    scored = d.select("doc_id", "lang", *counts)
    best = F.greatest(*[F.col(f"n_{m}") for m, _ in _MARKERS])
    pred = F.when(best == 0, "unknown")
    for m, lg in _MARKERS:
        pred = pred.when(F.col(f"n_{m}") == best, lg)
    scored = scored.select("doc_id", "lang", pred.alias("predicted"))
    return (
        scored.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


ORACLE_LANGID = """
WITH scored AS (
  SELECT doc_id, lang,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS n_the,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) / 4 AS BIGINT) AS n_el,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) / 5 AS BIGINT) AS n_der,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4 AS BIGINT) AS n_le
  FROM documents
), pred AS (
  SELECT lang,
    CASE WHEN greatest(n_the, n_el, n_der, n_le) = 0 THEN 'unknown'
         WHEN n_the = greatest(n_the, n_el, n_der, n_le) THEN 'en'
         WHEN n_el  = greatest(n_the, n_el, n_der, n_le) THEN 'es'
         WHEN n_der = greatest(n_the, n_el, n_der, n_le) THEN 'de'
         WHEN n_le  = greatest(n_the, n_el, n_der, n_le) THEN 'fr'
    END AS predicted
  FROM scored
)
SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- token totals per source (token-counting op) ---------------------------------

def q_tokens_by_source(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    return (
        d.groupBy("source")
        .agg(F.sum(tokens).alias("total_tokens"),
             F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("total_tokens"), F.asc("source"))
        .limit(10)
    )


ORACLE_TOKENS_BY_SOURCE = """
SELECT source,
       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
ORDER BY total_tokens DESC, source ASC LIMIT 10
"""


def _bpe_count_udf():
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def bpe_count(text: pd.Series) -> pd.Series:
        import numpy as np

        from .. import bpe
        from ..bpe_merges_1k import BPE_MERGES_1K

        ranks = bpe.merge_ranks(BPE_MERGES_1K)
        cache: dict = {}            # per-batch word memoization: the
        # pre-token vocabulary repeats heavily, so each unique word runs
        # the merge loop once per Arrow batch
        out = np.empty(len(text), dtype=np.int64)
        for i, t in enumerate(text):
            out[i] = bpe.doc_token_count(t, ranks, cache)
        return pd.Series(out)

    return bpe_count


def q_bpe_token_counts(spark, sf_dir):
    """REAL merge-table BPE token counts (round-4 VERDICT item 4 — the
    previous version counted stage-1 pre-tokens only): stage 1 is the
    regex pre-tokenizer (bpe.PRETOKEN_RE: letter runs / digit runs /
    single punctuation, ASCII classes only), stage 2 applies the baked
    1,024-merge table (bpe_merges_1k.BPE_MERGES_1K, round-5 VERDICT item
    5 — trained offline on the deterministic synthetic rich corpus,
    applied fleet-wide: the deployment shape). Application is one
    Arrow-batched pandas UDF with per-batch word memoization — map-only,
    then a partial-agg groupBy(lang); at 100 TB this is scan-shaped with
    the merge table a task-local constant."""
    # spread() A/B: 0.62 -> 1.07 s at sf0.1 (the per-batch word memo
    # fragments: 32 small batches re-hash shared vocabulary that one
    # scan-fused batch stream memoizes once) vs 1.09 -> 0.60 s at 10x.
    # Left unspread: the memo effect dominates until per-doc work does.
    d = base_table(spark, sf_dir, "documents")
    bc = _bpe_count_udf()
    counted = d.select("lang", bc(F.col("text")).alias("n_tokens"))
    return (
        counted.groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
        .orderBy("lang")
    )


def baked_bpe_count_values() -> tuple[str, str]:
    """(sf_dir, VALUES body) of per-doc 1k-table BPE counts from the
    pure-Python mirror over the oracle SF's documents (read by
    ``tables.oracle_sf_rows``) — shared by the bpe_token_counts oracle
    here and the packed_sequences oracle (queries/corpus.py). The word
    memo is deterministic (same counts with or without it)."""
    from .. import bpe

    from ..bpe_merges_1k import BPE_MERGES_1K

    sf, rows = oracle_sf_rows("documents", "doc_id, text", "ORDER BY doc_id")
    ranks = bpe.merge_ranks(BPE_MERGES_1K)
    cache: dict = {}
    vals = ", ".join(
        f"({did}, {bpe.doc_token_count(t, ranks, cache)})" for did, t in rows
    )
    return sf, vals


def _oracle_bpe_tokens() -> str:
    """Per-doc BPE counts baked as VALUES (the k-means-centroid
    baked-literal technique, registered as a CALLABLE so the parquet read
    happens at oracle_sql() time on the driver); DuckDB independently
    re-joins the counts to documents and re-aggregates per lang."""
    sf, vals = baked_bpe_count_values()
    return f"""
-- per-doc BPE token counts mirrored from: {sf}/documents.parquet
WITH counts(doc_id, n_tokens) AS (VALUES {vals})
SELECT d.lang, CAST(sum(c.n_tokens) AS BIGINT) AS bpe_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(c.n_tokens) AS BIGINT) AS max_doc_tokens
FROM documents d JOIN counts c USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


# --- punctuation-ratio text confidence (T17 analogue) -----------------------------

def q_punct_ratio(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    ratio = F.round(n_punct / F.length("text"), 4)
    return (
        d.select("doc_id", ratio.alias("punct_ratio"))
        .where(F.col("doc_id") < 100)
        .orderBy("doc_id")
    )


ORACLE_PUNCT = """
SELECT doc_id,
       round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS punct_ratio
FROM documents WHERE doc_id < 100 ORDER BY doc_id
"""


# --- PII detection + redaction -------------------------------------------------
#
# Training-data scrubbing operator: detect and redact contact strings. The
# corpus is synthetic word-salad (no real PII), so deterministic synthetic
# contacts are injected doc_id-arithmetically first (the extract_* probe
# precedent), then detected/redacted with JVM-side regexp_count /
# regexp_replace — pure Column algebra, no Python in the loop, identical
# RE semantics in DuckDB (simple character-class patterns only; DuckDB
# regexp_replace needs the 'g' flag).

_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"


def q_pii_redact(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    injected = F.col("text")
    for j in (1, 2):          # doc_id % 3 ∈ {0,1,2} → 0-2 injected emails
        injected = F.concat(
            injected,
            F.when(
                F.col("doc_id") % 3 >= j,
                F.concat(F.lit(f" u{j}."), F.col("doc_id").cast("string"),
                         F.lit(f"@mail{j}.example.org")),
            ).otherwise(F.lit("")),
        )
    injected = F.concat(
        injected,
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.lit(" call +1-555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"),
                            4, "0")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(injected, _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE, "[PHONE]",
    )
    return (
        d.select(
            "doc_id",
            F.regexp_count(injected, F.lit(_EMAIL_RE)).cast("bigint")
            .alias("n_emails"),
            F.regexp_count(injected, F.lit(_PHONE_RE)).cast("bigint")
            .alias("n_phones"),
            F.length(redacted).cast("bigint").alias("redacted_len"),
            F.length(injected).cast("bigint").alias("raw_len"),
        )
        .where(F.col("doc_id") < 400)
        .orderBy("doc_id")
    )


ORACLE_PII = f"""
WITH probe AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 >= 1
            THEN ' u1.' || CAST(doc_id AS VARCHAR) || '@mail1.example.org'
            ELSE '' END
         || CASE WHEN doc_id % 3 >= 2
            THEN ' u2.' || CAST(doc_id AS VARCHAR) || '@mail2.example.org'
            ELSE '' END
         || CASE WHEN doc_id % 2 = 1
            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                         4, '0')
            ELSE '' END AS injected
  FROM documents WHERE doc_id < 400
)
SELECT doc_id,
       CAST(len(regexp_extract_all(injected, '{_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(injected, '{_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       CAST(length(regexp_replace(regexp_replace(injected, '{_EMAIL_RE}',
            '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g')) AS BIGINT)
         AS redacted_len,
       CAST(length(injected) AS BIGINT) AS raw_len
FROM probe ORDER BY doc_id
"""


# --- URL canonicalization dedup --------------------------------------------------
#
# Common-Crawl-lineage dedup starts BEFORE content hashing: normalize the
# URL (lowercase scheme+host, strip fragments and tracking params, collapse
# trailing slashes) and collapse the crawl's per-variant fetches. The
# corpus has no url column, so deterministic messy variants are injected
# doc_id-arithmetically (the pii_redact precedent): 5 syntactic variants of
# the same logical page, page identity doc_id % 97 so distinct docs collide.
# Pure map-only column algebra (regexp chains are JVM-side; identical
# simple-character-class semantics in RE2/DuckDB) + one groupBy — at 100 TB
# this fuses into the scan and shuffles only (canonical_url, count).
#
# Step order matters and is shared verbatim with the oracle:
#   1. strip #fragment            2. lowercase scheme://host (path case kept)
#   3. split query on '&', DROP utm_* params (param-boundary-aware: a
#      value merely containing 'utm_' is kept — regex stripping gets this
#      wrong) and empty params, rejoin   4. strip trailing '/'s on the path

_URL_FRAG_RE = "#.*"
_URL_PREFIX_RE = "^[^/?#]*//[^/?#]*"          # scheme://host[:port]
_URL_QUERY_RE = "[?].*"                       # first '?' to end
_URL_TRAIL_SLASH_RE = "/+$"


def canonical_url_expr(u):
    """Canonicalization as a Column expression (steps documented above)."""
    u = F.regexp_replace(u, _URL_FRAG_RE, "")
    u = F.concat(
        F.lower(F.regexp_extract(u, _URL_PREFIX_RE, 0)),
        F.regexp_replace(u, _URL_PREFIX_RE, ""),
    )
    base = F.regexp_replace(F.regexp_replace(u, _URL_QUERY_RE, ""),
                            _URL_TRAIL_SLASH_RE, "")
    params = F.filter(
        F.split(F.regexp_extract(u, "[?](.*)", 1), "&"),
        lambda p: (~p.startswith("utm_")) & (p != ""),
    )
    return F.concat(
        base,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )


def canonical_url_sql(u: str) -> str:
    """Same steps in DuckDB SQL (regexp_replace needs the 'g' flag)."""
    s = f"regexp_replace({u}, '{_URL_FRAG_RE}', '', 'g')"
    s = (f"(lower(regexp_extract({s}, '{_URL_PREFIX_RE}'))"
         f" || regexp_replace({s}, '{_URL_PREFIX_RE}', '', 'g'))")
    base = (f"regexp_replace(regexp_replace({s}, '{_URL_QUERY_RE}', '', 'g'),"
            f" '{_URL_TRAIL_SLASH_RE}', '', 'g')")
    params = (f"list_filter(string_split(regexp_extract({s}, '[?](.*)', 1),"
              f" '&'), p -> NOT starts_with(p, 'utm_') AND p <> '')")
    return (f"({base} || CASE WHEN len({params}) > 0"
            f" THEN '?' || array_to_string({params}, '&') ELSE '' END)")


def _injected_url_expr():
    p = (F.col("doc_id") % 97).cast("string")
    v = F.col("doc_id") % 5
    base = F.concat(F.lit("https://docs.example.com/page/"), p)
    return (
        F.when(v == 0, base)
        .when(v == 1, F.concat(F.lit("HTTPS://DOCS.Example.COM/page/"), p,
                               F.lit("#section-2")))
        .when(v == 2, F.concat(base, F.lit("/?utm_source=feed&utm_campaign=c"),
                               p))
        .when(v == 3, F.concat(base, F.lit("?ref=r"),
                               (F.col("doc_id") % 3).cast("string"),
                               F.lit("&utm_medium=email")))
        .otherwise(F.concat(base, F.lit("/")))
    )


def q_url_canonical_dups(spark, sf_dir):
    """URL-canonicalization dup groups: variants 0/1/2/4 of a page collapse
    onto one canonical url; variant 3 keeps its non-tracking ?ref= param
    and stays distinct. Output: canonical url, how many raw fetches and
    distinct raw spellings collapsed onto it, and the survivor doc_id."""
    d = base_table(spark, sf_dir, "documents").select(
        "doc_id", _injected_url_expr().alias("url"))
    return (
        d.select("doc_id", "url", canonical_url_expr(F.col("url"))
                 .alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.countDistinct("url").alias("n_raw_urls"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_fetches") > 1)
        .orderBy("canonical_url")
    )


_URL_INJECT_SQL = """
  CASE doc_id % 5
    WHEN 0 THEN 'https://docs.example.com/page/' || CAST(doc_id % 97 AS VARCHAR)
    WHEN 1 THEN 'HTTPS://DOCS.Example.COM/page/' || CAST(doc_id % 97 AS VARCHAR)
                || '#section-2'
    WHEN 2 THEN 'https://docs.example.com/page/' || CAST(doc_id % 97 AS VARCHAR)
                || '/?utm_source=feed&utm_campaign=c'
                || CAST(doc_id % 97 AS VARCHAR)
    WHEN 3 THEN 'https://docs.example.com/page/' || CAST(doc_id % 97 AS VARCHAR)
                || '?ref=r' || CAST(doc_id % 3 AS VARCHAR) || '&utm_medium=email'
    ELSE 'https://docs.example.com/page/' || CAST(doc_id % 97 AS VARCHAR) || '/'
  END
"""


def _oracle_url_canonical() -> str:
    return f"""
WITH raw AS (
  SELECT doc_id, {_URL_INJECT_SQL} AS url FROM documents
),
canon AS (
  SELECT doc_id, url, {canonical_url_sql('url')} AS canonical_url FROM raw
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_urls,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM canon GROUP BY canonical_url HAVING count(*) > 1
ORDER BY canonical_url
"""


QUERIES = {
    "url_canonical_dups": q_url_canonical_dups,
    "pii_redact": q_pii_redact,
    "doc_stats_by_lang": q_doc_stats_by_lang,
    "exact_dup_groups": q_exact_dup_groups,
    "dedup_survivors": q_dedup_survivors,
    "fingerprints": q_fingerprints,
    "quality_buckets": q_quality_buckets,
    "langid_heuristic": q_langid_heuristic,
    "tokens_by_source": q_tokens_by_source,
    "bpe_token_counts": q_bpe_token_counts,
    "punct_ratio": q_punct_ratio,
}

ORACLES = {
    "url_canonical_dups": _oracle_url_canonical,
    "pii_redact": ORACLE_PII,
    "doc_stats_by_lang": ORACLE_DOC_STATS,
    "exact_dup_groups": ORACLE_DUP_GROUPS,
    "dedup_survivors": ORACLE_DEDUP_SURVIVORS,
    "fingerprints": ORACLE_FINGERPRINTS,
    "quality_buckets": ORACLE_QUALITY,
    "langid_heuristic": ORACLE_LANGID,
    "tokens_by_source": ORACLE_TOKENS_BY_SOURCE,
    "bpe_token_counts": _oracle_bpe_tokens,
    "punct_ratio": ORACLE_PUNCT,
}
