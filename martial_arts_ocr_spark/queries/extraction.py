"""Extraction-pipeline queries for the driver harness.

The flagship surface: wraps each `documents` row into a deterministic HTML
page (same template the seeded fixture generator uses), then runs the full
extraction job (engine/job.py) over it — so the driver's smoke/rows checks
exercise the real kernel + mapInPandas path on driver-provided data.

``extract_roundtrip`` additionally has a DuckDB oracle: the synthesized
page's main content is exactly the document text, and the kernel's cleanup
chain is the identity on this clean corpus — so extracted n_blocks and text
length are SQL-predictable. That turns the whole parse→score→consensus→
assemble pipeline into an oracle-checked operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martial_arts_ocr_spark.queries.tables import base_table

from ..engine.job import run_extract, with_host

# Deterministic page template: nav + cookie chrome (must be stripped), one
# h1 = source, one p per 600-char chunk of text, footer (stripped).
_CHUNK = 600


# Probe injections (deterministic, keyed on doc_id) that make kernel
# outputs SQL-predictable. Measured constants — see tests/test_query_gate:
# _JA_SENT contributes exactly 13 ja chars / 1 contiguous segment /
# 3 term hits (武道, 稽古, 道場); _MACRON_SENT yields candidates at fixed
# offsets 4 (Daito-ryu) and 37 (dojo).
HOT_PROBE_HOST = "hot.example.com"     # skew probe: 30% of rows (§7.4)

_JA_SENT = "武道の稽古は道場で行われる。"
_JA_CHARS = 13
_JA_ROMAJI = "budōno稽kohadōbade行wareru"
_JA_TRANSLATION = "武道の稽古は道場で行われる"
_MACRON_SENT = "The Daito-ryu tradition lives in the dojo hall."
_FIG_SEP = "Separator paragraph keeps figure spans apart."

# template literal segments — shared between the Spark concat and the
# byte-count formula of the lineage oracle (queries/lineage.py), so the
# two can never drift apart
_TPL_HEAD1 = '<html><head><meta charset="utf-8"><title>'
_TPL_HEAD2 = (
    "</title></head><body>"
    '<nav class="nav"><a href="/">Home</a> <a href="/a">About</a> '
    '<a href="/b">Contact</a> <a href="/c">Help</a></nav>'
    "<article><h1>"
)
_TPL_MID = "</h1>"
_TPL_P_OPEN = "<p>"
_TPL_P_CLOSE = "</p>"
_TPL_TAIL = (
    "</article>"
    '<footer class="footer">© 2024 Example. All rights reserved. | '
    '<a href="/p">Privacy Policy</a></footer></body></html>'
)
# utf-8 bytes of the constant page skeleton (© is 2 bytes); per-page html
# bytes = this + 2·len(source) + len(text) + 7·floor(len(text)/600)
# (the '</p><p>' insert fires after every FULL 600-char group, including a
# trailing one that yields no block)
TEMPLATE_CONST_BYTES = len(
    (_TPL_HEAD1 + _TPL_HEAD2 + _TPL_MID + _TPL_P_OPEN + _TPL_P_CLOSE
     + _TPL_TAIL).encode("utf-8")
)


def _pages_from_documents(
    spark: SparkSession,
    sf_dir: str,
    inject_ja: bool = False,
    inject_figs: bool = False,
    inject_macrons: bool = False,
    host_from_doc: bool = False,
    hot_host: bool = False,
) -> DataFrame:
    d = base_table(spark, sf_dir, "documents")
    # JVM-side HTML synthesis: concat of literals — no Python
    chunks = F.regexp_replace(
        F.col("text"), "(.{" + str(_CHUNK) + "})", "$1</p><p>"
    )
    ja_para = (
        F.when((F.col("doc_id") % 2) == 0, F.lit(f"<p>{_JA_SENT}</p>"))
        .otherwise(F.lit(""))
        if inject_ja else F.lit("")
    )
    macron_para = (
        F.lit(f"<p>{_MACRON_SENT}</p>") if inject_macrons else F.lit("")
    )
    figs = F.lit("")
    if inject_figs:
        # 1 + doc_id % 3 figures, each followed by a separator paragraph so
        # the span merge (gap ≤ 12) never joins adjacent figure regions
        one = [
            F.when(
                (1 + F.col("doc_id") % 3) >= k,
                F.concat(
                    F.lit(f'<figure><img src="f{k}.png" alt="">'
                          f"<figcaption>Fig. {k} doc "),
                    F.col("doc_id"),
                    F.lit(f"</figcaption></figure><p>{_FIG_SEP}</p>"),
                ),
            ).otherwise(F.lit(""))
            for k in (1, 2, 3)
        ]
        figs = F.concat(*one)
    if hot_host:
        # SURVEY §7.4 skew scenario: one host carries 30% of the corpus
        host = F.when(
            (F.col("doc_id") % 10) < 3,
            F.concat(F.lit(f"https://{HOT_PROBE_HOST}/"), F.col("doc_id")),
        ).otherwise(
            F.concat(F.lit("https://h"), F.col("doc_id") % 7,
                     F.lit(".example.com/"), F.col("doc_id"))
        )
    elif host_from_doc:
        host = F.concat(F.lit("https://h"), F.col("doc_id") % 7,
                        F.lit(".example.com/"), F.col("doc_id"))
    else:
        host = F.concat(F.lit("https://docs.example.com/"), F.col("doc_id"))
    html_str = F.concat(
        F.lit(_TPL_HEAD1),
        F.col("source"),
        F.lit(_TPL_HEAD2),
        F.col("source"),
        F.lit(_TPL_MID),
        macron_para,           # first body para → macron offsets are
        F.lit(_TPL_P_OPEN),    # independent of the document text length
        chunks,
        F.lit(_TPL_P_CLOSE),
        ja_para,
        figs,
        F.lit(_TPL_TAIL),
    )
    return d.select(
        host.alias("url"),
        html_str.cast("binary").alias("html"),
        F.col("lang"),
        F.col("doc_id"),
    )


def _run_extract_salted(spark, pages, hosts=("docs.example.com",)):
    """The synthesized corpora have 1-7 known hosts — low-cardinality keys
    are exactly the skew the engine's salting exists for (an unsalted run
    of the single-host corpus pins ALL pages to one partition). Salt every
    known host into 4·parallelism sub-keys so the kernel runs on every
    core; byte-identity across partitionings is the pinned invariant, so
    outputs are unchanged. Call sites must pass the hosts their template
    actually generates (the default matches the docs.example.com corpora).
    """
    sb = 4 * spark.sparkContext.defaultParallelism
    return run_extract(
        pages.select("url", "html", "lang"),
        hot_hosts=list(hosts),
        salt_buckets=sb,
    )


_SEVEN_HOSTS = tuple(f"h{i}.example.com" for i in range(7))


def q_extract_documents(spark, sf_dir):
    """Full extraction over synthesized pages — the flagship, oracle-exact.

    Every output column is template-predictable on the synthesized corpus
    (same argument as ``extract_roundtrip``/``host_profiles``): block and
    rejection counts follow the page skeleton, extracted length follows the
    chunking formula, and quality reduces to the A5 staircase's word-count
    arm because consensus confidence is ≥0.9 on clean template pages (>0.8
    with wide margin — pinned by test_flagship_quality_margin)."""
    pages = _pages_from_documents(spark, sf_dir)
    out = _run_extract_salted(spark, pages)
    return out.select(
        "url", "status",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.col("n_rejected").cast("bigint").alias("n_rejected"),
        "lang_detected", "quality",
        F.length("text").cast("bigint").alias("text_len"),
    ).orderBy("url")


# Quality staircase (kernel/pipeline.py:215-220): 'high' needs confidence
# ≥0.8 AND n_words ≥50. On template pages consensus confidence is 0.90-0.93
# (both extractors agree on every block; test_flagship_quality_margin pins
# the ≥0.8 margin), so quality is exactly the word-count test — including
# the 'low' arm (n_chars<20 OR n_words<5, pipeline.py:215) so a short-text
# corpus doc cannot silently diverge (round-3 ADVICE). n_words of
# the extracted text = words(title) + words(h1) + words(text), plus one
# extra word per 600-char chunk boundary that lands strictly inside a word
# (the '</p><p>' insert splits it) — validated char-exact vs the kernel.
ORACLE_EXTRACT_DOCUMENTS = """
WITH d AS (
  SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
         source, text,
         CAST(ceil(length(text) / 600.0) AS BIGINT) AS n_chunks
  FROM documents
),
w AS (
  SELECT url, source, text, n_chunks,
         2 * len(regexp_split_to_array(trim(source), '\\s+'))
         + len(regexp_split_to_array(trim(text), '\\s+'))
         + len(list_filter(
               CASE WHEN n_chunks >= 2
                    THEN generate_series(1, n_chunks - 1) ELSE [] END,
               i -> NOT regexp_matches(substr(text, 600*i, 1), '\\s')
                AND NOT regexp_matches(substr(text, 600*i + 1, 1), '\\s')))
           AS n_words
  FROM d
)
SELECT url,
       'completed' AS status,
       CAST(2 + n_chunks AS BIGINT) AS n_blocks,
       CAST(2 AS BIGINT) AS n_rejected,
       'en' AS lang_detected,
       CASE WHEN 2 * length(source) + 4 + length(text) + 2 * (n_chunks - 1)
                 < 20 OR n_words < 5 THEN 'low'
            WHEN n_words >= 50 THEN 'high'
            ELSE 'medium' END AS quality,
       CAST(2 * length(source) + 4 + length(text) + 2 * (n_chunks - 1)
            AS BIGINT) AS text_len
FROM w ORDER BY url
"""


def q_extract_with_invalid_rows(spark, sf_dir):
    """P1 validity gate at the registry surface, oracle-exact: every
    doc_id % 5 == 0 page is submitted with EMPTY html; run_extract's gate
    must drop exactly those rows before the UDF (no 'failed' rows, no
    wasted kernel work), leaving the surviving pages' counts exact."""
    pages = _pages_from_documents(spark, sf_dir)
    pages = pages.withColumn(
        "html",
        F.when(F.col("doc_id") % 5 == 0, F.lit("").cast("binary"))
        .otherwise(F.col("html")),
    )
    out = _run_extract_salted(spark, pages)
    return out.select(
        "url", "status",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
    ).orderBy("url")


ORACLE_INVALID_ROWS = """
SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
       'completed' AS status,
       CAST(2 + CAST(ceil(length(text) / 600.0) AS BIGINT) AS BIGINT)
         AS n_blocks
FROM documents WHERE doc_id % 5 <> 0 ORDER BY url
"""


def q_extract_hot_host(spark, sf_dir):
    """Skew-stress extraction (SURVEY §7.4): one host carries 30% of the
    corpus and is salted into 8 sub-keys (`hot_hosts` path of run_extract),
    so no partition is pinned by the hot host. Oracle-exact per-host
    aggregates prove the salted run still produces exactly the right rows;
    the partition-balance invariant itself is machine-checked in
    tests/test_skew_salting.py::test_hot_host_metrics_balance (via the
    checkpointed metrics table) and the salt key's presence in the
    Exchange is plan-locked in tests/test_plan_properties.py."""
    pages = _pages_from_documents(spark, sf_dir, hot_host=True)
    out = run_extract(
        pages.select("url", "html", "lang"),
        hot_hosts=[HOT_PROBE_HOST],
        salt_buckets=8,
    )
    return (
        out.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        )
        .orderBy("host")
    )


ORACLE_HOT_HOST = """
WITH d AS (
  SELECT CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
              ELSE 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
         END AS host,
         2 * length(source) + 4 + length(text)
         + 2 * (CAST(ceil(length(text) / 600.0) AS BIGINT) - 1) AS len
  FROM documents
)
SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len) AS BIGINT) AS sum_text_len
FROM d GROUP BY host ORDER BY host
"""


def q_extract_roundtrip(spark, sf_dir):
    """Oracle-checked extraction: page built from document text must
    extract back to (title + text), chrome stripped, block count = 1 (h1)
    + 1 (title) + ceil(len/600) paragraphs."""
    pages = _pages_from_documents(spark, sf_dir)
    out = _run_extract_salted(spark, pages)
    return out.select(
        "url", "status",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.col("n_rejected").cast("bigint").alias("n_rejected"),
    ).orderBy("url")


ORACLE_ROUNDTRIP = """
SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
       'completed' AS status,
       -- title + h1 + paragraphs (text split every 600 chars)
       CAST(2 + CAST(ceil(length(text) / 600.0) AS BIGINT) AS BIGINT) AS n_blocks,
       CAST(2 AS BIGINT) AS n_rejected   -- nav + footer
FROM documents ORDER BY url
"""


def q_extract_ja_segments(spark, sf_dir):
    """Japanese-script path, oracle-checked: every even doc_id gets one
    known ja sentence injected; segment count, term count, romaji,
    translation, and ja_ratio (= 13 / (13 + latin chars)) are then exact
    SQL. Exercises L1/L2/L7/L8/J4 end-to-end through the real kernel."""
    pages = _pages_from_documents(spark, sf_dir, inject_ja=True)
    out = _run_extract_salted(spark, pages)
    # ja_ratio itself is banker's-rounded to 6 decimals in the kernel, which
    # ties against DuckDB's half-up round for power-of-two denominators
    # (13/128 = 0.1015625); invert it instead — round(13/ratio) recovers the
    # scriptful char count (ja + latin) integer-exactly for any denominator
    # below ~3600, making the check exact rather than rounding-fragile.
    scriptful = F.round(F.lit(float(_JA_CHARS)) / F.col("ja_ratio")) \
        .cast("bigint")
    return (
        out.where(F.col("ja_ratio") > 0)
        .select(
            "url", "lang_detected",
            scriptful.alias("scriptful_chars"),
            F.size("segments").cast("bigint").alias("n_segments"),
            F.size("term_hits").cast("bigint").alias("n_terms"),
            "romaji", "translation",
        )
        .orderBy("url")
    )


ORACLE_JA = f"""
SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
       'en' AS lang_detected,
       CAST({_JA_CHARS}
            + 2 * length(regexp_replace(source, '[^A-Za-z]', '', 'g'))
            + length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
         AS scriptful_chars,
       CAST(1 AS BIGINT) AS n_segments,
       CAST(3 AS BIGINT) AS n_terms,
       '{_JA_ROMAJI}' AS romaji,
       '{_JA_TRANSLATION}' AS translation
FROM documents WHERE doc_id % 2 = 0 ORDER BY url
"""


def q_extract_figures(spark, sf_dir):
    """Figure-region extraction, oracle-checked: 1 + doc_id % 3 figures
    injected per page with known captions → region_id/reading_order/caption
    are exact SQL (S5/D1 + W5 reading order)."""
    pages = _pages_from_documents(spark, sf_dir, inject_figs=True)
    out = _run_extract_salted(spark, pages)
    figs = out.select("url", F.explode("figures").alias("f"))
    return figs.select(
        "url",
        F.col("f.region_id").cast("bigint").alias("region_id"),
        F.col("f.region_type").alias("region_type"),
        F.col("f.caption").alias("caption"),
        F.col("f.reading_order").cast("bigint").alias("reading_order"),
    ).orderBy("url", "region_id")


ORACLE_FIGURES = """
SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(k AS BIGINT) AS region_id,
       'figure' AS region_type,
       'Fig. ' || CAST(k AS VARCHAR) || ' doc ' || CAST(doc_id AS VARCHAR)
         AS caption,
       CAST(k AS BIGINT) AS reading_order
FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) ks
WHERE k <= 1 + doc_id % 3
ORDER BY url, region_id
"""


def q_extract_macron_candidates(spark, sf_dir):
    """Macron candidates, oracle-checked: the probe sentence is the FIRST
    body paragraph, so candidate char offsets depend only on len(source)
    (J5: span-anchored, ambiguity-marked, text never mutated)."""
    pages = _pages_from_documents(spark, sf_dir, inject_macrons=True)
    out = _run_extract_salted(spark, pages)
    mc = out.select("url", F.explode("macron_candidates").alias("m"))
    return mc.select(
        "url",
        F.col("m.observed").alias("observed"),
        F.col("m.candidate").alias("candidate"),
        F.col("m.start").cast("bigint").alias("start"),
        F.col("m.ambiguous").alias("ambiguous"),
    ).orderBy("url", "start", "candidate")


# offsets within _MACRON_SENT: "Daito-ryu" at 4, "dojo" at 37; the probe
# paragraph starts after "<title>\n\n<h1>" = 2*len(source) + 4 chars
ORACLE_MACRONS = """
WITH m AS (
  SELECT 'https://docs.example.com/' || CAST(doc_id AS VARCHAR) AS url,
         2 * length(source) + 4 AS base
  FROM documents
)
SELECT url, observed, candidate, CAST(base + off AS BIGINT) AS start,
       FALSE AS ambiguous
FROM m CROSS JOIN (
  SELECT * FROM (VALUES ('Daito-ryu', 'Daitō-ryū', 4),
                        ('dojo', 'dōjō', 37)) v(observed, candidate, off)
) c
ORDER BY url, start, candidate
"""


def q_host_profiles(spark, sf_dir):
    """Per-host extraction profile via groupBy().applyInPandas — the
    grouped-map UDF surface (SURVEY §2.13): median/p90 per group need
    within-group vectorized computation, not just built-in aggs.
    Oracle-checked: hosts derive from doc_id % 7 and extracted text length
    is template-predictable; linear-interpolation quantiles match DuckDB's
    quantile_cont exactly.

    SKEW NOTE (round-4 VERDICT residual 3): applyInPandas funnels each
    host's rows into ONE task — on a genuinely hot host at 100 TB that
    task is the straggler. The hot-host-safe variant is
    ``host_profiles_approx`` below: built-in ``percentile_approx`` runs
    as a two-level partial aggregation (per-partition sketches merged at
    the reduce), so no single task ever sees a whole host; it trades
    exact linear-interpolation quantiles for sketch-accuracy ones
    (tolerance pinned by tests/test_host_profiles_approx.py). Same
    policy as doc_length_percentiles (temporal.py): exact at demo scale,
    approx as the documented 100 TB path."""
    import pandas as pd

    pages = _pages_from_documents(
        spark, sf_dir, inject_ja=True, host_from_doc=True
    )
    out = _run_extract_salted(spark, pages, hosts=_SEVEN_HOSTS)

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        lens = pdf["text"].str.len()
        return pd.DataFrame({
            "host": [pdf["host"].iloc[0]],
            "n_docs": [len(pdf)],
            "median_len": [round(float(lens.median()), 4)],
            "p90_len": [round(float(lens.quantile(0.9)), 4)],
            "n_ja": [int((pdf["ja_ratio"] > 0).sum())],
        })

    return (
        out.select("host", "text", "ja_ratio")
        .groupBy("host")
        .applyInPandas(
            profile,
            "host string, n_docs long, median_len double, p90_len double, "
            "n_ja long",
        )
        .orderBy("host")
    )


def host_profiles_approx(spark, sf_dir, accuracy: int = 10000):
    """Hot-host-safe variant of q_host_profiles (see its SKEW NOTE): the
    same profile through built-in aggregates only — percentile_approx's
    sketch merges as a two-level partial aggregation, so a hot host's
    rows stay distributed across tasks instead of funneling into one
    grouped-map call. Not registered (the grouped-map query IS the
    designated §2.13 demo); tests pin it within sketch tolerance of the
    exact quantiles at sf0.01."""
    pages = _pages_from_documents(
        spark, sf_dir, inject_ja=True, host_from_doc=True
    )
    out = _run_extract_salted(spark, pages, hosts=_SEVEN_HOSTS)
    length = F.length("text").cast("double")
    return (
        out.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.percentile_approx(length, 0.5, accuracy).alias("median_len"),
            F.percentile_approx(length, 0.9, accuracy).alias("p90_len"),
            F.sum(F.when(F.col("ja_ratio") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_ja"),
        )
        .orderBy("host")
    )


# extracted length = title + h1 (source twice, "\n\n"-joined) + text chunks
# + the injected ja paragraph (len("\n\n") + len(_JA_SENT) = 16) on even ids
ORACLE_HOST_PROFILES = """
WITH d AS (
  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         CAST(2 * length(source) + 4 + length(text)
              + 2 * (CAST(ceil(length(text) / 600.0) AS BIGINT) - 1)
              + CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 0 END AS DOUBLE) AS len,
         (doc_id % 2 = 0) AS is_ja
  FROM documents
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(quantile_cont(len, 0.5) AS DOUBLE), 4) AS median_len,
       round(CAST(quantile_cont(len, 0.9) AS DOUBLE), 4) AS p90_len,
       CAST(sum(CASE WHEN is_ja THEN 1 ELSE 0 END) AS BIGINT) AS n_ja
FROM d GROUP BY host ORDER BY host
"""


QUERIES = {
    "extract_documents": q_extract_documents,
    "extract_hot_host": q_extract_hot_host,
    "extract_with_invalid_rows": q_extract_with_invalid_rows,
    "host_profiles": q_host_profiles,
    "extract_roundtrip": q_extract_roundtrip,
    "extract_ja_segments": q_extract_ja_segments,
    "extract_figures": q_extract_figures,
    "extract_macron_candidates": q_extract_macron_candidates,
}

ORACLES = {
    "extract_documents": ORACLE_EXTRACT_DOCUMENTS,
    "extract_hot_host": ORACLE_HOT_HOST,
    "extract_with_invalid_rows": ORACLE_INVALID_ROWS,
    "extract_roundtrip": ORACLE_ROUNDTRIP,
    "extract_ja_segments": ORACLE_JA,
    "extract_figures": ORACLE_FIGURES,
    "extract_macron_candidates": ORACLE_MACRONS,
    "host_profiles": ORACLE_HOST_PROFILES,
}
