"""Extended operator coverage (all oracle-checked).

Fills remaining SURVEY.md §2 rows with SQL-expressible equivalents so the
driver's correctness gate exercises them:

* A1 arg-max selection (``max_by`` — the best-OCR-result kernel,
  ocr/processor.py:313-345);
* W4 lag-based gap flags (reading-order-uncertain analogue,
  text_normalization.py:227-238);
* T10/T15 whitespace-normalize + sentence-split as Column algebra
  (postprocessor.py:413-432, text_utils.py:591-604);
* set ops (intersect), cross join, union-all;
* dense-rank windows; CASE bucketing (A5 staircase shape).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from martial_arts_ocr_spark.queries.tables import base_table


# --- A1 arg-max: biggest order per customer ----------------------------------

def q_argmax_order(spark, sf_dir):
    orders = base_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.max_by(
                "o_orderkey",
                F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
            ).alias("best_orderkey"),
            F.round(F.max("o_totalprice"), 2).alias("best_price"),
        )
        .orderBy("o_custkey")
    )


ORACLE_ARGMAX = """
SELECT o_custkey, o_orderkey AS best_orderkey,
       round(CAST(best_price AS DOUBLE), 2) AS best_price
FROM (
  SELECT o_custkey, o_orderkey,
         max(o_totalprice) OVER (PARTITION BY o_custkey) AS best_price,
         row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


# --- W4 lag-gap flag: users with any >6h silence then activity ----------------

def q_events_gap_flags(spark, sf_dir):
    # gap compared at MICROSECOND precision on both engines: Spark's
    # unix_timestamp truncates to whole seconds while DuckDB's epoch()
    # keeps the fraction, so a gap inside (21600, 21601) s diverged —
    # latent at sf0.01, red at sf0.1 (user 805 has a 21600.714 s gap).
    # TIMESTAMP_NTZ subtraction yields an exact day-time interval
    # (timezone-free); DuckDB mirrors with integer epoch_us.
    ev = base_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    big = gap > F.expr("INTERVAL 21600 SECOND")
    return (
        ev.withColumn("big_gap", big.cast("int"))
        .groupBy("user_id")
        .agg(F.sum(F.coalesce(F.col("big_gap"), F.lit(0)))
             .cast("bigint").alias("n_big_gaps"))
        .where(F.col("n_big_gaps") > 0)
        .orderBy("user_id")
    )


ORACLE_GAP_FLAGS = """
SELECT user_id, CAST(sum(big_gap) AS BIGINT) AS n_big_gaps
FROM (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id))
              > 21600000000::BIGINT
              THEN 1 ELSE 0 END AS big_gap
  FROM events
) GROUP BY user_id HAVING sum(big_gap) > 0 ORDER BY user_id
"""


# --- T10 whitespace normalize as SQL (cleanup-chain op, oracle-checked) -------

def q_whitespace_normalize(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        d.where(F.col("doc_id") < 80)
        .select("doc_id", F.md5(norm).alias("norm_hash"),
                F.length(norm).alias("norm_len"))
        .orderBy("doc_id")
    )


ORACLE_WS_NORM = """
SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_hash,
       CAST(length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS INTEGER) AS norm_len
FROM documents WHERE doc_id < 80 ORDER BY doc_id
"""


# --- T15 sentence split counts -------------------------------------------------

def q_sentence_counts(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.length(F.trim(s)) >= 3,
    )
    return (
        d.groupBy("lang")
        .agg(F.sum(F.size(sentences)).cast("bigint").alias("n_sentences"))
        .orderBy("lang")
    )


ORACLE_SENTENCES = """
SELECT lang,
       CAST(sum(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                s -> length(trim(s)) >= 3))) AS BIGINT) AS n_sentences
FROM documents GROUP BY lang ORDER BY lang
"""


# --- first-trigram head (token ops: split + slice + join) ----------------------

def q_doc_trigram_head(spark, sf_dir):
    d = base_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        d.where(F.col("doc_id") < 60)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head_trigram"),
        )
        .orderBy("doc_id")
    )


ORACLE_TRIGRAM = """
SELECT doc_id,
       array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3], ' ')
         AS head_trigram
FROM documents WHERE doc_id < 60 ORDER BY doc_id
"""


# --- intersect (M5 completeness) ------------------------------------------------

def q_custkeys_both_years(spark, sf_dir):
    orders = base_table(spark, sf_dir, "orders")
    y96 = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_custkey")
    y97 = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_custkey")
    return y96.intersect(y97).orderBy("o_custkey")


ORACLE_INTERSECT = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
ORDER BY o_custkey
"""


# --- cross join (small dims) -----------------------------------------------------

def q_region_nation_matrix(spark, sf_dir):
    region = base_table(spark, sf_dir, "region")
    nation = base_table(spark, sf_dir, "nation")
    return (
        region.crossJoin(nation)
        .select("r_name", "n_name",
                (F.col("n_regionkey") == F.col("r_regionkey"))
                .alias("is_member"))
        .orderBy("r_name", "n_name")
    )


ORACLE_MATRIX = """
SELECT r_name, n_name, (n_regionkey = r_regionkey) AS is_member
FROM region CROSS JOIN nation
ORDER BY r_name, n_name
"""


# --- union all across tables (structural union) ----------------------------------

def q_party_balances_union(spark, sf_dir):
    cust = base_table(spark, sf_dir, "customer")
    supp = base_table(spark, sf_dir, "supplier")
    c = cust.select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("party_key"),
        F.round("c_acctbal", 2).alias("balance"),
    )
    s = supp.select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("party_key"),
        F.round("s_acctbal", 2).alias("balance"),
    )
    return c.unionByName(s).orderBy("kind", "party_key")


ORACLE_PARTY_UNION = """
SELECT 'customer' AS kind, c_custkey AS party_key,
       round(CAST(c_acctbal AS DOUBLE), 2) AS balance FROM customer
UNION ALL
SELECT 'supplier' AS kind, s_suppkey AS party_key,
       round(CAST(s_acctbal AS DOUBLE), 2) AS balance FROM supplier
ORDER BY kind, party_key
"""


# --- dense-rank windows -----------------------------------------------------------

def q_top_users_per_event_type(spark, sf_dir):
    ev = base_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("event_type", "user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return (
        per_user.withColumn("rnk", F.dense_rank().over(w))
        .where(F.col("rnk") <= 3)
        .orderBy("event_type", "rnk", "user_id")
    )


ORACLE_TOP_USERS = """
SELECT event_type, user_id, total_value, rnk FROM (
  SELECT event_type, user_id,
         round(CAST(sum(value) AS DOUBLE), 2) AS total_value,
         CAST(dense_rank() OVER (PARTITION BY event_type
              ORDER BY round(CAST(sum(value) AS DOUBLE), 2) DESC, user_id ASC)
              AS INTEGER) AS rnk
  FROM events GROUP BY event_type, user_id
) WHERE rnk <= 3
ORDER BY event_type, rnk, user_id
"""


# --- CASE bucketing (A5 staircase shape over part sizes) ---------------------------

def q_part_size_buckets(spark, sf_dir):
    """CASE bucketing with an INTEGER-exact price aggregate: prices are
    cent-exact, so the emitted total is round(sum·100) cents — summation-
    order wobble (~1e-7) can never flip it, unlike the previous
    round(avg, 2) whose uncontrolled denominator was measured 7.8e-4 from
    a confirmed Spark-vs-DuckDB rounding-tie divergence (round-4 review;
    the CLAUDE.md round-2 rule: invert uncontrolled ratios to integers).
    Consumers derive avg as sum_price_cents / n / 100."""
    part = base_table(spark, sf_dir, "part")
    bucket = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
    )
    return (
        part.groupBy(bucket.alias("size_bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("p_retailprice") * 100), 0)
             .cast("bigint").alias("sum_price_cents"))
        .orderBy("size_bucket")
    )


ORACLE_SIZE_BUCKETS = """
SELECT CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(p_retailprice * 100), 0) AS BIGINT) AS sum_price_cents
FROM part GROUP BY 1 ORDER BY 1
"""


# --- sliding event-time windows (streaming-shaped batch op) --------------------

def q_events_sliding_windows(spark, sf_dir):
    """10-minute windows sliding every 5 minutes (each event in 2 windows)
    — F.window with slide; oracle = union of the two tumbling grids."""
    ev = base_table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
        .orderBy("window_start")
    )


# window starts via NAIVE-timestamp interval arithmetic: the old
# to_timestamp(...)::TIMESTAMP round-trip passed through TIMESTAMPTZ and
# applied the DuckDB session TimeZone, shifting every window by the UTC
# offset on any non-UTC host while Spark's F.window on TIMESTAMP_NTZ is
# TZ-free (review-found; green before only because this box is UTC)
ORACLE_SLIDING = """
WITH assigned AS (
  SELECT TIMESTAMP '1970-01-01'
           + to_seconds(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT))
           AS window_start, value FROM events
  UNION ALL
  SELECT TIMESTAMP '1970-01-01'
           + to_seconds(CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT))
           AS window_start, value FROM events
)
SELECT window_start, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM assigned GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "argmax_order": q_argmax_order,
    "events_sliding_windows": q_events_sliding_windows,
    "events_gap_flags": q_events_gap_flags,
    "whitespace_normalize": q_whitespace_normalize,
    "sentence_counts": q_sentence_counts,
    "doc_trigram_head": q_doc_trigram_head,
    "custkeys_both_years": q_custkeys_both_years,
    "region_nation_matrix": q_region_nation_matrix,
    "party_balances_union": q_party_balances_union,
    "top_users_per_event_type": q_top_users_per_event_type,
    "part_size_buckets": q_part_size_buckets,
}

ORACLES = {
    "argmax_order": ORACLE_ARGMAX,
    "events_sliding_windows": ORACLE_SLIDING,
    "events_gap_flags": ORACLE_GAP_FLAGS,
    "whitespace_normalize": ORACLE_WS_NORM,
    "sentence_counts": ORACLE_SENTENCES,
    "doc_trigram_head": ORACLE_TRIGRAM,
    "custkeys_both_years": ORACLE_INTERSECT,
    "region_nation_matrix": ORACLE_MATRIX,
    "party_balances_union": ORACLE_PARTY_UNION,
    "top_users_per_event_type": ORACLE_TOP_USERS,
    "part_size_buckets": ORACLE_SIZE_BUCKETS,
}
