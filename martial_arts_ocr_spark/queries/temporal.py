"""Temporal operators: point-in-time (as-of) join + exact quantiles.

* **As-of join** (`events_asof_purchase`): each ``click`` event is joined
  to the same user's most recent ``purchase`` at or before its timestamp —
  the classic point-in-time enrichment every event pipeline needs (the
  reference's nearest-previous-anchor selection in region consolidation,
  ``utils/image/layout/consolidation.py``, is the same shape over pixel
  offsets). Spark has no ASOF JOIN operator; the **scale-correct
  formulation is a union + one window**, NOT a range join: tag both
  streams, single shuffle on ``user_id``, then ``last(value, ignorenulls)``
  over ``ORDER BY (ts, event_id) ROWS UNBOUNDED PRECEDING``. One shuffle,
  no O(clicks × purchases) intermediate, AQE-safe — this plan survives
  100 TB of events because it is exactly a sort within user partitions.
  The DuckDB oracle uses the same deterministic window semantics
  (``last_value IGNORE NULLS``), which equals ASOF JOIN with the
  (ts, event_id) tie-break made explicit.

* **Exact quantiles** (`doc_length_percentiles`): per-language p50/p90/p99
  of document length via ``percentile()`` (exact, linear interpolation —
  identical definition to DuckDB ``quantile_cont``). At 100 TB you would
  swap in ``approx_percentile`` (t-digest, single pass, mergeable); the
  exact form is registered because the driver gate hash-compares values.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from martial_arts_ocr_spark.queries.tables import base_table


# --- as-of join: click → most recent prior purchase of the same user ---------

def q_events_asof_purchase(spark, sf_dir):
    ev = base_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(
        F.col("event_type") == "purchase", F.col("value")
    )
    purchase_id = F.when(
        F.col("event_type") == "purchase", F.col("event_id")
    )
    enriched = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(purchase_val, ignorenulls=True).over(w).alias("_pv"),
        F.last(purchase_id, ignorenulls=True).over(w).alias("_pid"),
    )
    return (
        enriched.where(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("_pid"), F.lit(-1)).cast("bigint")
            .alias("asof_purchase_id"),
            F.round(F.coalesce(F.col("_pv"), F.lit(0.0)), 4)
            .alias("asof_purchase_value"),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF = """
WITH enriched AS (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN value END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS pv,
         last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS pid
  FROM events
)
SELECT event_id, user_id,
       CAST(coalesce(pid, -1) AS BIGINT) AS asof_purchase_id,
       round(CAST(coalesce(pv, 0.0) AS DOUBLE), 4) AS asof_purchase_value
FROM enriched WHERE event_type = 'click' ORDER BY event_id
"""


# --- exact per-language length percentiles ------------------------------------

def q_doc_length_percentiles(spark, sf_dir):
    docs = base_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99"),
        )
        .orderBy("lang")
    )


ORACLE_PCTL = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(n_chars, 0.9) AS DOUBLE), 4) AS p90,
       round(CAST(quantile_cont(n_chars, 0.99) AS DOUBLE), 4) AS p99
FROM documents GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "events_asof_purchase": q_events_asof_purchase,
    "doc_length_percentiles": q_doc_length_percentiles,
}

ORACLES = {
    "events_asof_purchase": ORACLE_ASOF,
    "doc_length_percentiles": ORACLE_PCTL,
}
