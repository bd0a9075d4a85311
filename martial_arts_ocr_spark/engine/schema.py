"""Declared-once Spark schemas (SURVEY.md §1.2 data-model mapping).

The reference serializes frozen dataclasses to nested dicts per document
(``/root/reference/src/martial_arts_ocr/pipeline/document_models.py:
150-191``); here the same shape is a single ``StructType`` declared once —
Arrow handles serialization, Catalyst prunes unused nested fields.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

SEGMENT_T = T.StructType([
    T.StructField("text", T.StringType(), True),
    T.StructField("script_type", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
])

TERM_HIT_T = T.StructType([
    T.StructField("term", T.StringType(), True),
    T.StructField("romaji", T.StringType(), True),
    T.StructField("translation", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("pos", T.IntegerType(), True),
])

MACRON_T = T.StructType([
    T.StructField("observed", T.StringType(), True),
    T.StructField("candidate", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
    T.StructField("ambiguous", T.BooleanType(), True),
])

FIGURE_T = T.StructType([
    T.StructField("region_id", T.IntegerType(), True),
    T.StructField("region_type", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("reading_order", T.IntegerType(), True),
])

STATS_T = T.StructType([
    T.StructField("n_chars", T.IntegerType(), True),
    T.StructField("n_words", T.IntegerType(), True),
    T.StructField("n_lines", T.IntegerType(), True),
    T.StructField("n_paragraphs", T.IntegerType(), True),
    T.StructField("n_sentences", T.IntegerType(), True),
    T.StructField("avg_word_len", T.DoubleType(), True),
    T.StructField("reading_time_min", T.DoubleType(), True),
])

CLEANING_T = T.StructType([
    T.StructField("original_chars", T.IntegerType(), True),
    T.StructField("cleaned_chars", T.IntegerType(), True),
    T.StructField("chars_removed", T.IntegerType(), True),
    T.StructField("words_before", T.IntegerType(), True),
    T.StructField("words_after", T.IntegerType(), True),
    T.StructField("compression_ratio", T.DoubleType(), True),
])

LAYOUT_T = T.StructType([
    T.StructField("n_blocks_total", T.IntegerType(), True),
    T.StructField("n_accepted", T.IntegerType(), True),
    T.StructField("n_figure_blocks", T.IntegerType(), True),
    T.StructField("content_coverage", T.DoubleType(), True),
    T.StructField("figure_coverage", T.DoubleType(), True),
    T.StructField("chrome_coverage", T.DoubleType(), True),
])

LANG_SEGMENT_T = T.StructType([
    T.StructField("lang", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("encoding", T.StringType(), True),
    T.StructField("n_bytes_in", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("n_rejected", T.IntegerType(), True),
    T.StructField("n_review", T.IntegerType(), True),
    T.StructField("n_refined", T.IntegerType(), True),
    T.StructField("decision_source", T.StringType(), True),
    T.StructField("reading_order_uncertain", T.BooleanType(), True),
    T.StructField("lang_detected", T.StringType(), True),
    T.StructField("ja_ratio", T.DoubleType(), True),
    T.StructField("is_mixed", T.BooleanType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("quality", T.StringType(), True),
    T.StructField("segments", T.ArrayType(SEGMENT_T), True),
    T.StructField("romaji", T.StringType(), True),
    T.StructField("translation", T.StringType(), True),
    T.StructField("term_hits", T.ArrayType(TERM_HIT_T), True),
    T.StructField("macron_candidates", T.ArrayType(MACRON_T), True),
    T.StructField("figures", T.ArrayType(FIGURE_T), True),
    T.StructField("stats", STATS_T, True),
    T.StructField("cleaning", CLEANING_T, True),
    T.StructField("layout", LAYOUT_T, True),
    T.StructField("language_segments", T.ArrayType(LANG_SEGMENT_T), True),
])

# resume.py writes the metrics/checkpoints tables through these schemas
# (column order + types are the contract the lineage queries read back).
# Every checkpoint table is laid out run_id, <keys>, snapshot_id, status
# (catalog.WaveLog reads its keys from that layout).
METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("part_bucket", T.IntegerType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("n_completed", T.LongType(), False),
    T.StructField("n_failed", T.LongType(), False),
    T.StructField("n_bytes_in", T.LongType(), False),
    T.StructField("n_chars_out", T.LongType(), False),
])

CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("part_bucket", T.IntegerType(), False),
    T.StructField("snapshot_id", T.StringType(), True),
    T.StructField("status", T.StringType(), False),
])

# curate.py's pack and mixture checkpoint tables (every column nullable,
# as they were first written from DDL strings)
PACK_CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), True),
    T.StructField("bucket", T.IntegerType(), True),
    T.StructField("snapshot_id", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
])

MIX_CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), True),
    T.StructField("epoch", T.IntegerType(), True),
    T.StructField("bucket", T.IntegerType(), True),
    T.StructField("snapshot_id", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
])
