"""Structured Streaming path: same kernel, event-time windows, late data."""

import os
import time

import pytest

from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas
from martial_arts_ocr_spark.kernel.pipeline import extract_document
from martial_arts_ocr_spark.streaming import (
    extract_stream,
    read_pages_stream,
    windowed_quality_metrics,
)

N = 40


@pytest.fixture()
def pages_dir(spark, tmp_path):
    """Append-only pages directory: two file batches."""
    pdf = pages_pandas(N)
    path = str(tmp_path / "pages_stream")
    spark.createDataFrame(pdf.iloc[: N // 2]).coalesce(1) \
        .write.mode("overwrite").parquet(path)
    return path, pdf


def _run_stream_to_memory(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name).outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_extraction_matches_kernel(spark, pages_dir):
    path, pdf = pages_dir
    stream = extract_stream(read_pages_stream(spark, path))
    q = _run_stream_to_memory(spark, stream, "ext1")
    rows = {r.url: r for r in spark.sql("SELECT * FROM ext1").collect()}
    assert len(rows) == N // 2
    for _, src in pdf.iloc[: N // 2].iterrows():
        k = extract_document(src["url"], src["html"], src["lang"])
        assert rows[src["url"]].text_len == len(k["text"])
        assert rows[src["url"]].n_blocks == k["n_blocks"]
        assert rows[src["url"]].status == k["status"]
    q.stop()

    # second batch of files arrives → incremental processing picks it up
    spark.createDataFrame(pdf.iloc[N // 2:]).coalesce(1) \
        .write.mode("append").parquet(path)
    stream2 = extract_stream(read_pages_stream(spark, path))
    q2 = _run_stream_to_memory(spark, stream2, "ext2")
    total = spark.sql("SELECT count(*) AS n FROM ext2").head().n
    assert total == N
    q2.stop()


def test_streaming_drops_gated_rows(spark, tmp_path):
    """The stream applies the batch job's P1 gate: a row with empty html
    and a row with null html never reach the kernel."""
    pdf = pages_pandas(N // 2)
    pdf.at[0, "html"] = b""
    pdf.at[1, "html"] = None
    path = str(tmp_path / "gated")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
    q = _run_stream_to_memory(
        spark, extract_stream(read_pages_stream(spark, path)), "gated")
    urls = sorted(r.url for r in spark.sql("SELECT url FROM gated").collect())
    q.stop()
    assert urls == sorted(pdf["url"][2:])


def test_windowed_quality_metrics(spark, pages_dir):
    path, pdf = pages_dir
    metrics = windowed_quality_metrics(
        extract_stream(read_pages_stream(spark, path)),
        window="10 minutes", watermark="30 minutes",
    )
    q = (
        metrics.writeStream.format("memory").queryName("winq")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM winq").collect()
    q.stop()
    assert rows
    assert sum(r.n_docs for r in rows) == N // 2
    # window bounds are 10-minute aligned
    for r in rows:
        assert r.window_start.minute % 10 == 0
        assert (r.window_end - r.window_start).total_seconds() == 600


def test_streaming_crash_restart_exactly_once(spark, tmp_path):
    """Exactly-once across an interrupted run (round-2 verdict item 8, the
    streaming analogue of test_resume): kill the query mid-run after ≥1
    committed micro-batch, restart from the same checkpoint + file sink,
    and assert the final output has every url exactly once (the sink's
    _spark_metadata manifest must fence uncommitted files)."""
    pdf = pages_pandas(N)
    src = str(tmp_path / "src")
    per = N // 8
    for i in range(8):
        spark.createDataFrame(pdf.iloc[i * per:(i + 1) * per]).coalesce(1) \
            .write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def start():
        stream = extract_stream(
            read_pages_stream(spark, src, max_files_per_trigger=1)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:           # wait for ≥1 committed batch
        p = q.lastProgress
        if p and p.get("numInputRows", 0) > 0:
            break
        time.sleep(0.05)
    try:
        q.stop()                            # crash: later batches never ran
    except Exception:
        pass
    q2 = start()
    q2.awaitTermination(180)

    urls = [r.url for r in spark.read.parquet(out).select("url").collect()]
    assert len(urls) == N, len(urls)        # nothing missing
    assert len(set(urls)) == N              # nothing duplicated
    assert set(urls) == set(pdf["url"])
