"""Self-tests of the benchmark. Run from the repository root:

    python -m pytest perfbench -q

The end-to-end cases start the real command (one Spark session each), so
the whole file takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, probes  # noqa: E402
from perfbench.run import metric_spec, result_line  # noqa: E402


def _digest(path):
    """sha256 over every file under ``path``, names and bytes."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _inputs(root, seed):
    from perfbench.workloads import CORPUS

    return (_digest(inputs.pages(str(root), seed, 40, workers=2)),
            _digest(inputs.tables(str(root), seed, 0.001)),
            _digest(inputs.corpus(str(root), seed, *CORPUS)))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs(tmp_path / "a", 7) == _inputs(tmp_path / "b", 7)


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = _inputs(tmp_path, 7), _inputs(tmp_path, 8)
    assert all(x != y for x, y in zip(a, b))


def test_curation_corpus_makes_spread_fire(tmp_path):
    """The replica corpus is one row group past the spread threshold,
    with the fixed 5% stride of byte-identical replicas."""
    import pyarrow.parquet as pq
    from martial_arts_ocr_spark.queries.tables import SPREAD_MIN_SOURCE_BYTES
    from perfbench.workloads import CORPUS

    path = os.path.join(inputs.corpus(str(tmp_path), 7, *CORPUS),
                        "documents.parquet")
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 1
    assert os.path.getsize(path) >= SPREAD_MIN_SOURCE_BYTES
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    base, replica = texts[:len(texts) // 2], texts[len(texts) // 2:]
    same = [i for i, (a, b) in enumerate(zip(base, replica)) if a == b]
    assert same == list(range(0, len(base), 20))


def test_result_line_carries_every_metric_with_its_unit():
    for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
        units = metric_spec()[kind]
        line = json.loads(result_line({n: 1.0 for n in units}, trace, 3, 0))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {n: m["unit"] for n, m in line["metrics"].items()} == units
        with pytest.raises(ValueError):
            result_line({n: 1.0 for n in list(units)[1:]}, trace, 3, 0)
        with pytest.raises(ValueError):
            result_line({**{n: 1.0 for n in units}, "extra": 1.0}, trace,
                        3, 0)


def test_corrupted_document_output_fails_the_check():
    ref = {"u1": inputs.doc_digest("completed", "alpha"),
           "u2": inputs.doc_digest("completed", "beta")}
    good = [("u1", "completed", "alpha"), ("u2", "completed", "beta")]
    assert checks.doc_mismatches(ref, good) == 0
    assert checks.doc_mismatches(ref, [good[0], ("u2", "completed", "bet")]) == 1
    assert checks.doc_mismatches(ref, [good[0], ("u2", "failed", "beta")]) >= 1
    assert checks.doc_mismatches(ref, good[:1]) == 1
    assert checks.doc_mismatches(ref, good + good[1:]) == 1


def test_corrupted_query_output_fails_the_check():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    assert checks.same_result(cols, rows, ["v", "k"], [(1.25, 2), (0.5, 1)])
    assert not checks.same_result(cols, rows, cols, [(1, 0.5), (2, 1.5)])
    assert not checks.same_result(cols, rows, cols, rows[:1])
    assert not checks.same_result(cols, rows, ["k", "w"], rows)


def test_span_self_time_excludes_children():
    spans = probes.Spans("t")
    with spans.span("outer") as outer:
        with spans.span("a") as a:
            pass
        with spans.span("b") as b:
            pass
    a["start"], a["end"] = outer["start"] + 1.0, outer["start"] + 3.0
    b["start"], b["end"] = outer["start"] + 2.0, outer["start"] + 4.0
    outer["end"] = outer["start"] + 10.0
    assert spans._self_seconds(outer) == pytest.approx(7.0)   # 10 - [1, 4]
    assert spans._self_seconds(a) == pytest.approx(2.0)


def test_status_store_strings_parse():
    t = "total (min, med, max (stageId: taskId))\n"
    assert probes.parse_metric("400") == (400.0,) * 4
    assert probes.parse_metric(
        t + "5.8 s (1.4 s, 1.5 s, 1.6 s (stage 6.0: task 13))") == (
            5.8, 1.4, 1.5, 1.6)
    assert probes.parse_metric(
        t + "3 (1, 1, 1 (stage 220.0: task 155))") == (3.0, 1.0, 1.0, 1.0)
    assert probes.parse_metric(t + "2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB "
                               "(stage 4.0: task 9))")[0] == 2048.0
    assert probes.parse_metric(t + "24 ms (1 ms, 5 ms, 13 ms (stage 4.0: "
                               "task 9))")[0] == pytest.approx(0.024)


def test_orphaned_grandchild_is_reaped():
    """A process whose parent exits first is still waited for, and ended
    once the grace period is over."""
    code = (
        "import os, subprocess, time\n"
        "from perfbench.run import _adopt_orphans, _reap_children\n"
        "_adopt_orphans()\n"
        "pid = int(subprocess.run(\n"
        "    ['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "    capture_output=True, text=True).stdout)\n"
        "t0 = time.monotonic()\n"
        "_reap_children(grace=0.5)\n"
        "print(pid, time.monotonic() - t0)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    pid, waited = out.stdout.split()
    assert not os.path.exists(f"/proc/{pid}")
    assert 0.5 <= float(waited) < 10


def _run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["extract", "queries"])
@pytest.mark.parametrize("trace", [0, 1])
def test_command_emits_every_benchmark_metric(workload, trace):
    rc, line = _run(workload, 1, trace)
    units = metric_spec()["per_layer" if trace else "end_to_end"]
    assert rc == 0 and line["correct"] and line["failed"] == 0
    assert line["attempted"] >= 1
    assert {n: m["unit"] for n, m in line["metrics"].items()} == units
    assert all(isinstance(m["value"], float) for m in line["metrics"].values())


def test_corrupted_reference_makes_the_command_fail():
    from perfbench.workloads import CORES, PAGES

    seed = 990_001
    path = inputs.pages(ROOT, seed, PAGES, workers=CORES)
    ref_path = os.path.join(path, "reference.json")
    try:
        with open(ref_path) as f:
            ref = json.load(f)
        url = sorted(ref)[0]
        ref[url] = inputs.doc_digest("completed", "not the extracted text")
        with open(ref_path, "w") as f:
            json.dump(ref, f)
        rc, line = _run("extract", seed, 0)
        assert rc != 0
        assert line["correct"] is False and line["failed"] == 1
    finally:
        shutil.rmtree(path, ignore_errors=True)
