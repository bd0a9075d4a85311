"""Kernel layer, measured in one process with no Spark.

``anchor`` is the host anchor: single-process ``extract_document`` docs/s
over a fixed slice of the seeded pages, taken before any session starts,
so host drift can be told apart from a code change.

``profile`` wraps the functions ``kernel.pipeline.extract_document`` calls
(in the modules that hold them, restored afterwards) and reports each
one's self seconds per 1k docs, the decision mix and the P3 ladder rate.
It also times ``engine.job.extract_batch`` on the same pandas batches
with the results of ``kernel_rows`` handed in: what remains is the
per-row rebuild of the wide output schema.
"""

from __future__ import annotations

import copy
import time

from . import probes

# metric name → (module under martial_arts_ocr_spark.kernel, functions)
_GROUPS = {
    "kernel.encoding.decode_html_s": ("pipeline", ["decode_html"]),
    "kernel.html_blocks.segment_blocks_s": ("pipeline", ["segment_blocks"]),
    "kernel.density.score_block_s": ("density", ["score_block"]),
    "kernel.domtree.classify_blocks_s": ("domtree", ["classify_blocks"]),
    "kernel.consensus.merge_blocks_s": ("consensus", ["merge_blocks"]),
    "kernel.consensus.candidate_score_s": ("consensus", ["candidate_score"]),
    "kernel.rawtext.extract_rawtext_s": ("rawtext", ["extract_rawtext"]),
    "kernel.refine.refine_text_s": ("refine", ["refine_text"]),
    "kernel.assemble.assemble_text_s": ("assemble", ["assemble_text"]),
    "kernel.assemble.stats_s": ("assemble", ["text_statistics",
                                             "cleaning_stats",
                                             "layout_stats"]),
    "kernel.cleanup.clean_text_s": ("cleanup", ["clean_text"]),
    "kernel.regions_s": ("regions", ["detect_figures", "merge_spans"]),
    "kernel.script_s": ("script", ["language_composition",
                                   "language_segments", "has_japanese",
                                   "japanese_segments"]),
    "kernel.romanize_s": ("romanize", ["overall_romaji"]),
    "kernel.terms_s": ("terms", ["overall_translation", "extract_terms",
                                 "find_macron_candidates"]),
}


def _pairs(pdf):
    return list(zip(pdf["url"], pdf["html"], pdf["lang"]))


def anchor(pdf, reps: int = 3) -> float:
    """Best-of-``reps`` single-process docs/s over the pages in ``pdf``."""
    from martial_arts_ocr_spark.kernel.pipeline import extract_document

    pairs = _pairs(pdf)
    for url, html, lang in pairs[:20]:          # warm code paths
        extract_document(url, html, lang or "")

    def loop():
        for url, html, lang in pairs:
            extract_document(url, html, lang or "")

    return len(pairs) / _best(loop, reps)


class _SelfTimer:
    """Per-group self time with a call stack, so nested wrapped calls are
    charged to the innermost one only."""

    def __init__(self):
        self.self_s: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._stack: list[list[float]] = []     # [child seconds] per call

    def wrap(self, group: str, fn):
        def wrapper(*args, **kwargs):
            frame = [0.0]
            self._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._stack.pop()
                self.self_s[group] = self.self_s.get(group, 0.0) + dt - frame[0]
                self.calls[group] = self.calls.get(group, 0) + 1
                if self._stack:
                    self._stack[-1][0] += dt
        return wrapper


def profile(pdf) -> dict[str, float]:
    """Per-function self seconds per 1k docs and decision counts over the
    pages in ``pdf`` (url, html, lang, host columns)."""
    import importlib

    from martial_arts_ocr_spark.engine import job
    from martial_arts_ocr_spark.kernel import pipeline

    timer = _SelfTimer()
    saved = []
    for group, (modname, funcs) in _GROUPS.items():
        mod = importlib.import_module(f"martial_arts_ocr_spark.kernel.{modname}")
        for fn in funcs:
            saved.append((mod, fn, getattr(mod, fn)))
            setattr(mod, fn, timer.wrap(group, getattr(mod, fn)))
    top = pipeline.extract_document
    pairs = _pairs(pdf)
    rows = []
    try:
        wrapped = timer.wrap("kernel.pipeline.self_s", top)
        for url, html, lang in pairs:
            rows.append(wrapped(url, html, lang or ""))
    finally:
        for mod, fn, orig in saved:
            setattr(mod, fn, orig)
    per_k = 1000.0 / len(pairs)
    out = {g: timer.self_s.get(g, 0.0) * per_k for g in _GROUPS}
    out["kernel.pipeline.self_s"] = timer.self_s["kernel.pipeline.self_s"] * per_k
    for d in ("consensus", "fullpage", "regex"):
        out[f"kernel.decision.{d}"] = sum(r["decision_source"] == d
                                          for r in rows)
    out["kernel.truncated"] = sum(r["error"] == "truncated_input" for r in rows)
    out["kernel.failed"] = sum(r["status"] == "failed" for r in rows)
    # every ladder entry scores its three candidates once each
    out["kernel.ladder_rate"] = (
        timer.calls.get("kernel.consensus.candidate_score_s", 0) / 3
        / len(pairs))

    # extract_batch with kernel_rows' results handed in: what is left is
    # the per-row rebuild into the wide output schema (the kernel rows are
    # copied before each timing, because the rebuild consumes them)
    batches = [pdf.iloc[i:i + 256] for i in range(0, len(pdf), 256)]
    rows_per_batch = [list(job.kernel_rows(b)) for b in batches]
    best = float("inf")
    for _ in range(5):
        fresh = iter(copy.deepcopy(rows_per_batch))
        with probes.patched(job, "kernel_rows",
                            lambda orig: lambda b: next(fresh)):
            t0 = time.perf_counter()
            for _ in job.extract_batch(iter(batches)):
                pass
            best = min(best, time.perf_counter() - t0)
    out["job.extract_batch.rebuild_s"] = best * per_k
    return out


def _best(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best
