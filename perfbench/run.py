#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` metrics,
and the spans are written to ``.perfbench/traces/``. One line before it,
``{"info": ...}`` records the core count, the kernel host anchor, the
raw samples behind each median, the CPU time stolen by the hypervisor
during each timed region and the wall time of each phase. The exit code
is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let the Python workers import the engine."""
    scratch = os.path.join(ROOT, ".perfbench")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def metric_spec() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def result_line(values: dict[str, float], trace: bool, attempted: int,
                failed: int) -> str:
    """The result line; refuses a metric set that differs from
    ``BENCHMARK.json`` so no metric goes missing or unannounced."""
    units = metric_spec()["per_layer" if trace else "end_to_end"]
    if set(values) != set(units):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(values))}, extra "
            f"{sorted(set(values) - set(units))}")
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in sorted(values)}})


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _adopt_orphans() -> None:
    """Make this process the parent of every orphan among its
    descendants (Linux ``PR_SET_CHILD_SUBREAPER``): Spark's Python daemon
    and its workers may outlive the JVM that forked them, and must still
    be waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:     # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children(grace: float = 30.0) -> None:
    """Wait until every process this run started has ended. One still
    running ``grace`` seconds from now gets SIGTERM, and SIGKILL five
    seconds later."""
    import signal

    from perfbench.probes import processes

    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            parent, _ = processes()
            for child in (p for p, pp in parent.items() if pp == os.getpid()):
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.02)


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    import martial_arts_ocr_spark

    # measure the engine of this checkout, never one installed elsewhere
    if not os.path.abspath(martial_arts_ocr_spark.__file__).startswith(
            os.path.join(ROOT, "martial_arts_ocr_spark") + os.sep):
        raise SystemExit(f"perfbench: the engine was imported from "
                         f"{martial_arts_ocr_spark.__file__}, not from {ROOT}")
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    from perfbench import kernel_profile, probes, workloads

    spans = probes.Spans(f"{workload}-s{seed}") if trace \
        else probes.NoSpans()
    wl = workloads.WORKLOADS[workload](ROOT, seed, trace)
    rss = probes.RssSampler().start()
    phases = {"start": time.perf_counter()}
    slice_pdf = pages_pandas(workloads.ANCHOR_PAGES, seed)
    anchor = kernel_profile.anchor(slice_pdf)
    layer: dict[str, float] = {"kernel.docs_per_s": anchor,
                               "host.cores": workloads.CORES}
    if trace:
        slice_pdf["host"] = slice_pdf["url"].str.extract(
            r"^https?://([^/]+)", expand=False)
        with spans.span("kernel.profile"):
            layer.update(kernel_profile.profile(slice_pdf))

    spark = None
    setups, builds, warms, firsts = [], [], [], []
    untraced, traced, figs, profiled = [], [], [], []
    first_fig: dict = {}
    stolen: dict[str, list[float]] = {"setup": [], "first": [], "pass": []}

    def steal_since(kind: str, since: float) -> None:
        stolen[kind].append(probes.stolen_s() - since)

    try:
        phases["setup"] = time.perf_counter()
        for k in range(workloads.SETUPS):
            if spark is not None:
                spark.stop()
            with spans.span("setup"):
                s0, t0 = probes.stolen_s(), probes.clock()
                with spans.span("session.build"):
                    spark = workloads.build_session(ROOT)
                    spark.sparkContext.setLogLevel("ERROR")
                t1 = probes.clock()
                with spans.span("inputs.load"):
                    wl.load(spark)
                t2 = probes.clock()
                with spans.span("session.warm_workers"):
                    workloads.warm_workers(spark)
                t3 = probes.clock()
            steal_since("setup", s0)
            setups.append(t3 - t0)
            builds.append(t1 - t0)
            warms.append(t3 - t2)
        # the last session runs the workload
        phases["first"] = time.perf_counter()
        s0 = probes.stolen_s()
        if trace:
            with workloads.Observed(spark) as obs, spans.span("pass.first"):
                firsts.append(wl.run_pass(spark, "first", spans))
            first_fig = obs.figures
        else:
            firsts.append(wl.run_pass(spark, "first", spans))
        steal_since("first", s0)
        # the output check is also the warm-up pass: the first re-run of a
        # job is still slower than the ones after it (JIT, caches)
        phases["check"] = time.perf_counter()
        with spans.span("check"):
            attempted, failed = wl.check(spark)
        phases["steady"] = start = time.perf_counter()
        while (time.perf_counter() - start < seconds
               or len(untraced) < workloads.MIN_PASSES):
            s0 = probes.stolen_s()
            if trace:
                with workloads.Observed(spark) as obs, \
                        spans.span("pass.steady"):
                    untraced.append(wl.run_pass(spark, "steady", spans))
                figs.append(obs.figures)
            else:
                untraced.append(wl.run_pass(spark, "steady", spans))
            steal_since("pass", s0)
        if trace:
            phases["traced"] = time.perf_counter()
            for _ in range(workloads.TRACED_PASSES):
                with workloads.Observed(spark, profile=True) as obs, \
                        spans.span("pass.traced"):
                    traced.append(wl.run_pass(spark, "traced", spans))
                profiled.append(obs.figures)
            phases["traced_layers"] = time.perf_counter()
            extra, extra_udf, n, bad = wl.traced_layers(spark, spans)
            attempted, failed = attempted + n, failed + bad
    finally:
        if spark is not None:
            _stop(spark)
        peak_mb = rss.stop()
    phases["end"] = time.perf_counter()

    steady = wl.steady(untraced)
    if trace:
        fig = {k: probes.median(f[k] for f in figs) for k in figs[0]}
        overhead = probes.median(traced) - probes.median(untraced)
        layer.update({
            "session.build_s": probes.median(builds),
            "session.cold_build_s": builds[0],
            "session.worker_warm_s": probes.median(warms),
            "session.worker_init_s": fig["worker_init_s"],
            "job.python.run_s": fig["mip.run_s"],
            "job.python.sent_bytes": fig["mip.sent_bytes"],
            "job.python.returned_bytes": fig["mip.returned_bytes"],
            "job.python.rows": fig["mip.rows"],
            "job.task_max_over_median": fig["mip.skew"],
            "job.kernel_share":
                (wl.docs / anchor) / (steady * workloads.CORES),
            # the memo and spread decisions are made on a query's first run
            "tables.base_table.calls": first_fig["base_table.calls"],
            "tables.base_table.misses": first_fig["base_table.misses"],
            "tables.spread.fired": first_fig["spread.fired"],
            "tables.spread.skipped": first_fig["spread.skipped"],
            "trace.overhead_s": overhead,
            "trace.overhead_share": overhead / probes.median(untraced),
        })
        layer.update(wl.layer_figures(fig))
        for name in workloads.UDFS:
            key = f"udf.{name}_s"
            layer[key] = (probes.median(p[key] for p in profiled)
                          + extra_udf.get(key, 0.0))
        layer.update(extra)
        spans.dump(os.path.join(ROOT, ".perfbench", "traces",
                                f"{workload}-s{seed}.json"))
        values = layer
    else:
        values = {"setup_s": probes.median(setups),
                  "first_run_s": probes.median(firsts),
                  "steady_s": steady, "docs_per_s": wl.docs / steady,
                  "peak_rss_mb": peak_mb}
    marks = list(phases.items())
    print(json.dumps({"info": {
        "workload": workload, "seed": seed, "cores": workloads.CORES,
        "kernel_docs_per_s": anchor, "docs_per_pass": wl.docs,
        "setup_s": setups, "first_run_s": firsts, "pass_s": untraced,
        "traced_pass_s": traced, "peak_rss_mb": peak_mb,
        "stolen_s": stolen,
        "phase_s": {a: t1 - t0 for (a, t0), (_, t1) in zip(marks, marks[1:])},
        **wl.info()}}))
    print(result_line(values, trace, attempted, failed), flush=True)
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    _environment()
    sys.path.insert(0, ROOT)
    _adopt_orphans()
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _reap_children()


if __name__ == "__main__":
    sys.exit(main())
