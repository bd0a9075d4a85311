"""Measurement plumbing: spans, process-tree RSS, Spark's SQL status
store, Spark's UDF profiler, and call counters patched around public
engine functions.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine, counters replace a public function
in the modules that imported it and restore it afterwards, and the Spark
figures are read from the status store that Spark keeps with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import sys
import threading
import time


class Spans:
    """In-memory span recorder: (name, start, end, parent, run id).

    ``span`` nests; a span's parent is the innermost open span. Nothing is
    written until ``dump``, so recording costs two clock reads and a list
    append per span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _self_seconds(self, rec: dict) -> float:
        """The span's duration minus the part of it that its child spans
        cover."""
        kids = sorted((c["start"], c["end"]) for c in self.records
                      if c["parent"] == rec["id"])
        covered, edge = 0.0, rec["start"]
        for s, e in kids:
            s = max(s, edge)
            if e > s:
                covered += e - s
                edge = e
        return rec["end"] - rec["start"] - covered

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        out = [dict(rec, self=self._self_seconds(rec)) for rec in self.records]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


class NoSpans(Spans):
    """Span recorder for untraced runs: records nothing."""

    def __init__(self):
        super().__init__("")

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


# --- CPU time the hypervisor stole --------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def stolen_s() -> float:
    """Cumulative seconds the hypervisor ran something else while a
    virtual CPU of this host wanted to run, averaged over the CPUs (the
    ``steal`` column of ``/proc/stat``); 0 where the kernel has none."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / _HZ / (os.cpu_count() or 1)
    except (OSError, IndexError, ValueError):
        return 0.0


def clock() -> float:
    """The benchmark's clock: wall seconds minus ``stolen_s``. On a shared
    virtual machine the hypervisor takes CPU time from every run in bursts
    of tens of seconds; a duration on this clock is the wall time the run
    would have taken with those bursts removed."""
    return time.perf_counter() - stolen_s()


# --- process-tree RSS ----------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def processes() -> tuple[dict[int, int], dict[int, int]]:
    """(pid -> parent pid, pid -> RSS bytes) of every running process."""
    parent, rss = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * _PAGE
    return parent, rss


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants (the driver, the JVM it
    launched and the Python workers the JVM forked)."""
    parent, rss = processes()
    total = 0
    for pid, r in rss.items():
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += r
    return total


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a daemon
    thread; ``stop`` joins it and returns the peak in MiB."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._done.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._done.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak / (1 << 20)


# --- Spark SQL status store ----------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9.,]*) ?(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?\b")
_WHERE = re.compile(r"\(stage [^)]*\)")


def parse_metric(text: str) -> tuple[float, float, float, float]:
    """A status-store metric string → (total, min, median, max) in bytes,
    seconds or plain counts. Per-task metrics read
    ``'total (min, med, max (stageId: taskId))\\n5.8 s (1.4 s, 1.5 s, ...)'``;
    a plain sum is a bare number."""
    body = _WHERE.sub("", text.split("\n")[-1])
    vals = [float(v.replace(",", "")) * _UNITS.get(u, 1.0)
            for v, u in _VALUE.findall(body)]
    vals += [vals[0] if vals else 0.0] * (4 - len(vals))
    return vals[0], vals[1], vals[2], vals[3]


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def sql_metrics(spark, after_id: int) -> dict[tuple[str, str], list]:
    """Node metrics of every SQL execution with id > ``after_id``:
    (node name, metric name) → list of (total, min, med, max), one per node
    instance. Read from the status store, which Spark keeps with the UI
    off; after AQE the plan graph is the final executed plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[tuple[str, str], list] = {}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out.setdefault((node.name(), m.name()), []).append(
                        parse_metric(v.get()))
    return out


def metric_total(metrics: dict, metric: str, node: str | None = None) -> float:
    """Sum of a metric's totals over all nodes (or nodes named ``node``)."""
    return sum(v[0] for (n, m), vals in metrics.items()
               if m == metric and (node is None or n == node) for v in vals)


def metric_skew(metrics: dict, metric: str, node: str) -> float:
    """max/median over tasks of the largest-total instance of a metric."""
    vals = metrics.get((node, metric)) or []
    if not vals:
        return 0.0
    _, _, med, mx = max(vals)
    return mx / med if med else 0.0


# --- Spark UDF profiler --------------------------------------------------

def udf_seconds(spark, names) -> dict[str, float]:
    """Cumulative seconds per UDF function name from Spark's UDF profiler
    (``spark.sql.pyspark.udf.profiler=perf``); each profile is keyed by
    ``UDF<id=N>`` and its pstats name the function that ran."""
    out = {n: 0.0 for n in names}
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        for (_, _, func), (_, _, _, ct, _) in stats.stats.items():
            if func in out:
                out[func] += ct
    return out


def clear_udf_profiles(spark) -> None:
    spark._profiler_collector.clear_perf_profiles()


# --- call counters around public engine functions -------------------------

class Counter:
    """Calls and a tally of one kind of outcome for a patched function."""

    def __init__(self):
        self.calls = 0
        self.tally = 0


@contextlib.contextmanager
def patched(module, name: str, make_wrapper):
    """Replace ``module.name`` by ``make_wrapper(original)`` in that module
    and in every loaded engine module that imported it by name; restore
    all of them on exit."""
    original = getattr(module, name)
    wrapper = make_wrapper(original)
    hits = [m for m in list(sys.modules.values())
            if m is not None
            and getattr(m, "__name__", "").startswith("martial_arts_ocr_spark")
            and getattr(m, name, None) is original]
    for m in hits:
        setattr(m, name, wrapper)
    try:
        yield
    finally:
        for m in hits:
            setattr(m, name, original)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default
