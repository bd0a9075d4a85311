"""The benchmark's workloads and the run loop they share.

Load shape: a closed loop. One client (this process) runs one job at a
time on ``local[n]`` with ``n`` = the host's usable cores and no other
clients. Each run:

1. builds (or finds cached) seeded inputs — untimed;
2. takes the kernel host anchor in this process, before any session;
3. sets up ``SETUPS`` sessions in turn: session build, input load,
   Python-worker warm-up. The first set-up also launches the JVM, so the
   median set-up is one in a running JVM;
4. runs the workload's job once in the last session: its first run, in
   a warmed session of a JVM that has not run it before;
5. runs it again, untimed, collecting its outputs and checking them
   against their references; this is also the warm-up pass, because the
   first re-run is still slower than the ones after it;
6. re-runs the job until ``seconds`` have passed (at least
   ``MIN_PASSES`` times) and reports medians.

A traced run keeps steps 1-6 and observes them: spans, call counters on
public engine functions, and Spark's SQL status store read after each
pass, outside its timed region. After the measured loop it adds
``TRACED_PASSES`` pass with Spark's UDF profiler on (the only source of
``udf.*`` figures; their extra wall time is the tracing overhead) and the
workload's traced-only layers: on ``extract``, checkpointed writes
(``engine.resume`` and ``engine.catalog``) and the curation queries
(``queries.corpus``, ``bpe``, ``packing``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

from . import checks, inputs, probes

CORES = len(os.sched_getaffinity(0))
MIN_PASSES = 2
TRACED_PASSES = 1
SETUPS = 3
PAGES = 3000              # extract input docs
QUERIES_SF = 0.01         # scale factor of the generated query tables
ANCHOR_PAGES = 200        # fixed slice for the anchor and kernel profile
CORPUS = (900, 2)         # curation corpus: base documents, replicas
HEADLINE = [
    "pricing_summary", "top_revenue_customers", "events_sessions",
    "doc_stats_by_lang", "dedup_survivors", "langid_heuristic",
    "ann_cosine_top10", "minhash_bands", "simhash", "cosine_neardup_pairs",
    "events_asof_purchase", "doc_length_percentiles", "gopher_line_flags",
    "extract_documents",
]
# the Python UDFs these workloads run, by the name the profiler reports
UDFS = ["mhb", "sh", "extract_batch", "bpe_count", "lm_score"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_session(root: str):
    from martial_arts_ocr_spark.engine.session import build_session as build

    tmp = os.path.join(root, ".perfbench", "tmp")
    return build(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def warm_workers(spark) -> None:
    """JVM first-use costs and one Python worker per core, so the first
    pass does not pay worker fork and import."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(CORES * 8).repartition(CORES).mapInPandas(
        lambda it: it, schema="id long").count()


# --- per-pass Spark figures -------------------------------------------------

_PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "AggregateInPandas", "WindowInPandas")


def pass_figures(m: dict) -> dict[str, float]:
    """What one pass did, from the status store's node metrics."""
    def py(metric):
        return sum(probes.metric_total(m, metric, n) for n in _PY_NODES)

    return {
        "mip.run_s": probes.metric_total(
            m, "time to run Python workers", "MapInPandas"),
        "mip.sent_bytes": probes.metric_total(
            m, "data sent to Python workers", "MapInPandas"),
        "mip.returned_bytes": probes.metric_total(
            m, "data returned from Python workers", "MapInPandas"),
        "mip.rows": probes.metric_total(
            m, "number of output rows", "MapInPandas"),
        "mip.skew": probes.metric_skew(
            m, "time to run Python workers", "MapInPandas"),
        "python.run_s": py("time to run Python workers"),
        "python.sent_bytes": py("data sent to Python workers"),
        "python.returned_bytes": py("data returned from Python workers"),
        "worker_init_s": py("time to initialize Python workers"),
        "exchange.bytes": probes.metric_total(m, "shuffle bytes written"),
        "exchange.write_s": probes.metric_total(m, "shuffle write time"),
        "exchange.fetch_wait_s": probes.metric_total(m, "fetch wait time"),
        "spill_bytes": probes.metric_total(m, "spill size"),
    }


class Observed:
    """Runs a block as one observed pass: under its own job group, with
    call counters on the ``queries.tables`` memo and spread, and
    optionally with the UDF profiler on. On exit, outside any timing
    inside the block, ``figures`` gets the pass's status-store figures,
    job count, counter values and, when profiled, UDF seconds."""

    _n = 0

    def __init__(self, spark, profile: bool = False):
        Observed._n += 1
        self.spark, self.profile = spark, profile
        self.group = f"observed-{Observed._n}"
        self.figures: dict[str, float] = {}

    def __enter__(self):
        import contextlib

        from martial_arts_ocr_spark.queries import tables

        base = self.base = probes.Counter()
        spread = self.spread = probes.Counter()

        def count_base(orig):
            def wrapper(*args, **kwargs):
                before = len(tables._TABLE_CACHE)
                out = orig(*args, **kwargs)
                base.calls += 1
                base.tally += len(tables._TABLE_CACHE) > before
                return out
            return wrapper

        def count_spread(orig):
            def wrapper(df, *args, **kwargs):
                out = orig(df, *args, **kwargs)
                spread.calls += 1
                spread.tally += out is not df
                return out
            return wrapper

        self.spark.sparkContext.setJobGroup(self.group, self.group)
        if self.profile:
            probes.clear_udf_profiles(self.spark)
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.before = probes.last_execution_id(self.spark)
        self._patches = contextlib.ExitStack()
        self._patches.enter_context(
            probes.patched(tables, "base_table", count_base))
        self._patches.enter_context(
            probes.patched(tables, "spread", count_spread))
        return self

    def __exit__(self, *exc):
        self._patches.close()
        spark = self.spark
        if self.profile:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.sparkContext.setJobGroup("unobserved", "unobserved")
        if exc[0] is not None:
            return False
        fig = pass_figures(probes.sql_metrics(spark, self.before))
        fig.update({
            "jobs": len(spark.sparkContext.statusTracker()
                        .getJobIdsForGroup(self.group)),
            "base_table.calls": self.base.calls,
            "base_table.misses": self.base.tally,
            "spread.fired": self.spread.tally,
            "spread.skipped": self.spread.calls - self.spread.tally,
        })
        if self.profile:
            fig.update({f"udf.{n}_s": s for n, s in
                        probes.udf_seconds(spark, UDFS).items()})
        self.figures = fig
        return False


def _tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _oracle_mismatches(spark, oracle, frames: dict) -> int:
    """Queries whose collected rows differ from their oracle; DuckDB runs
    the oracles on a thread while Spark collects. ``frames`` maps query
    name → a function of the session returning its DataFrame."""
    bad = 0
    try:
        with ThreadPoolExecutor(1) as pool:
            expected = pool.map(oracle.run, list(frames))
            for q, want in zip(frames, expected):
                try:
                    df = frames[q](spark)
                    rows = [tuple(r) for r in df.collect()]
                    ok = checks.same_result(df.columns, rows, *want)
                except Exception as exc:   # a failed query is a failed op
                    print(f"perfbench: {q}: {type(exc).__name__}: {exc}",
                          file=sys.stderr)
                    ok = False
                if not ok:
                    print(f"perfbench: {q} differs from its oracle",
                          file=sys.stderr)
                bad += not ok
    finally:
        oracle.close()
    return bad


# --- per-layer names a workload does not run read 0 -------------------------

RESUME_LAYERS = ("resume.docs_per_s", "resume.waves", "resume.wave_p50_s",
                 "resume.wave_max_s", "catalog.append_snapshot_s",
                 "resume.files_written", "resume.bytes_written",
                 "resume.out_bytes_per_in_byte", "resume.exchange.bytes",
                 "resume.spill_bytes")
CURATE_LAYERS = ("curate.keep_set_s", "curate.pack_s",
                 "curate.python.sent_bytes", "curate.python.returned_bytes",
                 "curate.python.run_s", "curate.exchange.bytes",
                 "curate.spill_bytes")
QUERY_LAYERS = tuple(f"queries.{q}.{k}" for q in HEADLINE
                     for k in ("first_s", "steady_s")) + (
    "queries.build_s", "queries.jobs", "queries.python.sent_bytes",
    "queries.python.run_s", "queries.exchange.bytes", "queries.spill_bytes")
JOB_EXCHANGE = ("job.exchange.bytes", "job.exchange.write_s",
                "job.exchange.fetch_wait_s")


def _zeros(names) -> dict[str, float]:
    return dict.fromkeys(names, 0.0)


# --- workloads --------------------------------------------------------------

class Extract:
    """Seeded pages, persisted in set-up; one pass is
    ``engine.job.run_extract`` over all of them into a noop sink."""

    def __init__(self, root: str, seed: int, trace: bool):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.root, self.seed = root, seed
        self.pages_dir = inputs.pages(root, seed, PAGES, workers=CORES)
        with open(os.path.join(self.pages_dir, "reference.json")) as f:
            self.reference = json.load(f)
        self.docs = len(self.reference)
        self.pages = None
        if trace:
            html = pq.read_table(os.path.join(self.pages_dir, "pages.parquet"),
                                 columns=["html"]).column("html")
            self.html_bytes = pc.sum(pc.binary_length(html)).as_py()
            self.corpus = inputs.corpus(root, seed, *CORPUS)

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(
            os.path.join(self.pages_dir, "pages.parquet")).persist()
        self.pages.count()

    def _job(self):
        from martial_arts_ocr_spark.engine.job import run_extract
        from martial_arts_ocr_spark.fixtures.gen_pages import HOT_HOST

        return run_extract(self.pages, num_partitions=CORES,
                           hot_hosts=[HOT_HOST], salt_buckets=CORES)

    def run_pass(self, spark, kind: str, spans) -> float:
        t0 = probes.clock()
        _noop(self._job())
        return probes.clock() - t0

    def steady(self, pass_times: list[float]) -> float:
        return probes.median(pass_times)

    def layer_figures(self, fig) -> dict[str, float]:
        out = {k: fig[k[len("job."):]] for k in JOB_EXCHANGE}
        out.update(_zeros(QUERY_LAYERS))
        return out

    def info(self) -> dict:
        return {}

    def check(self, spark) -> tuple[int, int]:
        rows = self._job().select("url", "status", "text").collect()
        return self.docs, checks.doc_mismatches(self.reference, rows)

    # -- traced-only layers ---------------------------------------------

    def traced_layers(self, spark, spans) -> tuple[dict, dict, int, int]:
        """Checkpointed writes and curation, each checked against its
        reference outside its timed pass. The checkpointed write is timed
        on its first pass in the session (one pass, to keep the run within
        its time limit), curation on a warmed pass. Returns (layer
        figures, UDF seconds from the profiled curation warm-up,
        attempted, failed)."""
        out, att_r, bad_r = self._checkpointed(spark, spans)
        curate, udf, att_c, bad_c = self._curate(spark, spans)
        out.update(curate)
        return out, udf, att_r + att_c, bad_r + bad_c

    def _checkpointed(self, spark, spans):
        from martial_arts_ocr_spark.engine import catalog
        from martial_arts_ocr_spark.engine.resume import (EXTRACTED_TABLE,
                                                          run_checkpointed)
        from martial_arts_ocr_spark.fixtures.gen_pages import HOT_HOST

        commits: list[tuple[float, float]] = []

        def timed(orig):
            def wrapper(*args, **kwargs):
                t0 = probes.clock()
                try:
                    return orig(*args, **kwargs)
                finally:
                    commits.append((t0, probes.clock()))
            return wrapper

        wh = os.path.join(self.root, ".perfbench", "warehouse",
                          f"s{self.seed}")
        shutil.rmtree(wh, ignore_errors=True)
        with Observed(spark) as obs, \
                probes.patched(catalog, "append_snapshot", timed), \
                spans.span("checkpointed"):
            t0 = probes.clock()
            run_checkpointed(spark, self.pages, wh, run_id="perfbench",
                             hot_hosts=[HOT_HOST])
            dt = probes.clock() - t0
        ends = [t0] + [e for _, e in commits]
        gaps = [b - a for a, b in zip(ends, ends[1:])]
        files, size = _tree_size(wh)
        fig = obs.figures
        out = {
            "resume.docs_per_s": self.docs / dt,
            "resume.waves": len(commits),
            "resume.wave_p50_s": probes.median(gaps),
            "resume.wave_max_s": max(gaps, default=0.0),
            "catalog.append_snapshot_s": sum(e - s for s, e in commits),
            "resume.files_written": files,
            "resume.bytes_written": size,
            "resume.out_bytes_per_in_byte": size / self.html_bytes,
            "resume.exchange.bytes": fig["exchange.bytes"],
            "resume.spill_bytes": fig["spill_bytes"],
        }
        with spans.span("check.checkpointed"):
            rows = (spark.read.parquet(catalog.table_path(wh, EXTRACTED_TABLE))
                    .select("url", "status", "text").collect())
            bad = checks.doc_mismatches(self.reference, rows)
        shutil.rmtree(wh, ignore_errors=True)
        return out, self.docs, bad

    def _curate(self, spark, spans):
        from martial_arts_ocr_spark.queries.corpus import (q_corpus_keep_set,
                                                           q_packed_sequences)

        d = self.corpus
        frames = {"corpus_keep_set": lambda s: q_corpus_keep_set(s, d),
                  "packed_sequences": lambda s: q_packed_sequences(s, d)}
        # the untimed first pass is the output check: it pays the keep-set's
        # one-time costs while DuckDB computes the oracles, and the UDF
        # profiler rides on it, so the timed pass runs without it
        with Observed(spark, profile=True) as warm, \
                spans.span("check.curate"):
            bad = _oracle_mismatches(spark, checks.Oracle(d), frames)
        with Observed(spark) as obs, spans.span("curate.timed"):
            t0 = probes.clock()
            _noop(q_corpus_keep_set(spark, d))
            t1 = probes.clock()
            _noop(q_packed_sequences(spark, d))
            t2 = probes.clock()
        fig = obs.figures
        out = {
            "curate.keep_set_s": t1 - t0,
            "curate.pack_s": t2 - t1,
            "curate.python.sent_bytes": fig["python.sent_bytes"],
            "curate.python.returned_bytes": fig["python.returned_bytes"],
            "curate.python.run_s": fig["python.run_s"],
            "curate.exchange.bytes": fig["exchange.bytes"],
            "curate.spill_bytes": fig["spill_bytes"],
            "tables.spread.fired": fig["spread.fired"],
            "tables.spread.skipped": fig["spread.skipped"],
        }
        udf = {k: v for k, v in warm.figures.items() if k.startswith("udf.")}
        return out, udf, len(frames), bad


class Queries:
    """The headline queries over seeded star-schema tables, in an order
    permuted by the seed; one pass runs each query once to a noop sink."""

    def __init__(self, root: str, seed: int, trace: bool):
        import pyarrow.parquet as pq

        self.tables = inputs.tables(root, seed, QUERIES_SF)
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.first: dict[str, list[float]] = {q: [] for q in HEADLINE}
        self.times: dict[str, list[float]] = {q: [] for q in HEADLINE}
        self.build_s: list[float] = []
        self.docs = pq.ParquetFile(
            os.path.join(self.tables, "documents.parquet")).metadata.num_rows

    def load(self, spark) -> None:
        """Nothing to load: the queries read the tables themselves, and
        the first read of each is part of the first run."""

    def run_pass(self, spark, kind: str, spans) -> float:
        """One pass over every query; ``kind`` is "first", "steady" or
        "traced". First and steady times, and the steady passes' DataFrame
        build times, are kept."""
        from martial_arts_ocr_spark.queries import ALL_QUERIES

        total = build = 0.0
        for q in self.order:
            with spans.span(f"query.{q}"):
                t0 = probes.clock()
                df = ALL_QUERIES[q](spark, self.tables)
                t1 = probes.clock()
                _noop(df)
                dt = probes.clock() - t0
            build += t1 - t0
            total += dt
            if kind == "first":
                self.first[q].append(dt)
            elif kind == "steady":
                self.times[q].append(dt)
        if kind == "steady":
            self.build_s.append(build)
        return total

    def steady(self, pass_times: list[float]) -> float:
        """Sum over the queries of each one's median re-execution."""
        return sum(probes.median(ts) for ts in self.times.values())

    def layer_figures(self, fig) -> dict[str, float]:
        out = _zeros(JOB_EXCHANGE)
        out.update({"queries.jobs": fig["jobs"],
                    "queries.python.sent_bytes": fig["python.sent_bytes"],
                    "queries.python.run_s": fig["python.run_s"],
                    "queries.exchange.bytes": fig["exchange.bytes"],
                    "queries.spill_bytes": fig["spill_bytes"]})
        for q in HEADLINE:
            out[f"queries.{q}.first_s"] = probes.median(self.first[q])
            out[f"queries.{q}.steady_s"] = probes.median(self.times[q])
        out["queries.build_s"] = probes.median(self.build_s)
        return out

    def info(self) -> dict:
        return {"order": self.order, "query_first_s": self.first,
                "query_pass_s": self.times}

    def check(self, spark) -> tuple[int, int]:
        """Each query's collected rows against its oracle."""
        from martial_arts_ocr_spark.queries import ALL_QUERIES

        frames = {q: (lambda s, q=q: ALL_QUERIES[q](s, self.tables))
                  for q in HEADLINE}
        return len(HEADLINE), _oracle_mismatches(
            spark, checks.Oracle(self.tables), frames)

    def traced_layers(self, spark, spans) -> tuple[dict, dict, int, int]:
        return {**_zeros(RESUME_LAYERS), **_zeros(CURATE_LAYERS)}, {}, 0, 0


WORKLOADS = {"extract": Extract, "queries": Queries}
