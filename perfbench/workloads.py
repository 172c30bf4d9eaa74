"""The three benchmark workloads and the run that drives one of them.

Each workload generates its input from the seed (``gen``), writes it
once as a multi-file parquet table, and then only calls the program's
public functions on what Spark reads back:

* ``spans_sanitize`` -- ``pipeline.run_pipeline(config="relaxed")``, the
  ``job.py`` path, over interleaved span documents; a resume over the
  committed output follows the timed jobs.
* ``pages_handlers`` -- ``pipeline.rewrite_documents(config=None,
  handlers_factory=extract.reference_bench_handlers)`` over full pages,
  into a sink that only forces the output.
* ``near_dup`` -- ``textops.near_dup_verified`` then
  ``textops.near_dup_clusters`` over a text corpus with planted
  near-duplicate families.

A run is: set-up (session, py-files zip, input generation and
materialisation, warm-up runs of the timed job), timed jobs for at
least ``seconds`` seconds, output checks, and -- with tracing on -- the
per-layer decomposition.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import statistics
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from sparkmetrics import arrow_metrics, stage_metrics
from tracing import tree_cpu_s

CPUS = 4
MAX_JOBS = 50
# enough that the traced pair runs after the steepest part of the JIT
# warm-up
TRACED_MIN_JOBS = 3
GEN_REPS = 3
SAMPLE_DOCS = 1000

SPAN_ARROW = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
SPAN_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_ARROW)])
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def spark_conf(work: Path) -> dict:
    """Overrides on top of ``session.get_spark``: keep every file the
    run writes inside ``work``, keep enough status-store history for the
    metrics helper, and no console progress bar."""
    tmp = work / "tmp"
    return {
        # a heap small enough to fill: peak RSS then tracks the work,
        # not when the collector last ran
        "spark.driver.memory": "1536m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def write_span_files(rows, out_dir: Path, n_files: int, assign) -> list[Path]:
    """Write span documents to ``n_files`` parquet files; ``assign(k,
    row)`` picks the file of the k-th row."""
    parts = [[] for _ in range(n_files)]
    for k, row in enumerate(rows):
        parts[assign(k, row)].append(row)
    out_dir.mkdir(parents=True)
    paths = []
    for f, part in enumerate(parts):
        table = pa.table({
            "doc_id": [r[0] for r in part],
            "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                       for k, t, m, o in r[1]] for r in part],
        }, schema=SPAN_SCHEMA)
        path = out_dir / f"part-{f:05d}.parquet"
        pq.write_table(table, path)
        paths.append(path)
    return paths


def html_bytes(rows) -> int:
    return sum(len(t.encode()) for _, spans in rows
               for k, t, _, _ in spans if k == "text" and t)


class Run:
    """State of one workload run: the session, job groups, timings,
    check results and the metrics reported at the end."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 work: Path, tracer):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.groups: list[str] = []
        self.checks: list[dict] = []
        self.layers: dict = {}
        self.info: dict = {}
        self.jobs_run = 0

    # -- calls into the program ---------------------------------------------

    def group(self, label: str) -> str:
        g = f"pb-{len(self.groups)}-{label}"
        self.groups.append(g)
        self.spark.sparkContext.setJobGroup(g, label)
        return g

    def call(self, name: str, fn, metrics: bool = False):
        """Run ``fn`` under its own job group and span; returns
        ``(seconds, result, stage metrics or None)``."""
        g = self.group(name)
        with self.tracer.span(name) as s:
            out = fn()
        sm = None
        if metrics:
            sm = stage_metrics(self.spark, g)
            s.counts.update(sm)
        self.jobs_run += 1
        return s.dt, out, sm

    def fingerprint(self, df):
        """Count plus an order-independent xxhash64 sum over every
        column; computing it forces every output value."""
        from pyspark.sql import functions as F

        agg = df.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        )
        row = agg.collect()[0]
        return (int(row["n"]), str(row["h"])), agg

    def check(self, name: str, ok: bool, checked: int = 1, mismatched=None,
              detail=None):
        mismatched = (0 if ok else checked) if mismatched is None else mismatched
        self.checks.append({"check": name, "ok": bool(ok), "checked": checked,
                            "mismatched": mismatched, "detail": detail})

    # -- the run ----------------------------------------------------------------

    def setup(self) -> float:
        from selma_spark.spark import shipping
        from selma_spark.spark.session import get_spark

        with self.tracer.span("setup"):
            with self.tracer.span("shipping.zip") as z:
                shipping.build_pyfiles_zip()
            with self.tracer.span("session.start") as s:
                self.spark = get_spark(cpus=CPUS, app_name=f"perfbench-{self.wl.name}",
                                       extra_conf=spark_conf(self.work))
                self.spark.sparkContext.setLogLevel("ERROR")
            # generation + materialisation is repeated and its median
            # reported; each repetition replaces the table
            gens = []
            for _ in range(GEN_REPS):
                shutil.rmtree(self.work / "input", ignore_errors=True)
                with self.tracer.span("input.generate") as g:
                    self.wl.generate(self)
                with self.tracer.span("input.materialise") as m:
                    self.wl.materialise(self)
                gens.append(g.dt + m.dt)
            with self.tracer.span("input.load") as ld:
                self.wl.load(self)
            # full jobs: the first in a fresh session pays for JIT,
            # codegen and Python worker start-up
            with self.tracer.span("warmup") as w:
                for k in range(self.wl.warmup_jobs):
                    self.wl.job(self, f"warmup{k}")
        self.layers["session.start_s"] = s.dt
        self.layers["shipping.zip_s"] = z.dt
        self.info["setup_parts_s"] = {
            "shipping.zip": z.dt, "session.start": s.dt,
            "input_median": median(gens), "load": ld.dt, "warmup": w.dt,
        }
        return z.dt + s.dt + median(gens) + ld.dt + w.dt

    def timed(self):
        """Timed jobs for at least ``seconds`` and at least the
        workload's ``min_jobs`` jobs (at most ``TRACED_MIN_JOBS`` in a
        traced run, which reports no end-to-end metric and has to fit
        its layer calls in the same time limit); returns the per-job
        wall seconds and the per-job CPU seconds of the process tree.
        Every job's output fingerprint must equal the first one's."""
        min_jobs = min(self.wl.min_jobs, TRACED_MIN_JOBS) if self.trace else self.wl.min_jobs
        times, cpus, fps = [], [], []
        t0 = time.perf_counter()
        while len(times) < min_jobs or (
            time.perf_counter() - t0 < self.seconds and len(times) < MAX_JOBS
        ):
            c0 = tree_cpu_s(os.getpid())
            dt, out, _ = self.call("job", lambda i=len(times): self.wl.job(self, i))
            cpus.append(tree_cpu_s(os.getpid()) - c0)
            times.append(dt)
            fps.append(self.wl.output_fingerprint(self, out))
        self.check("fingerprint identical across timed jobs",
                   all(f == fps[0] for f in fps), checked=len(fps),
                   mismatched=sum(f != fps[0] for f in fps),
                   detail=str(fps[0]))
        self.info["job_s"] = times
        self.info["job_cpu_s"] = cpus
        self.info["output_fingerprint"] = fps[0]
        return times, cpus

    def failures(self) -> tuple[int, int]:
        """(attempted, failed) over every Spark task, checked item and
        job of the run."""
        tasks = failed_tasks = 0
        for g in self.groups:
            sm = stage_metrics(self.spark, g)
            tasks += sm["tasks"]
            failed_tasks += sm["failed_tasks"] + sm["retried_stages"]
        checked = sum(c["checked"] for c in self.checks)
        mismatched = sum(c["mismatched"] for c in self.checks)
        self.info["spark_tasks"] = tasks
        self.info["spark_failed_tasks"] = failed_tasks
        return tasks + checked + self.jobs_run, failed_tasks + mismatched

    def run(self, rss_peak) -> dict:
        """The whole run; returns the end-to-end metrics as
        ``{name: (value, unit)}``. With tracing on, ``layers`` also
        holds the per-layer metrics."""
        setup_s = self.setup()
        times, cpus = self.timed()
        self.wl.checks(self)
        if self.trace:
            self.wl.layers(self)
        e2e = {
            "cpu_ms_per_doc": (median(cpus) / self.wl.n_docs * 1e3, "ms"),
            "setup_s": (setup_s, "s"),
        }
        # in the report only: wall-clock rates also move with the CPU
        # time a shared host gives to other guests (steal), and peak RSS
        # jumps by a few hundred MB from run to run
        job_s = median(times)
        self.info["end_to_end"] = {
            **{k: v for k, (v, _) in e2e.items()},
            "docs_per_s": self.wl.n_docs / job_s,
            "mb_per_s": self.wl.n_bytes / job_s / 1e6,
            "peak_rss_mb": rss_peak() / 2**20,
        }
        return e2e

    def env(self) -> dict:
        import platform

        import pyspark

        conf = self.spark.conf
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pa.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "master": self.spark.sparkContext.master,
            "arrow_batch_rows": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "max_partition_bytes": conf.get("spark.sql.files.maxPartitionBytes"),
            "input_partitions": self.wl.docs.rdd.getNumPartitions(),
            "seed": self.seed,
            "input_docs": self.wl.n_docs,
            "input_bytes": self.wl.n_bytes,
            "input_fingerprint": self.wl.input_fp,
        }


# -- checks and layer measurements shared by the workloads ---------------------------


def span_mismatches(expected_rows, got: dict, rewrite) -> tuple[int, list]:
    """Compare output documents span by span (kind, text, media_ref,
    order) against ``rewrite`` applied in-process to each input text
    span. ``got`` maps doc_id -> list of span rows."""
    bad, examples = 0, []
    for doc_id, spans in expected_rows:
        out = got.get(doc_id)
        exp = [(k, rewrite(t) if k == "text" and t else t, m, o)
               for k, t, m, o in spans]
        have = None if out is None else [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in out
        ]
        if have != exp:
            bad += 1
            if len(examples) < 3:
                examples.append(doc_id)
    return bad, examples


def inproc_layers(run: Run, docs_texts: list[list[str]], mode: str) -> None:
    """Single-thread, in-process timings of the pure-Python core over a
    fixed sample: tokenize (GC paused, as ``Rewriter.rewrite`` does),
    RELAXED sanitize and the reference handler set. ``mode`` names the
    pass the workload itself runs; its throughput and per-document
    latency are reported."""
    from selma_spark import tokenizer as tk
    from selma_spark.extract import reference_bench_handlers
    from selma_spark.rewriter import Rewriter
    from selma_spark.sanitizer import RELAXED

    texts = [t for doc in docs_texts for t in doc]
    n_bytes = sum(len(t.encode()) for t in texts)
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        with run.tracer.span("tokenizer.tokenize") as s:
            tokens = sum(len(tk.tokenize(t)) for t in texts)
    finally:
        if was_enabled:
            gc.enable()
    tok_s = s.dt

    def per_doc(name, rewriter):
        ms = []
        with run.tracer.span(name) as sp:
            for doc in docs_texts:
                t0 = time.perf_counter()
                for t in doc:
                    rewriter.rewrite(t)
                ms.append((time.perf_counter() - t0) * 1e3)
        return sp.dt, ms

    san_s, san_ms = per_doc("rewriter.sanitize", Rewriter(sanitizer=RELAXED))
    hnd_s, hnd_ms = per_doc(
        "rewriter.handlers",
        Rewriter(sanitizer=None, handlers=reference_bench_handlers()),
    )
    own_s, own_ms = (san_s, san_ms) if mode == "sanitize" else (hnd_s, hnd_ms)
    run.layers.update({
        "tokenizer.tokenize_s": tok_s,
        "tokenizer.tokens": tokens,
        "rewriter.sanitize_s": san_s,
        "rewriter.sanitize_self_s": san_s - tok_s,
        "rewriter.handlers_s": hnd_s,
        "rewriter.handlers_self_s": hnd_s - tok_s,
        "rewriter.mb_per_s": n_bytes / own_s / 1e6,
        "rewriter.doc_ms_p50": percentile(own_ms, 0.50),
        "rewriter.doc_ms_p99": percentile(own_ms, 0.99),
    })
    run.info["inproc_sample"] = {"docs": len(docs_texts), "texts": len(texts),
                                 "bytes": n_bytes}


def candidate_stats(run: Run, docs) -> None:
    """Text spans, candidate spans (non-empty text containing '<', the
    spans the rewrite function sends to Python) and distinct candidates
    (what a perfect per-span memo would rewrite)."""
    from pyspark.sql import functions as F

    s = docs.select(F.explode("spans").alias("s")).where(F.col("s.kind") == "text")
    cand = F.col("s.text").contains("<")
    _, row, _ = run.call("pipeline.candidate_stats", lambda: s.agg(
        F.count("*").alias("text_spans"),
        F.count(F.when(cand, 1)).alias("cands"),
        F.countDistinct(F.when(cand, F.col("s.text"))).alias("distinct"),
    ).collect()[0])
    run.layers.update({
        "pipeline.text_spans": row["text_spans"],
        "pipeline.candidate_spans": row["cands"],
        "pipeline.candidate_frac": row["cands"] / max(1, row["text_spans"]),
        "pipeline.distinct_candidate_frac": row["distinct"] / max(1, row["cands"]),
    })


def rewrite_layers(run: Run, docs, config, handlers_factory) -> dict:
    """scan / arrow hop / core split of the rewrite, each a median of
    three traced calls: scan = fingerprint of the input, hop = identity
    ``rewrite_documents(docs, None)`` minus scan, core = full rewrite
    minus identity. Returns the medians."""
    from selma_spark.spark.pipeline import rewrite_documents

    def timed3(name, df):
        runs = [run.call(name, lambda: run.fingerprint(df), metrics=True)
                for _ in range(3)]
        return median([r[0] for r in runs]), runs[-1]

    scan_s, _ = timed3("scan", docs)
    ident_s, (_, (_, ident_agg), _) = timed3(
        "pipeline.identity", rewrite_documents(docs, None))
    full_s, (_, (_, full_agg), full_sm) = timed3(
        "pipeline.full", rewrite_documents(docs, config, handlers_factory=handlers_factory))
    am = arrow_metrics(full_agg)
    run.info["identity_arrow"] = arrow_metrics(ident_agg)
    run.layers.update({
        "scan.s": scan_s,
        # on-disk bytes of the input table: the status store's inputBytes
        # undercounts nested parquet columns
        "scan.bytes": sum(p.stat().st_size for p in run.wl.files),
        "pipeline.hop_s": ident_s - scan_s,
        "pipeline.core_s": full_s - ident_s,
        "arrow.bytes_sent": am["bytes_sent"],
        "arrow.bytes_received": am["bytes_received"],
        "python.boot_ms": am["boot_ms"],
        "python.init_ms": am["init_ms"],
        "python.total_ms": am["total_ms"],
    })
    run.info["full_rewrite_stage"] = full_sm
    return {"scan": scan_s, "identity": ident_s, "full": full_s}


def one_core(run: Run, fn):
    """Run ``fn`` with one shuffle partition, so a job over a single
    coalesced input partition runs one task at a time."""
    conf = run.spark.conf
    old = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "1")
    try:
        return fn()
    finally:
        conf.set("spark.sql.shuffle.partitions", old)


def weak_scaling(run: Run, full_fn, quarter_fn) -> None:
    """Weak scaling of the workload's per-document pass: the quarter
    input on one core against the full input on four, interleaved
    twice; efficiency = median(T1 quarter) / median(T4 full)."""
    t4, t1 = [], []
    for _ in range(2):
        t4.append(run.call("scaling.full_4core", full_fn)[0])
        t1.append(run.call("scaling.quarter_1core", lambda: one_core(run, quarter_fn))[0])
    run.layers["scaling.eff"] = median(t1) / median(t4)
    run.info["scaling_s"] = {"full_4core": t4, "quarter_1core": t1}


def spark_layers(run: Run, sm: dict) -> None:
    run.layers.update({
        "spark.jobs": sm["jobs"],
        "spark.tasks": sm["tasks"],
        "spark.failed_tasks": sm["failed_tasks"],
        "spark.executor_run_s": sm["executor_run_s"],
        "spark.jvm_cpu_s": sm["jvm_cpu_s"],
        "spark.gc_s": sm["gc_s"],
        "spark.spill_bytes": sm["spill_bytes"],
    })


def traced_jobs(run: Run) -> dict:
    """The workload's job untraced, then again with Spark metrics
    collected; records the tracing overhead and returns the untraced
    time (the reference the layer times are held against), the traced
    time and the traced call's stage metrics."""
    untraced_s, out, _ = run.call("job", lambda: run.wl.job(run, -1))
    fps = [run.wl.output_fingerprint(run, out)]
    traced_s, out, sm = run.call("job.traced", lambda: run.wl.job(run, -1), metrics=True)
    fps.append(run.wl.output_fingerprint(run, out))
    ref = run.info["output_fingerprint"]
    run.check("traced jobs give the timed jobs' fingerprint",
              all(f == ref for f in fps), checked=len(fps),
              mismatched=sum(f != ref for f in fps))
    run.layers["trace.overhead_frac"] = traced_s / untraced_s - 1
    spark_layers(run, sm)
    run.info["trace_pair_s"] = {"untraced": untraced_s, "traced": traced_s}
    return {"untraced_s": untraced_s, "traced_s": traced_s, "stage": sm}


# -- workloads -----------------------------------------------------------------------


class SpansSanitize:
    name = "spans_sanitize"
    why = ("many small rows: the arrow hop, candidate mask and memos "
           "matter; the only workload that shuffles, writes and builds lineage")
    # the first two jobs after the warm-up still run slow (JIT); with
    # five the median lies past them
    min_jobs = 5
    warmup_jobs = 1
    N_DOCS = 20_000
    N_FILES = 16
    N_BUCKETS = 8
    CONFIG = "relaxed"

    def generate(self, run):
        self.rows = list(gen.span_docs(run.seed, self.N_DOCS))
        self.n_docs = len(self.rows)
        self.n_bytes = html_bytes(self.rows)
        self.input_fp = gen.fingerprint(self.rows)

    def materialise(self, run):
        self.files = write_span_files(self.rows, run.work / "input", self.N_FILES,
                                      lambda k, _row: k % self.N_FILES)

    def load(self, run):
        self.docs = run.spark.read.parquet(str(run.work / "input"))
        self.quarter = run.spark.read.parquet(
            *[str(p) for p in self.files[1::4]])

    def _pipeline(self, run, docs, out_dir, resume=False):
        from selma_spark.spark.pipeline import run_pipeline

        return run_pipeline(run.spark, docs, str(out_dir), config=self.CONFIG,
                            n_buckets=self.N_BUCKETS, resume=resume)

    def job(self, run, i):
        out = run.work / "out" / f"job{i}"
        shutil.rmtree(out, ignore_errors=True)
        return self._pipeline(run, self.docs, out)

    def output_fingerprint(self, run, res):
        self.last = res
        out = run.spark.read.parquet(res.output_path).select("doc_id", "spans")
        return run.fingerprint(out)[0]

    def checks(self, run):
        from pyspark.sql import functions as F

        from selma_spark.rewriter import Rewriter
        from selma_spark.sanitizer import BUILTIN_CONFIGS

        res = self.last
        lineage = run.spark.read.parquet(res.lineage_path)
        n = lineage.agg(F.sum("doc_count")).collect()[0][0]
        run.check("lineage doc_count sums to input docs", n == self.n_docs,
                  detail=f"{n} vs {self.n_docs}")
        # resume over the fully committed output rewrites nothing and
        # leaves the output unchanged
        before = run.info["output_fingerprint"]
        dt, _, sm = run.call(
            "pipeline.resume",
            lambda: self._pipeline(run, self.docs, Path(res.output_path).parent,
                                   resume=True),
            metrics=run.trace)
        after = self.output_fingerprint(run, res)
        run.check("resume leaves the output fingerprint unchanged",
                  after == before, detail=str(after))
        run.layers["pipeline.resume_s"] = dt
        if sm is not None:
            run.layers["pipeline.resume_read_bytes"] = sm["input_bytes"]
        # span-by-span comparison against the pure core, in-process
        stride = self.n_docs // SAMPLE_DOCS
        sample = self.rows[::stride][:SAMPLE_DOCS]
        ids = [d for d, _ in sample]
        got = {r["doc_id"]: r["spans"] for r in
               run.spark.read.parquet(res.output_path)
               .where(F.col("doc_id").isin(ids)).collect()}
        rw = Rewriter(sanitizer=BUILTIN_CONFIGS[self.CONFIG])
        bad, ex = span_mismatches(sample, got, rw.rewrite)
        run.check("sampled docs equal the in-process core", bad == 0,
                  checked=len(sample), mismatched=bad, detail=ex)
        self.sample = sample

    def layers(self, run):
        from selma_spark.spark import pipeline as P

        tj = traced_jobs(run)
        parts = rewrite_layers(run, self.docs, self.CONFIG, None)

        def write():
            b = P.bucketed(self.docs, self.N_BUCKETS).repartition(self.N_BUCKETS, "bucket")
            sink = P.ParquetSink(str(run.work / "write_only"))
            sink.prepare(run.spark)
            sink.write_documents(P.rewrite_documents(b, self.CONFIG))

        w = [run.call("pipeline.write", write, metrics=True) for _ in range(3)]
        write_s = median([x[0] for x in w])
        pipeline_s = tj["traced_s"]
        wsm = w[-1][2]
        run.layers.update({
            "pipeline.write_s": write_s,
            "pipeline.write_self_s": write_s - parts["full"],
            "pipeline.lineage_s": pipeline_s - write_s,
            "pipeline.shuffle_bytes": wsm["shuffle_write_bytes"],
            "sink.bytes_written": wsm["output_bytes"],
        })
        # scan + hop + core + write self + lineage, against the untraced
        # job time
        run.layers["trace.layer_sum_ratio"] = (
            parts["scan"] + (parts["identity"] - parts["scan"])
            + (parts["full"] - parts["identity"]) + (write_s - parts["full"])
            + (pipeline_s - write_s)
        ) / tj["untraced_s"]
        candidate_stats(run, self.docs)
        weak_scaling(
            run,
            lambda: run.fingerprint(P.rewrite_documents(self.docs, self.CONFIG)),
            lambda: run.fingerprint(
                P.rewrite_documents(self.quarter.coalesce(1), self.CONFIG)),
        )
        inproc_layers(run, [[t for k, t, _, _ in spans if k == "text" and t]
                            for _, spans in self.sample], "sanitize")


class PagesHandlers:
    name = "pages_handlers"
    why = ("few rows, many bytes: handler VM, selector matching and tokenizer "
           "cold paths; 2-7 MB pages make single-document stragglers visible")
    min_jobs = 5
    warmup_jobs = 1
    N_SMALL = 200
    N_MEDIUM = 40
    N_FILES = 4

    def generate(self, run):
        self.rows = list(gen.pages(run.seed, self.N_SMALL, self.N_MEDIUM))
        self.n_docs = len(self.rows)
        self.n_bytes = html_bytes(self.rows)
        self.input_fp = gen.fingerprint(self.rows)

    def materialise(self, run):
        # largest-first onto the lightest file: byte-balanced files, so
        # each input partition carries a quarter of the bytes
        load = [0] * self.N_FILES
        assign = {}
        for k in sorted(range(self.n_docs), key=lambda k: -len(self.rows[k][1][0][1])):
            f = load.index(min(load))
            assign[k] = f
            load[f] += len(self.rows[k][1][0][1])
        self.files = write_span_files(self.rows, run.work / "input", self.N_FILES,
                                      lambda k, _row: assign[k])

    def load(self, run):
        self.docs = run.spark.read.parquet(str(run.work / "input"))

    def _rewrite(self, docs):
        from selma_spark import extract
        from selma_spark.spark.pipeline import rewrite_documents

        return rewrite_documents(docs, None,
                                 handlers_factory=extract.reference_bench_handlers)

    def job(self, run, i):
        return run.fingerprint(self._rewrite(self.docs))[0]

    def output_fingerprint(self, run, fp):
        return fp

    def checks(self, run):
        from pyspark.sql import functions as F

        from selma_spark.extract import reference_bench_handlers
        from selma_spark.rewriter import Rewriter

        # every other small and medium page: the core runs single-threaded
        # here, and the three large pages alone would take longer than
        # the whole timed phase
        sample = self.rows[:self.N_SMALL + self.N_MEDIUM:2]
        ids = [d for d, _ in sample]
        _, rows, _ = run.call("check.sample", lambda: self._rewrite(
            self.docs.where(F.col("doc_id").isin(ids))).collect())
        got = {r["doc_id"]: r["spans"] for r in rows}
        rw = Rewriter(sanitizer=None, handlers=reference_bench_handlers())
        bad, ex = span_mismatches(sample, got, rw.rewrite)
        run.check("sampled pages equal the in-process core", bad == 0,
                  checked=len(sample), mismatched=bad, detail=ex)
        self.sample = sample

    def layers(self, run):
        from selma_spark.extract import reference_bench_handlers

        tj = traced_jobs(run)
        parts = rewrite_layers(run, self.docs, None, reference_bench_handlers)
        # scan + hop + core, against the untraced job time
        run.layers["trace.layer_sum_ratio"] = parts["full"] / tj["untraced_s"]
        candidate_stats(run, self.docs)
        inproc_layers(run, [[spans[0][1]] for _, spans in self.sample], "handlers")


class NearDup:
    name = "near_dup"
    why = ("pure Spark SQL shuffles, joins and per-round checkpoints, no "
           "Python UDF: a rewriter change must read no change here")
    min_jobs = 2
    # ~50 distinct Spark queries per job: the JIT needs two jobs before
    # a job's CPU time settles
    warmup_jobs = 2
    N_FAMILIES = 400
    FAMILY_SIZE = 3
    N_DECOYS = 400
    N_SINGLETONS = 2000
    N_FILES = 8

    def generate(self, run):
        self.rows, self.planted = gen.near_dup_docs(
            run.seed, self.N_FAMILIES, self.FAMILY_SIZE, self.N_DECOYS,
            self.N_SINGLETONS)
        self.n_docs = len(self.rows)
        self.n_bytes = sum(len(t.encode()) for _, t in self.rows)
        self.input_fp = gen.fingerprint(self.rows)

    def materialise(self, run):
        out = run.work / "input"
        out.mkdir(parents=True)
        for f in range(self.N_FILES):
            part = self.rows[f::self.N_FILES]
            pq.write_table(pa.table({"doc_id": [r[0] for r in part],
                                     "text": [r[1] for r in part]},
                                    schema=TEXT_SCHEMA), out / f"part-{f:05d}.parquet")

    def load(self, run):
        self.docs = run.spark.read.parquet(str(run.work / "input"))

    def _calls(self, docs):
        from selma_spark.spark import textops

        verified = textops.near_dup_verified(docs).collect()
        clusters = textops.near_dup_clusters(docs).collect()
        return verified, clusters

    def job(self, run, i):
        return self._calls(self.docs)

    def output_fingerprint(self, run, out):
        self.last = out
        h = hashlib.sha256()
        for rows in out:
            for r in sorted(tuple(r) for r in rows):
                h.update(repr(r).encode())
        return h.hexdigest()

    def checks(self, run):
        verified, clusters = self.last
        text = dict(self.rows)
        sh = {}
        bad, ex = 0, []
        for r in verified:
            a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
            for d in (a, b):
                if d not in sh:
                    sh[d] = gen.shingles(text[d])
            exact = gen.jaccard(sh[a], sh[b])
            if not (a < b and abs(exact - j) <= 1e-4 and exact >= 0.5):
                bad += 1
                if len(ex) < 3:
                    ex.append((a, b, j, exact))
        run.check("verified pairs re-checked with an independent Jaccard",
                  bad == 0 and len(verified) > 0, checked=len(verified),
                  mismatched=bad, detail=ex)
        cid = {r["doc_id"]: r["cluster_id"] for r in clusters}
        split = sum(cid.get(r["doc_a"]) != cid.get(r["doc_b"]) for r in verified)
        run.check("verified pairs share a cluster", split == 0,
                  checked=len(verified), mismatched=split)
        found = {(r["doc_a"], r["doc_b"]) for r in verified}
        run.info["recall"] = len(found & self.planted) / max(1, len(self.planted))

    def layers(self, run):
        from pyspark.sql import functions as F

        from selma_spark.spark import textops

        tj = traced_jobs(run)
        sig_s, _, _ = run.call("textops.signature", lambda: run.fingerprint(
            textops.minhash_signatures(self.docs)), metrics=True)
        cand_s, n_cand, _ = run.call("textops.candidates", lambda: textops.near_dup_pairs(
            self.docs, ordered=False).count(), metrics=True)
        ver_s, ver, _ = run.call("textops.verify", lambda: textops.near_dup_verified(
            self.docs).collect(), metrics=True)
        clu_s, _, clu_sm = run.call("textops.clusters", lambda: textops.near_dup_clusters(
            self.docs).agg(F.countDistinct("cluster_id")).collect(), metrics=True)
        run.layers.update({
            "textops.signature_s": sig_s,
            "textops.candidates_s": cand_s,
            "textops.verify_s": ver_s - cand_s,
            "textops.clusters_s": clu_s,
            "textops.candidates": n_cand,
            "textops.verified": len(ver),
            "textops.selectivity": len(ver) / max(1, n_cand),
            "textops.recall": run.info["recall"],
            "textops.cluster_jobs": clu_sm["jobs"],
            "textops.shuffle_bytes": tj["stage"]["shuffle_write_bytes"],
            "trace.layer_sum_ratio": (ver_s + clu_s) / tj["untraced_s"],
        })


WORKLOADS = {w.name: w for w in (SpansSanitize, PagesHandlers, NearDup)}
