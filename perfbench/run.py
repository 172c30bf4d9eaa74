"""selma_spark benchmark: one seeded workload per run, on local[4].

    python3 perfbench/run.py --workload spans_sanitize --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --seed 1            # every workload, one process each

Run from the repository root. The run generates its input from the seed,
times the workload's jobs for at least ``--seconds`` seconds, checks the
outputs and prints, as its last stdout line, one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full report (environment, checks, per-job
times, layers). Every file the run writes stays under
``perfbench/_work``; traces go to ``perfbench/_work/traces``.

Exit status: 0 when every workload ran and every check passed, 1 when a
workload failed or a check did not pass (the JSON is still printed), 2
when the program to benchmark is not there (nothing is printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

WORKLOAD_NAMES = ("spans_sanitize", "pages_handlers", "near_dup")

# (name, unit): every per-layer metric, printed on every workload with
# --trace 1; 0 means the workload does not exercise that layer
PER_LAYER = (
    ("session.start_s", "s"), ("shipping.zip_s", "s"),
    ("scan.s", "s"), ("scan.bytes", "bytes"),
    ("pipeline.hop_s", "s"), ("arrow.bytes_sent", "bytes"),
    ("arrow.bytes_received", "bytes"), ("python.boot_ms", "ms"),
    ("python.init_ms", "ms"), ("python.total_ms", "ms"),
    ("pipeline.core_s", "s"), ("pipeline.text_spans", "count"),
    ("pipeline.candidate_spans", "count"), ("pipeline.candidate_frac", "ratio"),
    ("pipeline.distinct_candidate_frac", "ratio"),
    ("pipeline.write_s", "s"), ("pipeline.write_self_s", "s"),
    ("pipeline.lineage_s", "s"), ("pipeline.resume_s", "s"),
    ("pipeline.shuffle_bytes", "bytes"), ("sink.bytes_written", "bytes"),
    ("pipeline.resume_read_bytes", "bytes"),
    ("tokenizer.tokenize_s", "s"), ("tokenizer.tokens", "count"),
    ("rewriter.sanitize_s", "s"), ("rewriter.sanitize_self_s", "s"),
    ("rewriter.handlers_s", "s"), ("rewriter.handlers_self_s", "s"),
    ("rewriter.mb_per_s", "MB/s"), ("rewriter.doc_ms_p50", "ms"),
    ("rewriter.doc_ms_p99", "ms"),
    ("textops.signature_s", "s"), ("textops.candidates_s", "s"),
    ("textops.verify_s", "s"), ("textops.clusters_s", "s"),
    ("textops.candidates", "count"), ("textops.verified", "count"),
    ("textops.selectivity", "ratio"), ("textops.recall", "ratio"),
    ("textops.cluster_jobs", "count"), ("textops.shuffle_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.jvm_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"),
    ("scaling.eff", "ratio"), ("trace.overhead_frac", "ratio"),
    ("trace.layer_sum_ratio", "ratio"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", default="all",
                   choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="minimum length of the timed phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_one(args) -> int:
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    # every temp file of the driver, the JVM and the Python workers
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    sys.path.insert(0, str(ROOT))

    import tempfile

    import workloads
    from tracing import RssSampler, Tracer

    tempfile.tempdir = None  # re-read TMPDIR
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sampler = RssSampler(os.getpid())
    sampler.start()
    run = workloads.Run(workloads.WORKLOADS[args.workload](), args.seed,
                        args.seconds, bool(args.trace), work, tracer)
    report = {"run_id": run_id, "workload": args.workload,
              "why": run.wl.why, "trace": args.trace}
    error = None
    e2e = {}
    attempted = failed = 0
    try:
        e2e = run.run(lambda: sampler.peak)
        report["env"] = run.env()
        attempted, failed = run.failures()
    except Exception as exc:  # a failing workload still gets its report
        error = f"{type(exc).__name__}: {exc}"
        report["error"] = error
        report["traceback"] = traceback.format_exc()
        failed += 1
        attempted += max(1, run.jobs_run)
    finally:
        try:
            stop_spark()
        finally:
            sampler.stop()
    report.update(checks=run.checks, info=run.info, layers=run.layers,
                  attempted=attempted, failed=failed)
    if args.trace:
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        trace_path = WORK / "traces" / f"{run_id}.json"
        tracer.write(str(trace_path))
        report["trace_file"] = str(trace_path.relative_to(ROOT))
        metrics = {name: {"value": float(run.layers.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in e2e.items()}
    correct = error is None and failed == 0 and all(c["ok"] for c in run.checks)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics if error is None else {}}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process, so each pays its own set-up; a
    workload that crashes gets an ``{"error": ...}`` slot."""
    slots, ok = {}, True
    total_attempted = total_failed = 0
    metrics = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            result = None
        if result is None or proc.returncode not in (0, 1):
            slots[name] = {"error": f"exit {proc.returncode} without a result"}
            total_attempted += 1
            total_failed += 1
            ok = False
            continue
        slots[name] = {"report": json.loads(lines[-2]), "result": result}
        ok = ok and proc.returncode == 0 and result["correct"]
        total_attempted += result["attempted"]
        total_failed += result["failed"]
        for k, v in result["metrics"].items():
            metrics[f"{name}.{k}"] = v
    print(json.dumps({"workloads": slots}, default=str))
    print(json.dumps({"correct": ok, "attempted": max(1, total_attempted),
                      "failed": total_failed, "metrics": metrics}))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "selma_spark" / "__init__.py").is_file():
        print(f"perfbench: no selma_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
