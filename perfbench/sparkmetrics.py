"""Spark metrics read from outside the program.

Two sources, both read after an action has finished:

* ``stage_metrics(spark, group)`` sums the status store's per-stage task
  metrics over every job run under one job group (set with
  ``SparkContext.setJobGroup``). The status store is live even with the
  UI disabled.
* ``arrow_metrics(df)`` sums the python SQL metrics of every
  ``MapInArrow`` node in ``df``'s executed plan (walking through the
  adaptive plan and its query stages). ``executorCpuTime`` counts JVM
  threads only, so Python time has to come from here.
"""

from __future__ import annotations

# status-store field -> (output name, scale)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "jvm_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("inputBytes", "input_bytes", 1),
    ("outputBytes", "output_bytes", 1),
)

# MapInArrow SQL metric -> output name (timings are in ms, sizes in bytes)
ARROW_FIELDS = (
    ("pythonDataSent", "bytes_sent"),
    ("pythonDataReceived", "bytes_received"),
    ("pythonBootTime", "boot_ms"),
    ("pythonInitTime", "init_ms"),
    ("pythonTotalTime", "total_ms"),
    ("pythonNumRowsReceived", "rows_received"),
)


def stage_metrics(spark, group: str) -> dict:
    """Totals over the stages of every job in ``group``. Skipped stages
    (shuffle output reused) are not counted; ``retried_stages`` counts
    stages whose last attempt is not the first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
           "retried_stages": 0}
    for _, name, _ in _STAGE_FIELDS:
        out[name] = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks()
            out["retried_stages"] += int(sd.attemptId() > 0)
            for field, name, scale in _STAGE_FIELDS:
                out[name] += getattr(sd, field)() * scale
    return out


def _plan_nodes(node):
    """Every physical node under ``node``, descending into the adaptive
    plan's current plan and each query stage's plan."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        else:
            children = n.children()
            stack.extend(children.apply(i) for i in range(children.size()))


def arrow_metrics(df) -> dict:
    """Sum of the python SQL metrics over the MapInArrow nodes of ``df``'s
    executed plan; call after an action on ``df`` itself. ``nodes`` is
    the number of MapInArrow nodes found."""
    out = {name: 0 for _, name in ARROW_FIELDS}
    out["nodes"] = 0
    plan = df._jdf.queryExecution().executedPlan()
    for node in _plan_nodes(plan):
        if node.getClass().getSimpleName() != "MapInArrowExec":
            continue
        out["nodes"] += 1
        metrics = node.metrics()
        for field, name in ARROW_FIELDS:
            m = metrics.get(field)
            if m.isDefined():
                out[name] += m.get().value()
    return out
