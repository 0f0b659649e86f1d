"""Measurement shared by ``bench.py``, ``tools/`` and the tests.

:func:`min_seconds` is pure timing (no job group, no listener), so a
timed path that uses it carries no instrumentation. :func:`count_jobs`
and :func:`profile` attribute jobs through ``setJobGroup`` and read them
back from ``statusTracker()`` and the status store, which work with
``spark.ui.enabled=false``. A job run on a pool thread counts only if
the thread inherits the caller's local properties
(``pyspark.inheritable_thread_target``).
"""

from __future__ import annotations

import itertools
import time

_groups = itertools.count()

#: The layers of one :func:`profile` pass, in the order they run.
LAYERS = ("build", "plan", "execute", "fetch")


#: The thread-local properties ``setJobGroup`` sets.
_JOB_LABELS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _job_labels(sc) -> dict:
    return {key: sc.getLocalProperty(key) for key in _JOB_LABELS}


def _restore_job_labels(sc, prior: dict) -> None:
    """Put back the job group and description the caller had, so the
    jobs and SQL executions it runs later keep their own labels."""
    for key, value in prior.items():
        sc.setLocalProperty(key, value)


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group
    (``setJobGroup`` + ``statusTracker()`` work with the UI off)."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_groups)}"
    prior = _job_labels(sc)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        _restore_job_labels(sc, prior)
    # Job events reach the status store through the async listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def min_seconds(fn, runs: int) -> float:
    """Fewest wall seconds over ``runs`` calls of ``fn``."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def profile(spark, fn) -> dict:
    """One pass of the query ``fn()`` (returns a DataFrame), by layer:
    ``build`` runs ``fn`` (construction, with any jobs the operator runs
    before it returns), ``plan`` makes the physical plan, ``execute``
    runs the query into the ``noop`` sink and ``fetch`` collects it,
    running it again. The ``noop`` write builds its own query execution,
    so ``execute`` includes a second analysis and planning of the query,
    for which ``plan`` is the estimate; ``fetch`` reuses the plan from
    the ``plan`` step, so the transfer to Python rows is about
    ``fetch - (execute - plan)``.

    Returns ``{"wall_s", "rows", <layer>: {"s", "jobs", "stages",
    "tasks", "executor_run_s", "input_bytes", "shuffle_write_bytes",
    "spill_bytes"}}``;
    job statistics are read after the pass, outside ``wall_s``."""
    sc = spark.sparkContext
    groups = {layer: f"profile-{next(_groups)}-{layer}" for layer in LAYERS}
    seconds: dict[str, float] = {}

    def timed(layer, step):
        t0 = time.perf_counter()
        sc.setJobGroup(groups[layer], groups[layer])
        result = step()
        seconds[layer] = round(time.perf_counter() - t0, 4)
        return result

    prior = _job_labels(sc)
    t_pass = time.perf_counter()
    try:
        df = timed("build", fn)
        timed("plan", lambda: df._jdf.queryExecution().executedPlan())
        timed("execute", lambda: df.write.format("noop").mode("overwrite").save())
        rows = len(timed("fetch", df.collect))
        wall = round(time.perf_counter() - t_pass, 4)
    finally:
        _restore_job_labels(sc, prior)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    layers = {layer: {"s": seconds[layer], **_group_stats(sc, groups[layer])} for layer in LAYERS}
    return {"wall_s": wall, "rows": rows, **layers}


def _group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks, executor run time, input (scan) bytes,
    shuffle write and spill of ``group``'s jobs; a skipped stage (reused
    shuffle) is not counted."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    jobs = stages = tasks = run_ms = input_bytes = shuffle = spill = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
            for sd in (attempts.apply(i) for i in range(attempts.size())):
                if str(sd.status()) == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                run_ms += sd.executorRunTime()
                input_bytes += sd.inputBytes()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return {
        "jobs": jobs, "stages": stages, "tasks": tasks, "executor_run_s": run_ms / 1000,
        "input_bytes": input_bytes, "shuffle_write_bytes": shuffle, "spill_bytes": spill,
    }
