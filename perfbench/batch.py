"""Running one pipeline job (``jobs.run_medallion`` or
``llm_jobs.run_llm_pipeline``) the way both workloads do: in its own
Spark job group, with every stage accounted and checked."""

from __future__ import annotations

import time
from dataclasses import dataclass

from tracing import median


@dataclass
class Job:
    seconds: float
    results: dict  # stage name -> prox_spark.pipeline.StageResult
    spark: dict    # JobGroups.stats of the job's group
    out: str


def run_job(ctx, label: str, job, out: str) -> Job:
    """Run ``job(out) -> {stage: StageResult}``; a stage that failed or
    needed a retry counts as failed, and a failed stage fails the run."""
    with ctx.groups.group(label) as gid, ctx.tracer.span(label, root=True):
        t0 = time.perf_counter()
        results = job(out)
        seconds = time.perf_counter() - t0
    stats = ctx.groups.stats(gid)
    bad = [r for r in results.values() if r.status != "succeeded" or r.attempts > 1]
    ctx.account(len(results), len(bad) + stats["failed_tasks"])
    for r in results.values():
        ctx.check(r.status == "succeeded", f"{label} stage {r.name} {r.status}: {r.error}")
    return Job(seconds, results, stats, out)


def job_layers(ctx, job: Job, prefix: str) -> None:
    """Per-layer figures of one job: stage durations as the pipeline
    recorded them, retries, and the Spark jobs/tasks it ran."""
    m = ctx.metrics
    for name, r in job.results.items():
        m[f"{prefix}.{name}_s"] = r.duration_s
    m["pipeline.retries"] = sum(r.attempts - 1 for r in job.results.values())
    m["spark.jobs_per_run"] = job.spark["jobs"]
    m["spark.tasks_per_run"] = job.spark["tasks"]
    m["spark.failed_tasks"] = m.get("spark.failed_tasks", 0) + job.spark["failed_tasks"]


def trace_stages(ctx) -> None:
    """Span every pipeline stage, from the public ``Pipeline.add_stage``."""
    from prox_spark.pipeline import Pipeline

    tracer = ctx.tracer
    add_stage = Pipeline.add_stage

    def traced_add_stage(self, name, fn, depends_on=None, **kw):
        def staged(c):
            with tracer.span(f"stage.{name}"):
                return fn(c)
        return add_stage(self, name, staged, depends_on, **kw)

    tracer.patch(Pipeline, "add_stage", traced_add_stage)


def timed_setup(fn, repeats: int = 3):
    """Run the pure input generation ``repeats`` times; returns (last
    result, median seconds) so a single slow pass does not move
    ``setup_s``."""
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, median(times)
