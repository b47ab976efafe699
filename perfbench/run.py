"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, runs it against the
``prox_spark`` package of the checkout this file sits in, checks every
output, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(spans are also written under ``.bench_work/traces/``); a layer the
workload does not exercise reports 0. Any failed output check exits 1.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("medallion", "lakehouse_serving")

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_live_byte": "B/B",
}

PER_LAYER = {
    "session.start_s": "s",
    "trace.job_overhead_s": "s",
    "trace.get_p50_overhead_ms": "ms",
    "pipeline.retries": "count",
    "jobs.load_bronze_s": "s",
    "jobs.silver_s": "s",
    "jobs.gold_s": "s",
    "jobs.write_gold_s": "s",
    "jobs.kpis_s": "s",
    "jobs.write_kpis_s": "s",
    "validate.enforce_schema_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "B",
    "llm_jobs.ingest_s": "s",
    "llm_jobs.signals_s": "s",
    "llm_jobs.card_s": "s",
    "llm_jobs.corpus_s": "s",
    "llm_jobs.splits_s": "s",
    "llm_jobs.freeze_s": "s",
    "llm_jobs.register_s": "s",
    "txn.commit_s": "s",
    "mv.create_s": "s",
    "artifacts.maintain_s": "s",
    "text.band_rows": "count",
    "text.candidate_pairs": "count",
    "text.verified_pairs": "count",
    "text.pair_yield": "ratio",
    "text.minhash_s": "s",
    "text.verify_s": "s",
    "text.planted_pairs": "count",
    "text.planted_found": "count",
    "table.live_files": "count",
    "table.files_per_get": "count",
    "table.get_file_fraction": "ratio",
    "table.pending_deletes": "count",
    "table.manifest_read_ms": "ms",
    "table.maintain_s": "s",
    "table.maintain_compactions": "count",
    "table.bytes_written_per_put_byte": "B/B",
    "upsert.files_rewritten_per_put": "count",
    "upsert.put_p50_ms": "ms",
    "upsert.delete_p50_ms": "ms",
    "wand.build_s": "s",
    "wand.search_p50_ms": "ms",
    "wand.files_opened": "count",
    "wand.files_full": "count",
    "wand.open_fraction": "ratio",
    "spark.jobs_per_get": "count",
    "spark.tasks_per_get": "count",
    "spark.jobs_per_search": "count",
    "spark.tasks_per_search": "count",
    "spark.jobs_per_put": "count",
    "spark.tasks_per_put": "count",
    "spark.jobs_per_delete": "count",
    "spark.tasks_per_delete": "count",
    "spark.jobs_per_run": "count",
    "spark.tasks_per_run": "count",
    "spark.failed_tasks": "count",
}


@dataclass
class Ctx:
    """What a workload module receives: the session, its inputs' seed,
    the run length, a private work directory and the accounting."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: object
    groups: object
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # end-to-end (trace 0) or per-layer (trace 1) values by metric name
    metrics: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def account(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, Python and DuckDB write inside ``work``,
    and let Spark's Python workers import the checkout's package."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        importlib.import_module("prox_spark")
    except ImportError as ex:
        print(f"perfbench: cannot import the program under test: {ex}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    from tracing import JobGroups, Tracer, peak_rss_mb, stop_spark

    from prox_spark.session import get_spark

    workload = importlib.import_module(args.workload)
    tracer = Tracer(args.trace == 1)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, args.seed, args.seconds, args.trace == 1, work, tracer,
              JobGroups(spark))
    try:
        workload.run(ctx, session_s)
    finally:
        tracer.unwrap()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if ctx.trace:
        tracer.dump(os.path.join(ROOT, ".bench_work", "traces",
                                 f"{args.workload}-seed{args.seed}.jsonl"))
        ctx.metrics["session.start_s"] = session_s
        want = PER_LAYER
    else:
        ctx.metrics["peak_rss_mb"] = peak_rss_mb()
        want = END_TO_END
        missing = sorted(set(want) - set(ctx.metrics))
        ctx.check(not missing, f"workload reported no value for {missing}")
    result = {
        "correct": not ctx.failures,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {
            name: {"value": float(ctx.metrics.get(name, 0.0)), "unit": unit}
            for name, unit in want.items()
        },
    }
    print(json.dumps(result))
    return 0 if not ctx.failures else 1


if __name__ == "__main__":
    sys.exit(main())
