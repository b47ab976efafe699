"""``medallion``: the reference's own workload — ``jobs.run_medallion``
(bronze -> silver -> gold star schema + KPI tables) over seeded PROX
bronze, end to end, as the first job of a fresh session: the cost a
scheduled Glue-style job pays on every run."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import time

import pyarrow.parquet as pq

import gen
from batch import job_layers, run_job, timed_setup, trace_stages
from tracing import dir_bytes, tree_bytes

# KPI table written by run_medallion -> its oracle in queries/kpi_q.py
KPI_ORACLES = {
    "bookings_per_location_service": "q51_kpi_bookings_per_location_service",
    "avg_rating_per_provider": "q52_kpi_avg_rating_per_provider",
    "monthly_revenue_per_provider": "q53_kpi_monthly_revenue_per_provider",
    "pct_ai_generated": "q54_kpi_pct_ai_generated",
    "top5_booked_categories_this_week": "q55_kpi_top5_booked_categories_week",
    "top5_providers_by_bookings": "q56_kpi_top5_providers_by_bookings",
    "top5_disputed_providers": "q57_kpi_top5_disputed_providers",
    "top_rated_providers": "q58_kpi_top_rated_providers",
}


def _norm(v):
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 2)
    if isinstance(v, dt.datetime) and v.time() == dt.time(0):
        v = v.date()  # DuckDB's date_trunc('month', ts) is a DATE
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def rows_hash(rows: list[dict], cols: list[str]) -> str:
    """Order-insensitive hash of ``rows`` projected on ``cols``, with
    money/ratio values compared at their 2-decimal KPI precision."""
    lines = sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_sql(bronze_paths: dict[str, str]) -> dict[str, str]:
    """The q51-q58 DuckDB oracles, reading the benchmark's bronze files.
    run_medallion's weekly KPI anchors on today's date, so the oracle's
    fixed anchor becomes ``current_date`` too."""
    from unittest import mock

    from prox_spark.queries import kpi_q

    with mock.patch.object(kpi_q, "stage_fixtures", lambda: bronze_paths):
        sql = {k: kpi_q._ORACLE_BUILDERS[q]() for k, q in KPI_ORACLES.items()}
    anchor = f"DATE '{kpi_q.WEEK_ANCHOR}'"
    sql["top5_booked_categories_this_week"] = sql[
        "top5_booked_categories_this_week"].replace(anchor, "current_date")
    return sql


def check_kpis(ctx, kpi_dir: str, sql: dict[str, str]) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{ctx.work}/tmp'")
        for name, q in sql.items():
            want = con.execute(q).fetch_arrow_table()
            got = pq.read_table(os.path.join(kpi_dir, name))
            cols = want.column_names
            ctx.check(set(cols) <= set(got.column_names),
                      f"kpi {name}: columns {got.column_names} lack {cols}")
            if set(cols) <= set(got.column_names):
                ctx.check(
                    rows_hash(got.to_pylist(), cols) == rows_hash(want.to_pylist(), cols),
                    f"kpi {name}: {got.num_rows} rows differ from the DuckDB oracle "
                    f"({want.num_rows} rows)",
                )
    finally:
        con.close()


def run(ctx, session_s: float) -> None:
    import prox_spark.jobs as jobs_mod
    import prox_spark.silver as silver_mod

    bronze_dir = os.path.join(ctx.work, "bronze")
    rows, gen_s = timed_setup(lambda: gen.bronze_rows(ctx.seed))
    t0 = time.perf_counter()
    paths = gen.write_bronze(rows, bronze_dir)
    setup_s = session_s + gen_s + (time.perf_counter() - t0)

    if ctx.trace:
        trace_stages(ctx)
        ctx.tracer.wrap(jobs_mod, "to_silver", "silver.to_silver")
        ctx.tracer.wrap(jobs_mod, "build_star_schema", "gold.build_star_schema")
        ctx.tracer.wrap(jobs_mod, "write_gold", "gold.write_gold")
        ctx.tracer.wrap(silver_mod, "enforce_schema", "validate.enforce_schema")
        ctx.tracer.wrap(silver_mod, "dedup_by_key", "validate.dedup_by_key")

    def medallion(out):
        return jobs_mod.run_medallion(ctx.spark, bronze_dir, out)

    # the scheduled job: the first (cold) job of a fresh session
    job = run_job(ctx, "medallion", medallion, os.path.join(ctx.work, "out"))
    ctx.tracer.enabled = False

    silver = job.results["silver"].output or {}
    for name, n in gen.distinct_key_counts(rows).items():
        got = silver[name].count() if name in silver else None
        ctx.check(got == n, f"silver {name}: {got} rows, generator has {n} distinct keys")
    kpi_dir = os.path.join(job.out, "kpis")
    gold_dir = os.path.join(job.out, "gold")
    check_kpis(ctx, kpi_dir, oracle_sql(paths))

    m = ctx.metrics
    if ctx.trace:
        job_layers(ctx, job, "jobs")
        gf, gb = dir_bytes(gold_dir)
        kf, kb = dir_bytes(kpi_dir)
        m["io.files_written"] = gf + kf
        m["io.bytes_written"] = gb + kb
        m["validate.enforce_schema_s"] = sum(ctx.tracer.durations("validate.enforce_schema"))
        # tracing overhead: a traced warm job against the untraced warm
        # jobs either side of it (warm jobs still speed up one by one)
        warm = []
        for i, traced in enumerate((False, True, False)):
            ctx.tracer.enabled = traced
            warm.append(run_job(ctx, "warm", medallion, os.path.join(ctx.work, f"warm{i}")))
        ctx.tracer.enabled = False
        m["trace.job_overhead_s"] = warm[1].seconds - (warm[0].seconds + warm[2].seconds) / 2
        m["spark.failed_tasks"] += sum(j.spark["failed_tasks"] for j in warm)
        return
    m["setup_s"] = setup_s
    m["cold_s"] = job.seconds
    m["latency_p50_ms"] = job.seconds * 1000.0
    m["ops_per_s"] = sum(map(len, rows.values())) / job.seconds
    live = sum(
        pq.read_table(os.path.join(d, t)).nbytes
        for d in (gold_dir, kpi_dir) for t in os.listdir(d)
        if not t.startswith((".", "_"))
    )
    m["stored_bytes_per_live_byte"] = tree_bytes(job.out) / live
