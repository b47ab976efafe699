"""The LLM-curation job (``llm_jobs.run_llm_pipeline``: exact +
MinHash-LSH near-dup signals, curation card, cleaned corpus, leakage-free
splits, txn freeze, derived artifacts) as ``lakehouse_serving`` runs it
during set-up to produce the corpus it serves, with its output checks
and per-layer figures."""

from __future__ import annotations

import os
import sys
import time

import gen
from batch import Job, job_layers, run_job, trace_stages


def trace_layers(ctx) -> None:
    """Span the curation job's stages and the layer calls inside them."""
    import prox_spark.artifacts as artifacts
    import prox_spark.mv as mv
    import prox_spark.queries.text as text
    import prox_spark.table as table
    import prox_spark.txn as txn

    trace_stages(ctx)
    for mod, fn, name in (
        (text, "lsh_band_rows", "text.lsh_band_rows"),
        (text, "lsh_verify_pairs", "text.lsh_verify_pairs"),
        (text, "min_label_clusters", "text.min_label_clusters"),
        (table, "commit_snapshot", "table.commit_snapshot"),
        (table, "build_value_index", "table.build_value_index"),
        (txn, "txn_commit", "txn.commit"),
        (mv, "create_mv", "mv.create"),
        (artifacts, "register_artifact", "artifacts.register"),
        (artifacts, "maintain_artifacts", "artifacts.maintain"),
    ):
        ctx.tracer.wrap(mod, fn, name)


def run_curation(ctx, corpus_path: str, out: str) -> Job:
    """One curation job over ``corpus_path`` into ``out``."""
    from prox_spark import llm_jobs

    job = run_job(ctx, "curation", lambda o: llm_jobs.run_llm_pipeline(
        ctx.spark, ctx.spark.read.parquet(corpus_path), o), out)
    if ctx.trace:
        job_layers(ctx, job, "llm_jobs")
        for span, metric in (("txn.commit", "txn.commit_s"), ("mv.create", "mv.create_s"),
                             ("artifacts.maintain", "artifacts.maintain_s")):
            ctx.metrics[metric] = sum(ctx.tracer.durations(span))
    return job


def text_probe(ctx, corpus_path: str) -> None:
    """The filter-then-verify yield of the near-dup layer: direct calls
    to ``lsh_band_rows`` / ``lsh_verify_pairs`` on the same corpus, with
    the shingle frame built the way the signals stage builds it."""
    from pyspark.sql import functions as F

    from prox_spark.queries.text import (
        JACCARD_THRESHOLD,
        SHINGLES_SPARK,
        TOKENS_SPARK,
        lsh_band_rows,
        lsh_verify_pairs,
    )

    spark = ctx.spark
    arr = (
        spark.read.parquet(corpus_path)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLES_SPARK)))
        .select("doc_id", "shingles", F.size("shingles").alias("n_shingles"))
    ).cache()
    try:
        arr.count()
        t0 = time.perf_counter()
        bands = lsh_band_rows(arr).cache()
        n_bands = bands.count()
        t1 = time.perf_counter()
        jac = F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter"))
        row = lsh_verify_pairs(arr, bands).agg(
            F.count(F.lit(1)).alias("cand"),
            F.sum(F.when(jac >= JACCARD_THRESHOLD, 1).otherwise(0)).alias("ver"),
        ).first()
        t2 = time.perf_counter()
        bands.unpersist()
    finally:
        arr.unpersist()
    m = ctx.metrics
    m["text.band_rows"] = n_bands
    m["text.candidate_pairs"] = row["cand"]
    m["text.verified_pairs"] = row["ver"] or 0
    m["text.pair_yield"] = (row["ver"] or 0) / row["cand"] if row["cand"] else 0.0
    m["text.minhash_s"] = t1 - t0
    m["text.verify_s"] = t2 - t1


def check_outputs(ctx, c: gen.Corpus, job: Job) -> None:
    """The curation job's output checks; reports the planted pairs the
    near-dup signal found."""
    from prox_spark.queries.text import JACCARD_THRESHOLD
    from prox_spark.table import read_table

    spark = ctx.spark
    splits = job.results["splits"].output or {}
    ctx.check(splits.get("cross_split_pairs") == 0,
              f"cross_split_pairs = {splits.get('cross_split_pairs')}")
    n_corpus = read_table(spark, os.path.join(job.out, "corpus")).count()
    n_distinct = len(set(c.texts))
    ctx.check(n_corpus == n_distinct,
              f"corpus has {n_corpus} rows, generator has {n_distinct} distinct texts")

    sh = {d: gen.shingles(t) for d, t in zip(c.doc_ids, c.texts)}
    pairs = {
        (r["doc1"], r["doc2"])
        for r in read_table(spark, os.path.join(job.out, "pairs"))
        .select("doc1", "doc2").collect()
    }
    bad = [
        (a, b) for a, b in pairs
        if len(sh[a] & sh[b]) < JACCARD_THRESHOLD * len(sh[a] | sh[b])
    ]
    ctx.check(not bad, f"{len(bad)} emitted pairs below Jaccard "
                       f"{JACCARD_THRESHOLD}, e.g. {bad[:3]}")
    found = sum(
        1 for a, b in c.exact_pairs + c.near_pairs
        if a != b and (min(a, b), max(a, b)) in pairs
    )
    n_planted = len(c.exact_pairs) + len(c.near_pairs)
    print(f"curation: {found} of {n_planted} planted pairs found", file=sys.stderr)
    if ctx.trace:
        ctx.metrics["text.planted_pairs"] = n_planted
        ctx.metrics["text.planted_found"] = found
