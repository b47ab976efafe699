"""``lakehouse_serving``: request traffic against a lakehouse.

Set-up curates a seeded corpus with the LLM-curation job, builds a
block-max BM25 (``wand``) index over the curated corpus, and commits a
bookings table keyed by ``booking_id`` (manifest format, 16 files). One
client then sends a seeded closed-loop mix — point ``get``s, two-query
``search`` batches, ``put`` upserts of 200 rows, ``delete``s of 20 keys,
and ``maintain_table`` after every 3rd put — and checks every answer
against a shadow model (gets, final full read) or a DuckDB BM25 oracle
computed during set-up (searches).
"""

from __future__ import annotations

import copy
import os
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import curation
import gen
from batch import timed_setup
from tracing import median, tree_bytes

WAND_FILES = 16
BM25_TOP_K = 10
# ops planned (and searches answered by the oracle) during set-up; the
# run stops at --seconds or here, whichever comes first
MAX_OPS = 400
MIN_BLOCKS = 2
# one op of each kind, then gets until point reads run at steady speed;
# the delete goes first, so the put folds it out of the newest files the
# way a table in service serves its hot keys
WARMUP = ("delete", "put", "search") + ("get",) * 8


def bm25_oracle(docs: dict[int, str], searches: list[gen.Op], work: str) -> dict:
    """{queries: sorted top-k rows} per search op from DuckDB, with the
    program's own ``_oracle_bm25`` SQL over the served documents (one
    query: op i's query q becomes query id ``2 * i + q``)."""
    import duckdb

    from prox_spark.queries.search import _oracle_bm25

    qs = [(2 * i + q, t) for i, op in enumerate(searches) for q, t in op.queries]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{work}/tmp'")
        documents = pa.table({"doc_id": pa.array(list(docs), pa.int64()),
                              "text": pa.array(list(docs.values()), pa.string())})
        con.register("documents", documents)
        rows = con.execute(_oracle_bm25(qs, "pin")).fetchall()
    finally:
        con.close()
    out: list[list] = [[] for _ in searches]
    for qid, rnk, doc_id, hits, score, _ in rows:
        i, q = divmod(qid, 2) if qid % 2 else (qid // 2 - 1, 2)
        out[i].append((q, rnk, doc_id, hits, score))
    return {tuple(op.queries): sorted(r) for op, r in zip(searches, out)}


def put_batch(op: gen.Op) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(gen.STORE_SCHEMA.names, r)) for r in op.rows], schema=gen.STORE_SCHEMA)


class Server:
    """The client's view of the store: runs ops, times them, and keeps
    the shadow model every answer is checked against."""

    def __init__(self, ctx, table_path, idx, stats, shadow, served, oracle) -> None:
        self.ctx, self.t, self.idx, self.stats = ctx, table_path, idx, stats
        self.shadow = shadow        # booking_id -> row tuple
        self.served = served        # doc_id -> text the index serves
        self.oracle = oracle        # search queries -> sorted top-k rows
        self.wand = {"files_opened": 0, "files_full": 0}
        self.compactions = 0

    def execute(self, op: gen.Op):
        """Run ``op``; returns (seconds, answer). Only the call into the
        program (and materialising its answer) is timed."""
        from prox_spark.queries.search import _TERM_MICRO
        from prox_spark.table import maintain_table, read_table_point
        from prox_spark.upsert import delete_keys_mor, upsert_parquet
        from prox_spark.wand import bounded_bm25

        spark = self.ctx.spark
        t0 = time.perf_counter()
        if op.kind == "get":
            ans = read_table_point(spark, self.t, {"booking_id": op.key}).collect()
        elif op.kind == "search":
            df, counters = bounded_bm25(spark, self.idx, self.stats, op.queries,
                                        BM25_TOP_K, _TERM_MICRO)
            ans = (df.collect(), counters)
        elif op.kind == "put":
            upsert_parquet(spark, self.t, spark.createDataFrame(put_batch(op).to_pandas()),
                           ["booking_id"])
            ans = None
        elif op.kind == "delete":
            keys = spark.createDataFrame([(k,) for k in op.keys], "booking_id long")
            ans = delete_keys_mor(spark, self.t, keys, ["booking_id"])
        else:
            ans = maintain_table(spark, self.t)
        return time.perf_counter() - t0, ans

    def verify(self, op: gen.Op, ans) -> None:
        check = self.ctx.check
        if op.kind == "get":
            want = self.shadow.get(op.key)
            got = [tuple(r) for r in ans]
            check(got == ([want] if want else []),
                  f"get {op.key}: {got} != shadow {want}")
        elif op.kind == "search":
            rows, counters = ans
            got = sorted(tuple(r) for r in rows)
            if tuple(op.queries) not in self.oracle:  # an op drawn after set-up
                self.oracle.update(bm25_oracle(self.served, [op], self.ctx.work))
            check(got == self.oracle[tuple(op.queries)],
                  f"search {op.queries}: {len(got)} rows differ from the DuckDB oracle")
            for k in self.wand:
                self.wand[k] += counters[k]
        elif op.kind == "put":
            for r in op.rows:
                self.shadow[r[0]] = r
        elif op.kind == "delete":
            check(ans == len(op.keys), f"delete removed {ans} of {len(op.keys)} live keys")
            for k in op.keys:
                self.shadow.pop(k, None)
        else:
            self.compactions += bool(ans["compacted_small"] or ans["folded_deletes"])

    def run(self, op: gen.Op) -> float:
        """Execute, account and verify ``op``; returns its latency."""
        try:
            dt, ans = self.execute(op)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            self.ctx.account(1, 1)
            self.ctx.check(False, f"{op.kind} raised {ex!r}")
            return 0.0
        self.ctx.account(1, 0)
        self.verify(op, ans)
        return dt

    def check_final(self) -> tuple[int, int]:
        """A full read equals the shadow model; returns (stored bytes of
        the table directory, Arrow bytes of its live rows)."""
        from prox_spark.table import read_table

        full = read_table(self.ctx.spark, self.t).toArrow().sort_by("booking_id")
        want = sorted(self.shadow.values())
        got = list(zip(*(full.column(n).to_pylist() for n in gen.STORE_SCHEMA.names)))
        self.ctx.check(got == want, f"final read: {len(got)} rows differ from the "
                                    f"shadow model's {len(want)}")
        return tree_bytes(self.t), full.nbytes


def _layer_probe(ctx, srv: Server, op: gen.Op, before: dict) -> None:
    """Per-layer counts for one traced op, read from the manifest after
    the op (outside its timing)."""
    from prox_spark.table import point_lookup_files, read_manifest

    m = read_manifest(ctx.spark, srv.t)
    if op.kind == "get":
        files = point_lookup_files(ctx.spark, srv.t, {"booking_id": op.key})
        ctx.tracer.count("get.files", len(files))
        ctx.tracer.count("get.fraction", len(files) / len(m["files"]))
        ctx.tracer.count("get.n")
    elif op.kind == "put":
        added = set(m["files"]) - set(before["files"])
        ctx.tracer.count("put.rewritten", len(set(before["files"]) - set(m["files"])))
        ctx.tracer.count("put.bytes", sum(
            os.path.getsize(os.path.join(srv.t, f)) for f in added))
        ctx.tracer.count("put.batch_bytes", put_batch(op).nbytes)
        ctx.tracer.count("put.n")


def _trace_table_layers(tracer) -> None:
    import prox_spark.table as table
    import prox_spark.upsert as upsert
    import prox_spark.wand as wand

    for mod, fn in ((table, "read_manifest"), (table, "read_manifest_pruned"),
                    (upsert, "read_manifest"), (wand, "read_manifest")):
        tracer.wrap(mod, fn, "table.read_manifest")
    for mod, fn, name in ((upsert, "commit_delta", "table.commit_delta"),
                          (table, "commit_delete_file", "table.commit_delete_file"),
                          (table, "compact_small_files", "table.compact_small_files"),
                          (table, "compact_table", "table.compact_table"),
                          (table, "vacuum", "table.vacuum")):
        tracer.wrap(mod, fn, name)


def run(ctx, session_s: float) -> None:
    from prox_spark.queries.text import TOKENS_SPARK
    from prox_spark.table import commit_snapshot, read_manifest, read_table
    from prox_spark.wand import build_bounded_index

    spark, tracer = ctx.spark, ctx.tracer
    corpus_path = os.path.join(ctx.work, "corpus.parquet")
    store_path = os.path.join(ctx.work, "bookings.parquet")
    table_path = os.path.join(ctx.work, "bookings")
    idx, stats = os.path.join(ctx.work, "bm25_idx"), os.path.join(ctx.work, "bm25_stats")

    (c, store), gen_s = timed_setup(
        lambda: (gen.corpus(ctx.seed), gen.store_rows(ctx.seed)))
    t0 = time.perf_counter()
    pq.write_table(c.table(), corpus_path)
    pq.write_table(store, store_path)
    write_s = time.perf_counter() - t0

    # the curation job, first job of the fresh session, produces the
    # corpus the BM25 index serves
    if ctx.trace:
        curation.trace_layers(ctx)
    cur = curation.run_curation(ctx, corpus_path, os.path.join(ctx.work, "curated"))
    tracer.enabled = False
    curation.check_outputs(ctx, c, cur)

    t0 = time.perf_counter()
    commit_snapshot(spark, table_path, spark.read.parquet(store_path),
                    stat_cols=["booking_id"], n_files=gen.STORE_FILES,
                    bloom_ndv=store.num_rows // gen.STORE_FILES)
    t1 = time.perf_counter()
    build_bounded_index(spark, read_table(spark, os.path.join(cur.out, "corpus")),
                        idx, stats, TOKENS_SPARK, n_files=WAND_FILES)
    t2 = time.perf_counter()
    # the served corpus: one keeper (the lowest doc id) per distinct text
    keeper: dict[str, int] = {}
    for d, t in zip(c.doc_ids, c.texts):
        keeper.setdefault(t, d)
    served = {d: t for t, d in keeper.items()}
    head, tail = gen.search_terms(list(served.values()))
    # ops are drawn as they are sent; a copy of the stream plans the
    # first MAX_OPS so every search they hold is answered now
    stream = gen.OpStream(ctx.seed, store.num_rows, head, tail)
    plan = copy.deepcopy(stream)
    planned = [plan.make(k) for k in WARMUP] + [plan.next() for _ in range(MAX_OPS)]
    oracle = bm25_oracle(served, [op for op in planned if op.kind == "search"], ctx.work)
    setup_s = session_s + gen_s + write_s + (time.perf_counter() - t0)

    shadow = {r[0]: r for r in zip(*(store.column(n).to_pylist()
                                      for n in gen.STORE_SCHEMA.names))}
    srv = Server(ctx, table_path, idx, stats, shadow, served, oracle)
    if ctx.trace:
        tracer.unwrap()
        _trace_table_layers(tracer)

    # warm-up, not measured (it leaves the table with a pending
    # merge-on-read delete, as a table in service has)
    for kind in WARMUP:
        srv.run(stream.make(kind))

    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    spark_by_kind: dict[str, list[dict]] = {}
    t_start = time.perf_counter()

    def send(op: gen.Op, trace: bool) -> None:
        if not trace:
            plain.setdefault(op.kind, []).append(srv.run(op))
            return
        before = read_manifest(spark, table_path)
        tracer.enabled = True
        with ctx.groups.group(op.kind) as gid, tracer.span(op.kind, root=True):
            dt = srv.run(op)
        tracer.enabled = False
        ctx.groups.sc.setJobGroup(loop_gid, "serve")
        spark_by_kind.setdefault(op.kind, []).append(ctx.groups.stats(gid))
        _layer_probe(ctx, srv, op, before)
        traced.setdefault(op.kind, []).append(dt)

    with ctx.groups.group("serve") as loop_gid:
        # whole blocks only, and at least MIN_BLOCKS, so every run sends
        # the same mix however slow the machine is
        for i in range(MAX_OPS):
            if (stream.block_done and stream.n_blocks >= MIN_BLOCKS
                    and time.perf_counter() - t_start >= ctx.seconds):
                break
            send(stream.next(), ctx.trace and i % 2 == 1)
        if ctx.trace:
            # every kind gets an untraced and a traced sample, so each
            # per-kind layer figure is measured even in a short window
            for kind in ("get", "search", "put", "delete", "maintain"):
                for trace, seen in ((False, plain), (True, traced)):
                    if kind not in seen:
                        send(stream.make(kind), trace)
    failed_tasks = ctx.groups.stats(loop_gid)["failed_tasks"] + sum(
        s["failed_tasks"] for st in spark_by_kind.values() for s in st)
    ctx.account(0, failed_tasks)
    stored, live = srv.check_final()
    print("lakehouse_serving: timed ops (untraced)",
          {k: len(v) for k, v in plain.items()}, file=sys.stderr)

    m = ctx.metrics
    if not ctx.trace:
        m["setup_s"] = setup_s
        m["cold_s"] = cur.seconds
        m["latency_p50_ms"] = median(plain.get("get", [])) * 1000.0
        m["ops_per_s"] = sum(map(len, plain.values())) / sum(map(sum, plain.values()))
        m["stored_bytes_per_live_byte"] = stored / live
        return

    man = read_manifest(spark, table_path)
    cnt = tracer.counts
    per = lambda key, n: cnt.get(key, 0) / max(cnt.get(n, 0), 1)  # noqa: E731
    m["wand.build_s"] = t2 - t1
    m["table.live_files"] = len(man["files"])
    m["table.pending_deletes"] = len(man.get("deletes") or [])
    m["table.files_per_get"] = per("get.files", "get.n")
    m["table.get_file_fraction"] = per("get.fraction", "get.n")
    m["table.manifest_read_ms"] = median(tracer.durations("table.read_manifest")) * 1000.0
    m["upsert.files_rewritten_per_put"] = per("put.rewritten", "put.n")
    m["table.bytes_written_per_put_byte"] = per("put.bytes", "put.batch_bytes")
    m["table.maintain_s"] = median(plain.get("maintain", []) + traced.get("maintain", []))
    m["table.maintain_compactions"] = srv.compactions
    m["upsert.put_p50_ms"] = median(plain.get("put", [])) * 1000.0
    m["upsert.delete_p50_ms"] = median(plain.get("delete", [])) * 1000.0
    m["wand.search_p50_ms"] = median(plain.get("search", [])) * 1000.0
    m["wand.files_opened"] = srv.wand["files_opened"]
    m["wand.files_full"] = srv.wand["files_full"]
    m["wand.open_fraction"] = (srv.wand["files_opened"] / srv.wand["files_full"]
                               if srv.wand["files_full"] else 0.0)
    m["trace.get_p50_overhead_ms"] = (
        median(traced.get("get", [])) - median(plain.get("get", []))) * 1000.0
    for kind in ("get", "search", "put", "delete"):
        st = spark_by_kind.get(kind, [])
        m[f"spark.jobs_per_{kind}"] = sum(s["jobs"] for s in st) / max(len(st), 1)
        m[f"spark.tasks_per_{kind}"] = sum(s["tasks"] for s in st) / max(len(st), 1)
    m["spark.failed_tasks"] = m.get("spark.failed_tasks", 0) + failed_tasks
    curation.text_probe(ctx, corpus_path)
