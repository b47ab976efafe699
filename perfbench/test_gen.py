"""The benchmark's own tests: seeded inputs are reproducible, and the
metric names ``run.py`` prints are the ones ``BENCHMARK.json`` declares.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402


def _bronze_bytes(seed: int, d) -> dict[str, bytes]:
    paths = gen.write_bronze(gen.bronze_rows(seed, n_bookings=400), str(d))
    return {name: open(p, "rb").read() for name, p in paths.items()}


def _table_bytes(table, path) -> bytes:
    pq.write_table(table, str(path))
    return path.read_bytes()


def _ops(seed: int, n: int = 120) -> list:
    c = gen.corpus(seed, n_docs=300)
    head, tail = gen.search_terms(c.texts)
    stream = gen.OpStream(seed, 5_000, head, tail)
    return [stream.make(k) for k in ("put", "delete")] + [stream.next() for _ in range(n)]


def test_same_seed_same_bronze_bytes(tmp_path):
    a = _bronze_bytes(7, tmp_path / "a")
    assert a == _bronze_bytes(7, tmp_path / "b")
    assert a != _bronze_bytes(8, tmp_path / "c")


def test_same_seed_same_corpus_and_store_bytes(tmp_path):
    def corpus_bytes(seed, name):
        return _table_bytes(gen.corpus(seed, n_docs=300).table(), tmp_path / name)

    def store_bytes(seed, name):
        return _table_bytes(gen.store_rows(seed, n_rows=2_000), tmp_path / name)

    assert corpus_bytes(3, "c1") == corpus_bytes(3, "c2") != corpus_bytes(4, "c3")
    assert store_bytes(3, "s1") == store_bytes(3, "s2") != store_bytes(4, "s3")


def test_corpus_plants_exact_and_near_duplicates():
    c = gen.corpus(5, n_docs=1_000)
    text = dict(zip(c.doc_ids, c.texts))
    assert c.exact_pairs and c.near_pairs
    assert all(text[a] == text[b] for a, b in c.exact_pairs)
    for a, b in c.near_pairs:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= 1


def test_same_seed_same_op_sequence():
    a, b, c = _ops(11), _ops(11), _ops(12)
    assert a == b
    assert a != c


def test_op_mix_blocks():
    ops = [op for op in _ops(2, n=400) if op.kind != "maintain"][2:]
    for i in range(0, len(ops) - len(ops) % 10, 10):
        kinds = [op.kind for op in ops[i:i + 10]]
        assert kinds.count("get") == gen.BLOCK_GETS
        assert kinds.count("search") == gen.BLOCK_SEARCHES
        assert kinds.count("put") + kinds.count("delete") == 1
        assert kinds[-1] == gen.WRITE_CYCLE[(i // 10) % len(gen.WRITE_CYCLE)]


def test_deletes_target_live_keys_and_puts_grow_the_key_space():
    live = set(range(1, 5_001))
    for op in _ops(4, n=400):
        if op.kind == "delete":
            assert set(op.keys) <= live and len(op.keys) == gen.DELETE_KEYS
            live -= set(op.keys)
        elif op.kind == "put":
            keys = [r[0] for r in op.rows]
            assert len(keys) == len(set(keys)) == gen.PUT_UPDATES + gen.PUT_INSERTS
            assert set(keys[: gen.PUT_UPDATES]) <= live
            live |= set(keys)


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
