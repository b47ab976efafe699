"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/pyarrow: the same seed gives the
same rows, the same parquet bytes and the same operation sequence, and
the program under test only ever sees the files written from them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- medallion: PROX bronze -------------------------------------------------

# n_bookings drives every other table's size (fixture_rows keeps the
# reference's ratios: 2x quote items, 1/2 reviews, 1/4 disputes)
MEDALLION_BOOKINGS = 4_000


def bronze_rows(seed: int, n_bookings: int = MEDALLION_BOOKINGS) -> dict[str, list]:
    """PROX bronze rows from the program's own fixture generator, sized
    from ``n_bookings`` — with its ~2% exact duplicates and every-40th
    orphan booking FK."""
    from prox_spark.fixtures import fixture_rows

    return fixture_rows(
        n_users=n_bookings // 2,
        n_providers=max(20, n_bookings // 50),
        n_categories=12,
        n_services=max(50, n_bookings // 10),
        n_bookings=n_bookings,
        seed=seed,
    )


def write_bronze(rows: dict[str, list], bronze_dir: str) -> dict[str, str]:
    """One ``<name>.parquet`` file per bronze table; returns {name: path}."""
    from prox_spark.fixture_store import _arrow_type
    from prox_spark.schemas import SILVER_SCHEMAS

    os.makedirs(bronze_dir, exist_ok=True)
    paths = {}
    for name, schema in SILVER_SCHEMAS.items():
        arrow_schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
        )
        cols = list(zip(*rows[name])) if rows[name] else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=arrow_schema.field(i).type) for i, c in enumerate(cols)],
            schema=arrow_schema,
        )
        paths[name] = os.path.join(bronze_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def distinct_key_counts(rows: dict[str, list]) -> dict[str, int]:
    """Rows per table after primary-key dedup — what silver must hold."""
    from prox_spark.schemas import PRIMARY_KEYS, SILVER_SCHEMAS

    out = {}
    for name, schema in SILVER_SCHEMAS.items():
        names = [f.name for f in schema.fields]
        idx = [names.index(k) for k in PRIMARY_KEYS[name]]
        out[name] = len({tuple(r[i] for i in idx) for r in rows[name]})
    return out


# --- curation corpus: Zipf text with planted duplicates ----------------------

CORPUS_DOCS = 2_000
CORPUS_VOCAB = 20_000
CORPUS_SOURCES = 8
EXACT_COPY_FRAC = 0.05
NEAR_COPY_FRAC = 0.05


def _word(i: int) -> str:
    """Bijective base-26 lowercase word for vocabulary rank ``i``."""
    s, i = "", i + 27
    while i:
        s = chr(97 + i % 26) + s
        i //= 26
    return s


VOCAB = [_word(i) for i in range(CORPUS_VOCAB)]


@dataclass
class Corpus:
    doc_ids: list[int]
    sources: list[str]
    texts: list[str]
    # (earlier doc, planted copy): exact copies and single-token edits
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_ids, pa.int64()),
            "source": pa.array(self.sources, pa.string()),
            "text": pa.array(self.texts, pa.string()),
        })


def corpus(seed: int, n_docs: int = CORPUS_DOCS) -> Corpus:
    """``n_docs`` documents of 20-120 Zipf-distributed tokens from
    ``CORPUS_SOURCES`` sources; ~5% are exact copies and ~5% single-token
    edits of an earlier document."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, CORPUS_VOCAB + 1)
    p /= p.sum()
    words = np.array(VOCAB)
    c = Corpus([], [], [])
    for i in range(n_docs):
        doc_id = i + 1
        r = rng.random()
        if i >= 10 and r < EXACT_COPY_FRAC:
            j = int(rng.integers(0, i))
            text = c.texts[j]
            c.exact_pairs.append((c.doc_ids[j], doc_id))
        elif i >= 10 and r < EXACT_COPY_FRAC + NEAR_COPY_FRAC:
            j = int(rng.integers(0, i))
            toks = c.texts[j].split(" ")
            k = int(rng.integers(0, len(toks)))
            toks[k] = str(words[rng.choice(CORPUS_VOCAB, p=p)])
            text = " ".join(toks)
            c.near_pairs.append((c.doc_ids[j], doc_id))
        else:
            n = int(rng.integers(20, 121))
            text = " ".join(words[rng.choice(CORPUS_VOCAB, size=n, p=p)])
        c.doc_ids.append(doc_id)
        c.sources.append(f"src{int(rng.integers(0, CORPUS_SOURCES))}")
        c.texts.append(text)
    return c


def shingles(text: str) -> set[str]:
    """Distinct token 3-grams, the same tokenization as the program's
    ``TOKENS_SPARK``/``SHINGLES_SPARK`` (lower, trim, split on spaces)."""
    toks = text.strip().lower().split()
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


# --- lakehouse_serving: bookings store + op sequence -------------------------

STORE_ROWS = 100_000
STORE_FILES = 16
STORE_STATUS = ("PENDING", "ACCEPTED", "IN_PROGRESS", "COMPLETED", "DECLINED")
STORE_SCHEMA = pa.schema([
    ("booking_id", pa.int64()),
    ("user_id", pa.int64()),
    ("service_id", pa.int64()),
    ("status", pa.string()),
    ("amount_cents", pa.int64()),
    ("version", pa.int64()),
])


def store_rows(seed: int, n_rows: int = STORE_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return pa.table({
        "booking_id": np.arange(1, n_rows + 1, dtype=np.int64),
        "user_id": rng.integers(1, 50_000, n_rows),
        "service_id": rng.integers(1, 5_000, n_rows),
        "status": np.array(STORE_STATUS)[rng.integers(0, len(STORE_STATUS), n_rows)],
        "amount_cents": rng.integers(1_000, 60_000, n_rows),
        "version": np.zeros(n_rows, dtype=np.int64),
    }, schema=STORE_SCHEMA)


# op mix: every block of 10 ops holds 8 gets and 1 search in seeded
# order, then 1 write; the writes cycle put, put, put, put, delete (80%
# get, 10% search, 8% put, 2% delete), so every run of whole blocks
# sends the same mix, with its writes at the same places, whatever the
# seed
BLOCK_GETS, BLOCK_SEARCHES = 8, 1
WRITE_CYCLE = ("put", "put", "put", "put", "delete")
PUT_UPDATES, PUT_INSERTS, DELETE_KEYS = 150, 50, 20
MAINTAIN_EVERY_PUTS = 3
RECENT_FRAC = 0.05
HEAD_TERMS = 50


@dataclass
class Op:
    kind: str  # get | search | put | delete | maintain
    key: int | None = None                   # get
    queries: list | None = None              # search: [(query_id, term)]
    rows: list | None = None                 # put: full rows (tuples)
    keys: list | None = None                 # delete


class OpStream:
    """Deterministic op sequence for ``lakehouse_serving``: the draw
    depends only on the seed and the ops already generated (it tracks the
    key space itself), never on timing."""

    def __init__(self, seed: int, n_rows: int, head_terms: list[str],
                 tail_terms: list[str]) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.max_id = n_rows
        self.live = np.ones(n_rows + 1, dtype=bool)
        self.live[0] = False
        self.head, self.tail = head_terms, tail_terms
        self.n_ops = 0
        self.n_puts = 0
        self._pending_maintain = False
        self._block: list[str] = []
        self.n_blocks = 0

    def _grow(self, new_max: int) -> None:
        if new_max + 1 > len(self.live):
            grown = np.zeros(max(new_max + 1, 2 * len(self.live)), dtype=bool)
            grown[: len(self.live)] = self.live
            self.live = grown

    def _recent_live(self, n: int) -> list[int]:
        lo = max(1, self.max_id - int(self.max_id * RECENT_FRAC))
        cand = np.flatnonzero(self.live[lo: self.max_id + 1]) + lo
        pick = self.rng.choice(cand, size=min(n, len(cand)), replace=False)
        return sorted(int(k) for k in pick)

    def _get_key(self) -> int:
        if self.rng.random() < 0.8:
            lo = max(1, self.max_id - int(self.max_id * RECENT_FRAC))
            return int(self.rng.integers(lo, self.max_id + 1))
        return int(self.rng.integers(1, self.max_id + 1))

    def _row(self, key: int) -> tuple:
        return (
            key,
            int(self.rng.integers(1, 50_000)),
            int(self.rng.integers(1, 5_000)),
            STORE_STATUS[int(self.rng.integers(0, len(STORE_STATUS)))],
            int(self.rng.integers(1_000, 60_000)),
            self.n_ops,
        )

    def next(self) -> Op:
        """The next op of the mix (a ``maintain`` follows every
        ``MAINTAIN_EVERY_PUTS``-th put)."""
        if self._pending_maintain:
            self._pending_maintain = False
            return self.make("maintain")
        if not self._block:
            write = WRITE_CYCLE[self.n_blocks % len(WRITE_CYCLE)]
            self.n_blocks += 1
            reads = ["get"] * BLOCK_GETS + ["search"] * BLOCK_SEARCHES
            # popped from the end: the write goes last
            self._block = [write] + [reads[i] for i in self.rng.permutation(len(reads))]
        return self.make(self._block.pop())

    @property
    def block_done(self) -> bool:
        """True between blocks (a pending maintain belongs to the block)."""
        return not self._block and not self._pending_maintain

    def make(self, kind: str) -> Op:
        """One op of ``kind``, drawn from the same stream."""
        self.n_ops += 1
        if kind == "get":
            return Op("get", key=self._get_key())
        if kind == "search":
            qs = []
            for qid in (1, 2):
                qs.append((qid, self.head[int(self.rng.integers(0, len(self.head)))]))
                qs.append((qid, self.tail[int(self.rng.integers(0, len(self.tail)))]))
            return Op("search", queries=sorted(set(qs)))
        if kind == "put":
            upd = self._recent_live(PUT_UPDATES)
            new = list(range(self.max_id + 1, self.max_id + 1 + PUT_INSERTS))
            self.max_id += PUT_INSERTS
            self._grow(self.max_id)
            self.live[new[0]: new[-1] + 1] = True
            self.n_puts += 1
            self._pending_maintain = self.n_puts % MAINTAIN_EVERY_PUTS == 0
            return Op("put", rows=[self._row(k) for k in upd + new])
        if kind == "delete":
            cand = np.flatnonzero(self.live[: self.max_id + 1])
            keys = sorted(
                int(k) for k in self.rng.choice(cand, size=DELETE_KEYS, replace=False)
            )
            self.live[keys] = False
            return Op("delete", keys=keys)
        return Op("maintain")


def search_terms(texts: list[str]) -> tuple[list[str], list[str]]:
    """(head, tail) query vocabularies: the ``HEAD_TERMS`` most frequent
    corpus tokens, and every other token that occurs in the corpus."""
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.strip().lower().split():
            counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts, key=lambda w: (-counts[w], w))
    return ranked[:HEAD_TERMS], ranked[HEAD_TERMS:]
