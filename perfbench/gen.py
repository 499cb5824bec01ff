"""Seeded input generators.

Every generator takes a ``numpy.random.Generator`` (or the run seed) and
returns pyarrow tables; the same seed always gives byte-identical parquet
files. The engine only ever sees the files these functions produce.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ingest timestamps start here (2024-01-01 00:00:00 UTC) and advance one
#: hour per landed increment
BASE_TS_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000
_DAY0 = dt.date(1994, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()

_WORDS = (
    "carefully final deposits quickly ironic requests sleep slyly bold "
    "packages haggle furiously even accounts nag blithely regular pinto "
    "beans wake special theodolites cajole express foxes boost pending "
    "instructions detect silent platelets integrate quiet courts solve "
    "unusual dependencies use idle asymptotes doze fluffy ideas engage"
).split()

#: document vocabulary: stopwords (so the Gopher stopword rule can pass)
#: plus a Zipf-ranked content vocabulary
_STOP = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
         "that", "for", "on", "with", "as", "at", "by", "this")
_VOCAB = tuple(_STOP) + tuple(
    f"{a}{b}" for a in ("data", "spark", "table", "merge", "store", "query",
                        "model", "token", "batch", "stream", "index",
                        "cache", "shard", "graph", "text", "file", "page",
                        "scan", "join", "sort", "plan", "node", "task", "job",
                        "disk", "row", "key", "log", "hash", "view")
    for b in ("", "s", "er", "ing", "ed", "ly", "ness", "ion"))


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so one workload's
    draws never shift another's."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file deterministically; returns its size."""
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _comments(rng: np.random.Generator, n: int, words: int = 4) -> pa.Array:
    pool = np.array(_WORDS, dtype=object)
    picks = rng.integers(0, len(pool), size=(n, words))
    return pa.array([" ".join(r) for r in pool[picks]], pa.string())


# -- lineitem-shaped CDC source (scd_incremental) ----------------------------

class LineitemSource:
    """The benchmark's model of a CDC source table: the latest version of
    every key, from which each increment draws its updates and inserts."""

    def __init__(self, rng: np.random.Generator, n_orders: int):
        lines = rng.integers(1, 8, n_orders)
        n = int(lines.sum())
        self.orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        self.linenumber = (np.arange(n) - starts + 1).astype(np.int32)
        self.partkey = rng.integers(1, 20_000, n).astype(np.int64)
        self.quantity = rng.integers(1, 51, n).astype(np.float64)
        self.price = np.round(self.quantity * rng.uniform(900, 2000, n), 2)
        self.discount = np.round(rng.integers(0, 11, n) / 100.0, 2)
        self.shipdate = (_DAY0 + rng.integers(0, 2400, n)).astype(np.int32)
        self.comment = np.array(_comments(rng, n).to_pylist(), dtype=object)
        self.next_orderkey = n_orders + 1

    def __len__(self) -> int:
        return len(self.orderkey)

    def _table(self, idx: np.ndarray, ts_us: int) -> pa.Table:
        return pa.table({
            "l_orderkey": pa.array(self.orderkey[idx]),
            "l_linenumber": pa.array(self.linenumber[idx]),
            "l_partkey": pa.array(self.partkey[idx]),
            "l_quantity": pa.array(self.quantity[idx]),
            "l_extendedprice": pa.array(self.price[idx]),
            "l_discount": pa.array(self.discount[idx]),
            "l_shipdate": pa.array(self.shipdate[idx], pa.int32()).cast(pa.date32()),
            "l_comment": pa.array(self.comment[idx].tolist(), pa.string()),
            "ingest_ts": pa.array(np.full(len(idx), ts_us, np.int64),
                                  pa.timestamp("us", tz="UTC")),
        })

    def snapshot(self) -> pa.Table:
        return self._table(np.arange(len(self)), BASE_TS_US)

    def increment(self, rng: np.random.Generator, i: int, update_frac: float,
                  insert_frac: float) -> tuple[pa.Table, int]:
        """Increment ``i`` (1-based): distinct keys updated in place (their
        quantity always changes, so every update is a real change) plus new
        single-line orders. Returns (rows, number of updated keys)."""
        n = len(self)
        n_upd = max(1, int(n * update_frac))
        n_new = max(1, int(n * insert_frac))
        upd = np.sort(rng.choice(n, n_upd, replace=False))
        q = self.quantity[upd]
        newq = np.where(q >= 50, 1.0, q + 1.0)
        self.price[upd] = np.round(self.price[upd] / q * newq, 2)
        self.quantity[upd] = newq
        self.comment[upd] = np.array(_comments(rng, n_upd).to_pylist(), dtype=object)
        keys = np.arange(self.next_orderkey, self.next_orderkey + n_new, dtype=np.int64)
        self.next_orderkey += n_new
        self.orderkey = np.concatenate([self.orderkey, keys])
        self.linenumber = np.concatenate([self.linenumber, np.ones(n_new, np.int32)])
        self.partkey = np.concatenate(
            [self.partkey, rng.integers(1, 20_000, n_new).astype(np.int64)])
        nq = rng.integers(1, 51, n_new).astype(np.float64)
        self.quantity = np.concatenate([self.quantity, nq])
        self.price = np.concatenate(
            [self.price, np.round(nq * rng.uniform(900, 2000, n_new), 2)])
        self.discount = np.concatenate(
            [self.discount, np.round(rng.integers(0, 11, n_new) / 100.0, 2)])
        self.shipdate = np.concatenate(
            [self.shipdate, (_DAY0 + rng.integers(0, 2400, n_new)).astype(np.int32)])
        self.comment = np.concatenate(
            [self.comment, np.array(_comments(rng, n_new).to_pylist(), dtype=object)])
        idx = np.concatenate([upd, np.arange(n, n + n_new)])
        return self._table(idx, BASE_TS_US + i * HOUR_US), n_upd


# -- event files (stream_upsert) ---------------------------------------------

EVENT_SCHEMA = ("user_id BIGINT, file_seq BIGINT, score DOUBLE, "
                "country STRING, visits BIGINT")
_COUNTRIES = np.array(["de", "fr", "in", "jp", "us", "br", "ng", "au"], dtype=object)


def events(rng: np.random.Generator, user_ids: np.ndarray, file_seq: int) -> pa.Table:
    n = len(user_ids)
    return pa.table({
        "user_id": pa.array(user_ids.astype(np.int64)),
        "file_seq": pa.array(np.full(n, file_seq, np.int64)),
        "score": pa.array(np.round(rng.uniform(0, 100, n), 3)),
        "country": pa.array(_COUNTRIES[rng.integers(0, len(_COUNTRIES), n)].tolist(),
                            pa.string()),
        "visits": pa.array(rng.integers(1, 1000, n).astype(np.int64)),
    })


def event_users(order: np.ndarray, j: int, n_rows: int, new_frac: float,
                next_new: int) -> tuple[np.ndarray, int]:
    """Unique user ids for event file ``j``: slice ``j`` of a seeded
    permutation of the known users, so neighbouring files never share a key
    and a micro-batch holding several files still has unique keys, plus
    brand-new ids from ``next_new`` on. Returns (ids, next new id)."""
    n_new = int(n_rows * new_frac)
    k = n_rows - n_new
    known = order[np.arange(j * k, (j + 1) * k) % len(order)]
    new = np.arange(next_new, next_new + n_new)
    return np.concatenate([known, new]), next_new + n_new


# -- document corpus (corpus_curation) ---------------------------------------

def corpus(rng: np.random.Generator, n_base: int, copy_frac: float,
           near_frac: float) -> pa.Table:
    """``n_base`` fresh documents plus seeded exact copies and near-duplicate
    edits (a few words replaced) of randomly chosen base documents."""
    vocab = np.array(_VOCAB, dtype=object)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.6
    p /= p.sum()
    lens = rng.integers(30, 160, n_base)
    docs = [" ".join(vocab[rng.choice(len(vocab), k, p=p)]) for k in lens]
    n_copy = int(n_base * copy_frac)
    n_near = int(n_base * near_frac)
    texts = list(docs)
    for src in rng.integers(0, n_base, n_copy):
        texts.append(docs[src])
    for src in rng.integers(0, n_base, n_near):
        words = docs[src].split(" ")
        for j in rng.integers(0, len(words), max(1, len(words) // 25)):
            words[j] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(1, len(texts) + 1, dtype=np.int64)),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
