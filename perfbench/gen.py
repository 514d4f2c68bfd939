"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical Parquet files. Files are written with pyarrow, never with
Spark, so the engine under test does not produce its own inputs.

- quotes: NYSE-shaped daily OHLCV bars, one random walk per symbol.
- ticks: strictly time-ordered tick batches for the ingest loop.
- corpus: text documents with 32-d embeddings and planted exact and
  near-duplicate clusters, split into independent batches.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed kept out of every tuning run; a later speed claim must also hold
# on it (see README.md).
HELD_OUT_SEED = 9173

T0_US = 1262563200 * 1_000_000  # 2010-01-04 00:00 UTC
DAY_US = 86_400 * 1_000_000
CLOSE_US = 21 * 3_600 * 1_000_000  # bars stamp at 21:00 UTC


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, *stream.encode()])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))


def symbols(n: int) -> list[str]:
    return [f"S{i:04d}" for i in range(n)]


def quotes_table(seed: int, n_symbols: int, n_days: int) -> pa.Table:
    r = _rng(seed, "quotes")
    syms = np.repeat(np.array(symbols(n_symbols)), n_days)
    day = np.tile(np.arange(n_days, dtype="int64"), n_symbols)
    base = r.uniform(10.0, 200.0, n_symbols)
    ret = r.normal(0.0, 0.02, (n_symbols, n_days))
    close = (base[:, None] * np.exp(np.cumsum(ret, axis=1))).ravel()
    prev = np.concatenate([base[:, None], close.reshape(n_symbols, n_days)[:, :-1]], axis=1).ravel()
    open_ = prev * np.exp(r.normal(0.0, 0.005, close.size))
    hi = np.maximum(open_, close) * (1 + np.abs(r.normal(0.0, 0.01, close.size)))
    lo = np.minimum(open_, close) * (1 - np.abs(r.normal(0.0, 0.01, close.size)))
    vol = np.round(r.lognormal(10.0, 1.0, close.size)).astype("int64") + 1
    return pa.table({
        "symbol": syms,
        "ts": _ts(T0_US + day * DAY_US + CLOSE_US),
        "open": open_, "high": hi, "low": lo, "close": close,
        "volume": vol,
    })


def probes_table(seed: int, n_symbols: int, n_days: int, n: int) -> pa.Table:
    """Trade-time probes for the bulk as-of join: random instants inside
    the quote history, never on a bar's own timestamp."""
    r = _rng(seed, "probes")
    sym = r.integers(0, n_symbols, n)
    off = r.integers(0, n_days * DAY_US // 1_000_000, n) * 1_000_000 + 1
    order = np.lexsort((off, sym))
    return pa.table({
        "symbol": np.array(symbols(n_symbols))[sym[order]],
        "ts": _ts(T0_US + off[order]),
        "qty": r.integers(1, 1000, n)[order].astype("int64"),
    })


def tick_batch(seed: int, b: int, rows: int, n_symbols: int, step_us: int) -> pa.Table:
    """Batch b of the tick stream. Timestamps are globally increasing
    across batches, so every batch is a valid strict-order append."""
    r = _rng(seed, f"ticks-{b}")
    i = np.arange(rows, dtype="int64")
    ts = T0_US + (b * rows + i) * step_us + r.integers(0, step_us // 2, rows)
    return pa.table({
        "symbol": np.array(symbols(n_symbols))[r.integers(0, n_symbols, rows)],
        "ts": _ts(ts),
        "price": np.round(r.uniform(10.0, 200.0, rows), 4),
        "size": r.integers(1, 500, rows).astype("int64"),
    })


def corpus_batch(seed: int, b: int, n_docs: int, dim: int, words: int = 100) -> tuple[pa.Table, dict]:
    """One independent document batch. About a third of the documents
    belong to planted clusters: exact copies differ only in case and
    whitespace, near copies replace one word of the cluster's base text
    (3-gram Jaccard ~0.94). Unclustered documents draw words freely
    from a 5000-word vocabulary, so any two share almost no 3-grams.

    Returns the table and the planted truth: the surviving ids under
    exact dedup and under near-dup (connected components) dedup."""
    r = _rng(seed, f"corpus-{b}")
    vocab = np.array([f"w{i}" for i in range(5000)])
    ids, texts, embs = [], [], []
    exact_keep, near_keep = [], []
    next_id = b * 1_000_000
    while len(ids) < n_docs:
        kind = r.choice(3, p=[0.7, 0.15, 0.15])  # single, exact, near
        size = 1 if kind == 0 else int(r.integers(2, 5))
        base = list(vocab[r.integers(0, len(vocab), words)])
        centre = r.normal(0.0, 1.0, dim)
        slot = int(r.integers(0, words))
        members = []
        for m in range(size):
            toks = list(base)
            if kind == 1 and m:
                toks = [t.upper() if (j + m) % 7 == 0 else t for j, t in enumerate(toks)]
                text = ("  " * m) + "  ".join(toks) + " "
            else:
                if kind == 2 and m:
                    toks[slot] = f"x{m}w{int(r.integers(0, 10**6))}"
                text = " ".join(toks)
            ids.append(next_id)
            texts.append(text)
            embs.append(centre + r.normal(0.0, 0.05, dim))
            members.append(next_id)
            next_id += int(r.integers(1, 4))
        near_keep.append(members[0])
        exact_keep.extend(members[:1] if kind == 1 else members)
    perm = r.permutation(len(ids))
    table = pa.table({
        "doc_id": np.array(ids, dtype="int64")[perm],
        "text": np.array(texts, dtype=object)[perm],
        "embedding": pa.array([e.tolist() for e in np.array(embs)[perm]], type=pa.list_(pa.float64())),
    })
    return table, {"exact_keep": sorted(exact_keep), "near_keep": sorted(near_keep)}


def ann_queries(seed: int, n: int, dim: int) -> np.ndarray:
    return _rng(seed, "ann-queries").normal(0.0, 1.0, (n, dim))


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path + ".tmp", row_group_size=128 * 1024)
    os.replace(path + ".tmp", path)


def build(kind: str, seed: int, size: dict, root: str) -> str:
    """Write one workload's inputs under root/<kind>-<size>-<seed>/ unless
    they are already there. Returns the dir."""
    key = hashlib.sha1(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(root, f"{kind}-{key}-{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    if kind == "quotes":
        write(quotes_table(seed, size["symbols"], size["days"]), os.path.join(out, "quotes.parquet"))
        write(probes_table(seed, size["symbols"], size["days"], size["probes"]), os.path.join(out, "probes.parquet"))
    elif kind == "ticks":
        for b in range(size["batches"]):
            write(tick_batch(seed, b, size["rows"], size["symbols"], size["step_us"]),
                  os.path.join(out, f"batch-{b:05d}.parquet"))
    elif kind == "corpus":
        truth = {}
        for b in range(size["batches"]):
            table, truth[b] = corpus_batch(seed, b, size["docs"], size["dim"])
            write(table, os.path.join(out, f"docs-{b:03d}.parquet"))
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    open(done, "w").close()
    return out
