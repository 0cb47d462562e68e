"""Seeded input generator for the benchmark.

Writes the tables the benchmark's queries read (``events``, ``orders``,
``documents``, ``embeddings``) as parquet, ``<table>.parquet`` each,
with the schemas and value domains of the project's sf0.1 fixtures (see
FIXTURES.md).  Each table is drawn from its own stream of the seed, so
the same seed gives the same table whichever other tables are asked for.

A factor > 1 builds the disjoint-copy blow-up of
``scripts/scale_probe.py``: copy ``i`` offsets the table's keys by
``i * 10**9``, so group sizes stay those of one copy.  The seed also
draws the order of the copies and of the row blocks, and the result is
written as a directory of ``PARTS`` files.

Usage: python3 gen.py OUT_DIR SEED TABLE=FACTOR [TABLE=FACTOR ...]
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFFSET = 10**9
# sf0.1 row counts
N_CUSTOMER, N_ORDERS, N_EVENTS = 15_000, 150_000, 100_000
N_DOCS, N_NEARDUP, N_EXACTDUP, N_VECS = 5_000, 250, 8, 2_000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PARTS = 4
BLOCK_ROWS = 1 << 16
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400 * 10**6


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def orders(rng) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": EPOCH_1995
            + rng.integers(0, 2404, N_ORDERS) * np.timedelta64(DAY_US, "us"),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                N_ORDERS,
            ),
        }
    )


def events(rng) -> pa.Table:
    month_us = 30 * DAY_US
    return pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, month_us, N_EVENTS)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1_500, N_EVENTS),
            "event_type": _pick(
                rng, ["click", "error", "purchase", "signup", "view"], N_EVENTS
            ),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def documents(rng) -> pa.Table:
    lengths = rng.integers(10, 101, N_DOCS)
    words = _pick(rng, VOCAB, int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n : e]) for e, n in zip(ends, lengths)]
    # near-duplicates: an earlier document's text plus one marker token;
    # exact duplicates: an earlier document's text verbatim
    dups = rng.choice(np.arange(1, N_DOCS), N_NEARDUP + N_EXACTDUP, replace=False)
    for j, d in enumerate(dups):
        src = texts[int(rng.integers(0, d))]
        texts[d] = src + " dup" if j < N_NEARDUP else src
    return pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": _pick(
                rng, ["de", "en", "es", "fr", "zh"], N_DOCS,
                p=[0.14, 0.42, 0.15, 0.14, 0.15],
            ),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )


# table -> (generating function, key columns a blow-up copy offsets)
TABLES = {
    "orders": (orders, ["o_orderkey"]),
    "events": (events, ["user_id", "event_id"]),
    "documents": (documents, ["doc_id"]),
    "embeddings": (embeddings, ["vec_id"]),
}


def _copy(name: str, t: pa.Table, i: int) -> pa.Table:
    for col in TABLES[name][1]:
        t = t.set_column(
            t.schema.get_field_index(col), col,
            pa.array(t[col].to_numpy() + i * OFFSET),
        )
    return t


def build(out_dir: str, seed: int, factors: dict[str, int]) -> dict[str, int]:
    """Write each table of ``factors`` under ``out_dir``, blown up by its
    factor; return bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    jobs = []
    for name, factor in factors.items():
        stream = sorted(TABLES).index(name)
        t = TABLES[name][0](np.random.default_rng([seed, stream]))
        path = os.path.join(out_dir, f"{name}.parquet")
        if factor == 1:
            jobs.append((t, path))
            continue
        rng = np.random.default_rng([seed, stream, factor])
        t = pa.concat_tables([_copy(name, t, int(i)) for i in rng.permutation(factor)])
        # seeded row order: shuffle fixed-size row blocks (zero-copy
        # slices) rather than single rows
        blocks = [t.slice(s, BLOCK_ROWS) for s in range(0, t.num_rows, BLOCK_ROWS)]
        t = pa.concat_tables([blocks[i] for i in rng.permutation(len(blocks))])
        os.makedirs(path)
        step = -(-t.num_rows // PARTS)
        for p in range(PARTS):
            jobs.append((t.slice(p * step, step), os.path.join(path, f"part-{p}.parquet")))
    with ThreadPoolExecutor(max_workers=PARTS) as pool:
        for fut in [
            pool.submit(pq.write_table, t, path, row_group_size=256 * 1024)
            for t, path in jobs
        ]:
            fut.result()
    sizes = {}
    for name in factors:
        path = os.path.join(out_dir, f"{name}.parquet")
        files = [os.path.join(path, f) for f in os.listdir(path)] if os.path.isdir(path) else [path]
        sizes[name] = sum(os.path.getsize(f) for f in files)
    return sizes


def main() -> None:
    out_dir, seed = sys.argv[1], int(sys.argv[2])
    factors = {k: int(v) for k, v in (a.split("=") for a in sys.argv[3:])}
    print(json.dumps(build(out_dir, seed, factors)))


if __name__ == "__main__":
    main()
