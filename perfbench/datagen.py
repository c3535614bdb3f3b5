"""Seeded input tables for the benchmark.

The queries read the testdata layout of ``TESTDATA.md``: one
``{table}.parquet`` file per table in a scale-factor directory
(``sources.read_table`` and ``sources.stream_table_glob`` both require
it). The benchmark runs where that testdata may not exist, so it
builds the two tables its workloads read, ``events`` and
``embeddings``, with the same schema, row counts, key domains and
value distributions as the testdata at sf0.01, from a fixed base seed.

The run's seed then rewrites each table without changing the work a
query does: it shuffles the row order. Values, keys, row counts and
``vec_id`` contiguity are those of the base table, so iterative
operators run the same number of rounds on every seed, while any
query that depends on physical row order shows up as an oracle
mismatch.

Built with numpy and pyarrow before any Spark session starts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts and key domains of the testdata at sf0.01.
EVENTS_ROWS = 10_000
USERS = 150
EMBEDDINGS_ROWS = 500

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMBED_DIM = 64
LABELS = 10
_MONTH_START_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
_MONTH_US = 30 * 86_400 * 1_000_000
BASE_SEED = 42


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Long-format event stream: ``event_id`` follows ``ts`` order, and
    ``ts`` is strictly increasing microseconds over 30 days of January
    2024, so no ordering tie depends on the seed."""
    ts = np.sort(rng.integers(0, _MONTH_US, n, dtype=np.int64))
    # Nudge equal draws apart by one microsecond each (keeps the order).
    steps = np.arange(n, dtype=np.int64)
    ts = np.maximum.accumulate(ts - steps) + steps + _MONTH_START_US
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(steps, pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
                pa.string(),
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors; ``vec_id`` is contiguous in [0, n),
    which the graph-ANN operators index by."""
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
                flat,
            ),
            "label": pa.array(rng.integers(0, LABELS, n), pa.int32()),
        }
    )


def build(out_dir: str, tables: tuple[str, ...], seed: int) -> None:
    """Write ``{table}.parquet`` for each named table into ``out_dir``:
    the base table in the row order drawn from ``seed``. Each table
    draws from its own streams, so adding a table to a workload does
    not change the others."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        stream = [len(name), sum(map(ord, name))]
        rng = np.random.default_rng([BASE_SEED, *stream])
        if name == "events":
            table = events_table(rng, EVENTS_ROWS, USERS)
        elif name == "embeddings":
            table = embeddings_table(rng, EMBEDDINGS_ROWS)
        else:
            raise ValueError(f"no generator for table {name!r}")
        order = np.random.default_rng([seed % 2**63, *stream]).permutation(len(table))
        table = table.take(pa.array(order))
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy", row_group_size=len(table))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
