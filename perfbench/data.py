"""Seeded input generators.

Every table is built from a ``numpy.random.Generator`` the caller
seeds, so one seed always yields the same bytes. Tables are Arrow
tables: the benchmark writes them as parquet for the program to read
and hands the same objects to DuckDB for the oracle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TS_BASE_MS = 1_600_000_000_000  # 2020-09-13, UTC
TS = pa.timestamp("ms", tz="UTC")

# CSV and JSON sinks keep millisecond timestamps, so every generated
# timestamp is whole milliseconds.
_WORDS = np.array(
    "alder birch cedar delta ember fjord grove harbor iris juniper kestrel "
    "lumen meadow nectar orchid pioneer quartz raven sierra tundra umber "
    "violet willow xenon yarrow zephyr".split()
)


def _nulls(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    return rng.random(n) < share


def _names(rng: np.random.Generator, n: int) -> np.ndarray:
    """Two-word names; about 2% carry a comma and quotes, which the CSV
    sink has to quote and escape."""
    a = _WORDS[rng.integers(0, len(_WORDS), n)]
    b = _WORDS[rng.integers(0, len(_WORDS), n)]
    names = np.char.add(np.char.add(a, " "), b)
    odd = rng.random(n) < 0.02
    names[odd] = np.char.add(np.char.add(b[odd], ', "'), np.char.add(a[odd], '"'))
    return names


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float = 1.3) -> np.ndarray:
    """Zipf-skewed indexes into ``range(size)``; rank 1 is hottest."""
    return (rng.zipf(a, n) - 1) % size


def bulk_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Mixed-type rows: long, double, string and timestamp columns with
    about 5% nulls each, plus one dict column (``attrs``) that the
    migration JSON-serializes."""
    null = lambda: _nulls(rng, n, 0.05)  # noqa: E731
    attrs = pa.StructArray.from_arrays(
        [
            pa.array(_WORDS[rng.integers(0, len(_WORDS), n)]),
            pa.array(rng.integers(-1000, 1000, n)),
        ],
        names=["k", "n"],
        mask=pa.array(null()),
    )
    return pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "qty": pa.array(rng.integers(0, 100_000, n), mask=null()),
            "price": pa.array(rng.normal(0.0, 1000.0, n), mask=null()),
            "name": pa.array(_names(rng, n), mask=null()),
            "ts": pa.array(TS_BASE_MS + rng.integers(0, 10**11, n), type=TS, mask=null()),
            "attrs": attrs,
        }
    )


def order_lines(rng: np.random.Generator, n: int) -> pa.Table:
    """Reference-style raw rows for a callable ``format_data``: about
    10% have ``status == 'void'`` (the transform drops them) and about
    0.5% carry a ``qty_raw`` that ``int()`` rejects."""
    status = np.array(["ok", "hold", "void"])[
        np.searchsorted([0.75, 0.9], rng.random(n), side="right")
    ]
    qty_raw = rng.integers(1, 100, n).astype(str).astype(object)
    bad = rng.random(n) < 0.005
    qty_raw[bad] = np.array(["n/a", "", "1.5", "x9"], dtype=object)[rng.integers(0, 4, bad.sum())]
    cust = np.char.add("  cust-", rng.integers(0, 5000, n).astype(str))
    return pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "cust": pa.array(cust),
            "status": pa.array(status),
            "qty_raw": pa.array(qty_raw, type=pa.string()),
            "price": pa.array(np.round(rng.uniform(0.5, 500.0, n), 2)),
        }
    )


def keyed_rows(rng: np.random.Generator, ids: np.ndarray, seqs: np.ndarray) -> pa.Table:
    """Rows of the keyed target schema for the given keys and sequence
    numbers (``seq`` is the watermark and upsert order column)."""
    n = len(ids)
    return pa.table(
        {
            "id": pa.array(ids.astype(np.int64)),
            "seq": pa.array(seqs.astype(np.int64)),
            "val": pa.array(rng.normal(0.0, 100.0, n), mask=_nulls(rng, n, 0.05)),
            "name": pa.array(_names(rng, n), mask=_nulls(rng, n, 0.05)),
            "ts": pa.array(TS_BASE_MS + rng.integers(0, 10**11, n), type=TS),
        }
    )


def upsert_batch(rng: np.random.Generator, n: int, next_id: int, next_seq: int) -> pa.Table:
    """Half updates on Zipf-skewed existing keys ``[0, next_id)`` (so
    the batch repeats hot keys), half inserts of fresh keys; ``seq`` is
    unique."""
    upd = _zipf_index(rng, n // 2, next_id)
    ins = np.arange(next_id, next_id + (n - n // 2))
    ids = np.concatenate([upd, ins])
    rng.shuffle(ids)
    return keyed_rows(rng, ids, np.arange(next_seq, next_seq + n))


def ignore_batch(rng: np.random.Generator, n: int, next_id: int, next_seq: int) -> pa.Table:
    """Half existing keys (the sink must skip them), half fresh keys,
    with no key repeated inside the batch."""
    old = rng.choice(next_id, n // 2, replace=False)
    ins = np.arange(next_id, next_id + (n - n // 2))
    return keyed_rows(rng, np.concatenate([old, ins]), np.arange(next_seq, next_seq + n))


def join_tables(rng: np.random.Generator, n_fact: int, n_dim: int) -> tuple[pa.Table, pa.Table]:
    """A fact table keyed by ``cust_id`` (bigint, Zipf-skewed, 1% null,
    some keys missing from the dimension) and a dimension keyed by
    ``cust_key`` (the same integers stored as strings, about 5% repeated
    with another ``seq``, a few null)."""
    dim_keys = rng.permutation(n_dim).astype(np.int64) + 1
    dup = rng.choice(n_dim, n_dim // 20, replace=False)
    keys = np.concatenate([dim_keys, dim_keys[dup]])
    m = len(keys)
    regions = np.array(["north", "south", "east", "west"])
    dim = pa.table(
        {
            "cust_key": pa.array(keys.astype(str), mask=_nulls(rng, m, 0.005)),
            "name": pa.array(_names(rng, m)),
            "region": pa.array(regions[rng.integers(0, 4, m)], mask=_nulls(rng, m, 0.05)),
            "tier": pa.array(rng.integers(1, 6, m)),
            "seq": pa.array(rng.permutation(m).astype(np.int64)),
        }
    )
    # keys beyond n_dim never match: 2% of facts are orphans
    fact_keys = dim_keys[_zipf_index(rng, n_fact, n_dim)]
    orphan = rng.random(n_fact) < 0.02
    fact_keys[orphan] = n_dim + 1 + rng.integers(0, n_dim, orphan.sum())
    fact = pa.table(
        {
            "order_id": pa.array(np.arange(n_fact, dtype=np.int64)),
            "cust_id": pa.array(fact_keys, mask=_nulls(rng, n_fact, 0.01)),
            "amount": pa.array(np.round(rng.uniform(1.0, 1000.0, n_fact), 2)),
            "region": pa.array(regions[rng.integers(0, 4, n_fact)]),
        }
    )
    return fact, dim
