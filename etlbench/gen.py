"""Seeded input generation for both workloads.

Everything here is plain numpy/pyarrow: the engine under test never runs
in this module, so input generation is excluded from every timed region
and from ``setup_s``. The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDEAST")
STATUSES = ("F", "O", "P")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input so adding one never shifts another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def write_parquet(table: pa.Table, path: str, row_group: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group)
    return path


def file_digest(paths: list[str]) -> str:
    """Content hash of generated input files (for the run-context line)."""
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------- etl ----
def orders_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "orders")
    keys = r.permutation(n).astype("int64") + 1
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": r.integers(1, n // 10 + 2, n, dtype="int64"),
            "o_status": pa.array(np.array(STATUSES)[r.integers(0, 3, n)]),
            "o_totalprice": np.round(r.uniform(1.0, 10_000.0, n), 2),
            "o_orderdate": pa.array(
                (np.datetime64("2020-01-01") + r.integers(0, 1461, n)).astype(
                    "datetime64[D]"
                )
            ),
            "o_region": pa.array(np.array(REGIONS)[r.integers(0, 5, n)]),
            "o_comment": pa.array(
                [f"c{v:012x}" for v in r.integers(0, 2**47, n)]
            ),
        }
    )


def updates_table(seed: int, orders: pa.Table, n_upd: int) -> pa.Table:
    """Full-row replace batch: existing keys with new prices/status plus a
    block of brand-new keys (so replace both updates and inserts)."""
    r = _rng(seed, "updates")
    n = orders.num_rows
    pick = np.sort(r.choice(n, n_upd, replace=False))
    upd = orders.take(pa.array(pick))
    new_status = np.array(STATUSES)[r.integers(0, 3, n_upd)]
    upd = upd.set_column(
        upd.schema.get_field_index("o_status"), "o_status", pa.array(new_status)
    )
    upd = upd.set_column(
        upd.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array(np.round(r.uniform(1.0, 10_000.0, n_upd), 2)),
    )
    fresh = orders.slice(0, n_upd // 4)
    fresh = fresh.set_column(
        0, "o_orderkey", pa.array(np.arange(n + 1, n + 1 + fresh.num_rows, dtype="int64"))
    )
    return pa.concat_tables([upd, fresh])


def customers_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customers")
    return pa.table(
        {
            "c_custkey": np.arange(1, n + 1, dtype="int64"),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n + 1)]),
            "c_acctbal": np.round(r.uniform(-999.0, 9999.0, n), 2),
            "c_segment": pa.array(
                np.array(("AUTO", "BUILD", "FURN", "HOUSE", "MACH"))[
                    r.integers(0, 5, n)
                ]
            ),
        }
    )


# --------------------------------------------------------- versioned ----
EVENT_TYPES = ("click", "view", "buy", "cart", "search")


def event_slice(seed: int, idx: int, rows: int, key_base: int) -> pa.Table:
    """One append slice: ``rows`` events with ids key_base..key_base+rows-1."""
    r = _rng(seed, f"slice{idx}")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table(
        {
            "event_id": np.arange(key_base, key_base + rows, dtype="int64"),
            "ts": pa.array(
                t0 + r.integers(0, 86_400_000_000 * 30, rows).astype("timedelta64[us]"),
                type=pa.timestamp("us"),
            ),
            "user_id": r.integers(1, 5_000, rows, dtype="int64"),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, rows)]),
            "value": np.round(r.uniform(0.0, 500.0, rows), 3),
            "props": pa.array([f"p{v:08x}" for v in r.integers(0, 2**31, rows)]),
        }
    )


def cdc_batch(seed: int, j: int, base_rows: int, n_upd: int, n_new: int,
              n_stale: int, new_key_base: int) -> pa.Table:
    """A CDC batch: new images of ``n_upd`` existing base ids, ``n_new``
    ids no slice uses, and an older image (one hour earlier) of the first
    ``n_stale`` updated ids, which must be dropped before a MERGE."""
    import pyarrow.compute as pc

    upd = event_slice(seed, 10_000 + j, n_upd, 0)
    ids = np.sort(_rng(seed, f"cdc{j}").choice(base_rows, n_upd, replace=False))
    upd = upd.set_column(0, "event_id", pa.array(ids.astype("int64")))
    new = event_slice(seed, 20_000 + j, n_new, new_key_base)
    stale = upd.slice(0, n_stale)
    hour = pa.scalar(3_600_000_000, pa.duration("us"))
    stale = stale.set_column(1, "ts", pc.subtract(stale.column("ts"), hour))
    stale = stale.set_column(4, "value", pa.array(np.zeros(n_stale)))
    return pa.concat_tables([upd, new, stale])
