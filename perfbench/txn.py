"""The transactional step: seeded CDC changelogs for a ``TxnTable`` over
orders, and an independent pandas replay that checks what the table
holds after the merges.

A changelog carries the orders columns plus ``is_delete``, ``ts_us`` and
``event_id``. It names ``KEYS`` distinct order keys: one existing key is
deleted, the other existing keys get updates, one key is new (an
insert), and one key appears twice so that latest-wins has something to
decide. The same seed writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KEY = "o_orderkey"
BUCKETS = 32  # hash buckets of the table
KEYS = 8  # distinct keys per changelog
CHANGELOGS = 16  # written at set-up; passes cycle through them


def orders_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "orders.parquet")


def write_changelogs(sf_dir: str, out_dir: str, seed: int,
                     n: int = CHANGELOGS) -> list[str]:
    """Write ``n`` changelogs under ``out_dir``; return their paths."""
    orders = pq.read_table(orders_path(sf_dir))
    keys = orders.column(KEY).to_numpy()
    statuses = np.unique(orders.column("o_orderstatus").to_numpy(zero_copy_only=False))
    prios = np.unique(orders.column("o_orderpriority").to_numpy(zero_copy_only=False))
    dates = orders.column("o_orderdate").to_numpy()
    schema = pa.schema(list(orders.schema.remove_metadata()) + [
        pa.field("is_delete", pa.bool_()),
        pa.field("ts_us", pa.int64()),
        pa.field("event_id", pa.int64()),
    ])
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n):
        picked = list(rng.choice(keys, size=KEYS - 1, replace=False))
        picked.append(int(keys.max()) + 1 + i)  # a key the table lacks
        dup = int(rng.integers(KEYS))
        rows = picked + [picked[dup]]  # one key twice
        m = len(rows)
        delete = np.zeros(m, dtype=bool)  # one existing key, named once
        delete[rng.choice([j for j in range(KEYS - 1) if j != dup])] = True
        pdf = pd.DataFrame({
            KEY: np.array(rows, dtype=np.int64),
            "o_custkey": rng.integers(1, 15_000, size=m, dtype=np.int64),
            "o_orderstatus": rng.choice(statuses, size=m),
            "o_totalprice": np.round(rng.uniform(900, 500_000, size=m), 2),
            "o_orderdate": rng.choice(dates, size=m),
            "o_orderpriority": rng.choice(prios, size=m),
            "is_delete": delete,
            "ts_us": 1_700_000_000_000_000 + i * 1_000_000 + np.arange(m, dtype=np.int64),
            "event_id": i * 1000 + np.arange(m, dtype=np.int64),
        })
        table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        path = os.path.join(out_dir, f"changelog-{i:03d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def apply_changelog(state: pd.DataFrame, path: str) -> pd.DataFrame:
    """``state`` (indexed by key) after one merge: per key the row with the
    largest ``(ts_us, event_id)`` wins whole, a winning delete removes
    the key."""
    cl = pd.read_parquet(path).sort_values(["ts_us", "event_id"])
    cl = cl.drop_duplicates(KEY, keep="last").set_index(KEY)
    state = state.drop(index=cl.index, errors="ignore")
    ups = cl.loc[~cl["is_delete"], state.columns]
    return pd.concat([state, ups]).sort_index()


def base_state(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(orders_path(sf_dir)).set_index(KEY).sort_index()


def read_result(state: pd.DataFrame) -> dict[str, tuple[int, float]]:
    """What the benchmark's snapshot read returns: rows and summed total
    price per order status."""
    g = state.groupby("o_orderstatus")["o_totalprice"]
    return {s: (int(c), float(t)) for s, c, t in zip(g.count().index, g.count(), g.sum())}


def parquet_bytes(root: str) -> int:
    """Bytes of all parquet files under ``root``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )
