"""Seeded input generator for the benchmark, independent of the engine.

It imports only numpy and pyarrow, so the engine under test never sees
anything but the files written here:

- a changelog log (the simulated binlog) as a directory of parquet parts,
  with the ``events`` fixture schema
  ``(event_id, ts, user_id, event_type, value, props)``; keys are drawn
  uniformly or from a Zipf law, ``event_id`` is the dense offset and ``ts``
  rises strictly with it;
- an SQL sf-dir holding ``events.parquet`` and ``orders.parquet`` with the
  fixture schemas and value domains (the only two tables the
  ``changelog_sql`` mix reads).

The same arguments give byte-identical files. Run standalone to write a
log under ``<out>/log``, an sf-dir under ``<out>/sf`` and print the log's
properties::

    python3 perfbench/gen.py --seed 1 --out inputs --zipf 1.1 --batch-cap 2000
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
# event_type -> op, as the engine maps it (signup=insert, error=delete)
_DELETE_TYPE = 2
_TS0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_SPAN_US = 30 * 86_400 * 1_000_000  # the fixture's events cover January 2024
_ORDER_DATE0_MS = 788_918_400_000  # 1995-01-01
_ORDER_DATE_SPAN_DAYS = 2404  # up to 2001-08-01
_PROPS = np.array([f'{{"k": {i}}}' for i in range(100)])
_STATUSES = np.array(["O", "F", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LOG_PARTS = 4  # parquet files per log, like a rotated binlog

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _keys(rng: np.random.Generator, n: int, n_keys: int, zipf_s: float) -> np.ndarray:
    """``n`` keys in ``[0, n_keys)``: uniform when ``zipf_s`` is 0, else the
    key of rank r has weight r**-zipf_s, with ranks shuffled over the key
    space so the hot keys do not cluster in one chunk."""
    if zipf_s <= 0:
        return rng.integers(0, n_keys, size=n, dtype=np.int64)
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -zipf_s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    ranks = np.minimum(ranks, n_keys - 1)  # guards float round-off at the top
    return rng.permutation(n_keys).astype(np.int64)[ranks]


def events_table(
    seed: int, n_events: int, n_keys: int, zipf_s: float = 0.0
) -> pa.Table:
    """One changelog with the ``events`` fixture schema and value domains."""
    rng = np.random.default_rng(seed)
    user_id = _keys(rng, n_events, n_keys, zipf_s)
    gaps = rng.integers(1, max(2 * _SPAN_US // max(n_events, 1), 2), size=n_events)
    ts = _TS0_US + np.cumsum(gaps)
    etype = rng.integers(0, len(EVENT_TYPES), size=n_events)
    value = np.round(np.minimum(rng.exponential(55.0, size=n_events), 560.21), 2)
    props = _PROPS[rng.integers(0, len(_PROPS), size=n_events)]
    return pa.table(
        [
            pa.array(np.arange(n_events, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(user_id),
            pa.array(EVENT_TYPES[etype]),
            pa.array(value),
            pa.array(props),
        ],
        schema=EVENTS_SCHEMA,
    )


def orders_table(seed: int, n_orders: int, n_customers: int) -> pa.Table:
    """The ``orders`` fixture table (schema and value domains)."""
    rng = np.random.default_rng(seed)
    days = rng.integers(0, _ORDER_DATE_SPAN_DAYS + 1, size=n_orders)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_customers, size=n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(_STATUSES[rng.integers(0, 3, size=n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2)),
            "o_orderdate": pa.array(
                _ORDER_DATE0_MS + days * 86_400_000, type=pa.timestamp("ms")
            ).cast(pa.timestamp("us")),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, size=n_orders)]),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_log(out_dir: str, table: pa.Table) -> str:
    """Write a changelog as ``LOG_PARTS`` parquet files under ``out_dir``
    (split in offset order) and return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // LOG_PARTS)
    for i in range(LOG_PARTS):
        write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return out_dir


def write_sf_dir(out_dir: str, events: pa.Table, seed: int, n_orders: int) -> str:
    """Write the SQL sf-dir: ``events`` and a seeded ``orders`` table."""
    os.makedirs(out_dir, exist_ok=True)
    write_table(events, os.path.join(out_dir, "events.parquet"))
    write_table(
        orders_table(seed, n_orders, max(n_orders // 10, 1)),
        os.path.join(out_dir, "orders.parquet"),
    )
    return out_dir


def log_properties(table: pa.Table, batch_cap: int | None = None) -> dict:
    """The input properties the workloads depend on: live rows after a
    full replay, distinct keys, and (with ``batch_cap``) the median number
    of distinct keys per capped micro-batch."""
    uid = table.column("user_id").to_numpy()
    etype = table.column("event_type").to_numpy(zero_copy_only=False)
    n = len(uid)
    # last event per key in offset order (event_id is dense and ascending)
    _, first_in_reversed = np.unique(uid[::-1], return_index=True)
    last = n - 1 - first_in_reversed
    live = int(np.sum(etype[last] != EVENT_TYPES[_DELETE_TYPE]))
    props = {"events": n, "distinct_keys": len(last), "live_rows": live}
    if batch_cap:
        per_batch = [
            len(np.unique(uid[i : i + batch_cap])) for i in range(0, n, batch_cap)
        ]
        props["batch_cap"] = batch_cap
        props["keys_per_batch_p50"] = int(np.median(per_batch))
    return props


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", type=int, default=200_000)
    ap.add_argument("--keys", type=int, default=50_000)
    ap.add_argument("--zipf", type=float, default=0.0)
    ap.add_argument("--batch-cap", type=int, default=None)
    ap.add_argument("--orders", type=int, default=15_000)
    args = ap.parse_args()
    t = events_table(args.seed, args.events, args.keys, args.zipf)
    write_log(os.path.join(args.out, "log"), t)
    write_sf_dir(os.path.join(args.out, "sf"), t, args.seed + 1, args.orders)
    print(json.dumps(log_properties(t, args.batch_cap)))


if __name__ == "__main__":
    main()
