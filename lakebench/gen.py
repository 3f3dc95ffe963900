"""Seeded input generators for the three workloads.

Everything the engine receives is rendered here, from the seed alone,
before the measured phase starts. Nothing in this module imports Spark:
publishing during the measured phase is a file rename on a schedule, so
the generator stays cheap and cannot contend with the engine for the JVM.

- :func:`render_order_chunks` — valid orders as Kafka-shaped JSON lines
  (``key``, ``value``, ``timestamp``), one file per chunk, staged under a
  directory the stream source does not watch.
- :func:`cdc_batches` — Debezium-style change batches against the orders
  table: keys skewed toward recent ``order_id`` s, ~10 % deletes, and
  same-key same-``ts_ms`` pairs ordered by a ``seq`` column.
- :func:`query_schedule` — the seeded shuffled order of the
  ``lake_queries`` registry queries.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pandas as pd

# Orders are valid by construction: every check of the engine's default
# orders DQ suite passes (complete, positive amount, date in the past,
# customer key present in sf0.1 ``customer``), so the DQ gate never
# routes a micro-batch to quarantine.
_N_CUSTOMERS = 15_000
_EPOCH_DAY_LO = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
_EPOCH_DAY_HI = (dt.date(2001, 8, 1) - dt.date(1970, 1, 1)).days


def _order(rng: random.Random, order_id: int) -> dict:
    day = dt.date(1970, 1, 1) + dt.timedelta(
        days=rng.randint(_EPOCH_DAY_LO, _EPOCH_DAY_HI)
    )
    return {
        "order_id": order_id,
        "order_date": day.isoformat(),
        "order_amount": round(rng.uniform(1.0, 500_000.0), 2),
        "customer_id": rng.randrange(_N_CUSTOMERS),
    }


def render_order_chunks(
    seed: int,
    staging_dir: str,
    n_chunks: int,
    rows_per_chunk: int,
    first_order_id: int,
    prefix: str,
) -> tuple[list[str], list[dict]]:
    """Write ``n_chunks`` JSON-lines chunk files of Kafka-shaped records
    into ``staging_dir``. Returns (chunk file paths in publish order,
    every produced order as a dict). Order ids are distinct and
    increasing from ``first_order_id``."""
    rng = random.Random(f"orders:{seed}:{prefix}")
    os.makedirs(staging_dir, exist_ok=True)
    stamp = "2026-01-01T00:00:00.000Z"
    paths: list[str] = []
    produced: list[dict] = []
    oid = first_order_id
    for c in range(n_chunks):
        lines = []
        for _ in range(rows_per_chunk):
            o = _order(rng, oid)
            oid += 1
            produced.append(o)
            # the record's value is the order's JSON, embedded as a string
            value = json.dumps(o).replace('"', '\\"')
            lines.append(
                f'{{"key": "{o["order_id"]}", "value": "{value}", "timestamp": "{stamp}"}}'
            )
        path = os.path.join(staging_dir, f"{prefix}-{c:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths, produced


# share of changes that are deletes, and share that repeat the previous
# change's key and ``ts_ms`` (a tie that ``seq`` orders)
DELETE_SHARE = 0.10
TIE_SHARE = 0.05

CDC_COLUMNS = [
    "order_id",
    "order_date",
    "order_amount",
    "customer_id",
    "_cdc_op",
    "_cdc_ts_ms",
    "seq",
]


def cdc_batches(
    seed: int,
    sizes: list[int],
    n_keys: int,
    out_dir: str,
) -> list[tuple[str, int]]:
    """Render one parquet file per change batch. Returns
    [(path, n_changes)] in apply order.

    Keys are drawn from ``[0, n_keys)`` with an exponential skew toward
    the most recent (highest) ``order_id`` s, so later keys are updated
    repeatedly within and across batches. ``ts_ms`` rises across batches
    (batch ``b`` lives in ``[b*10^6, (b+1)*10^6)``), so replaying the
    whole log latest-wins equals applying the batches in order. Within a
    batch about ``TIE_SHARE`` of changes reuse the previous change's key
    and ``ts_ms``; ``seq`` (strictly increasing) orders such ties.
    """
    rng = random.Random(f"cdc:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    out = []
    seq = 0
    for b, size in enumerate(sizes):
        ts = b * 1_000_000
        rows = []
        prev = None
        for _ in range(size):
            seq += 1
            if prev is not None and rng.random() < TIE_SHARE:
                key, ts_ms = prev
            else:
                key = n_keys - 1 - min(int(rng.expovariate(8.0 / n_keys)), n_keys - 1)
                ts += rng.randint(1, 50)
                ts_ms = ts
            op = "d" if rng.random() < DELETE_SHARE else "u"
            o = _order(rng, key)
            rows.append(
                (
                    key,
                    dt.date.fromisoformat(o["order_date"]),
                    o["order_amount"],
                    o["customer_id"],
                    op,
                    ts_ms,
                    seq,
                )
            )
            prev = (key, ts_ms)
        df = pd.DataFrame(rows, columns=CDC_COLUMNS).astype(
            {"order_id": "int64", "customer_id": "int64", "_cdc_ts_ms": "int64", "seq": "int64"}
        )
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        df.to_parquet(path, index=False)
        out.append((path, size))
    return out


def query_schedule(seed: int, names: list[str], rounds: int) -> list[str]:
    """``rounds`` passes over ``names``, each pass in its own seeded
    shuffled order — every query runs equally often, so class medians
    compare across seeds."""
    rng = random.Random(f"queries:{seed}")
    out: list[str] = []
    for _ in range(rounds):
        order = list(names)
        rng.shuffle(order)
        out.extend(order)
    return out
