"""Seeded input generators for the benchmark workloads.

Every table the benchmark reads is made here from ``--seed``; nothing
outside the checkout is read.  The relational tables mirror the shape
of the repo's sf0.1 test corpus (same schemas, row counts, value
ranges and skews), so the entry functions of ``__spark_entry__`` and
their ``oracle_sql()`` twins run on them unchanged:

- ``events``    100k rows, 30 days of timestamps, 5 event types,
  2-decimal exponential values, ``props`` = ``{"k": 0..99}``;
- ``lineitem``  600k rows, TPC-H-like columns and flag mix;
- ``orders``    150k rows, 3 statuses x 5 priorities;
- ``documents`` iid tokens over a 30-word vocabulary, 10-100 tokens,
  5% planted near-duplicates (a copy of another doc + `` dup``).

The seed picks the values and the row order; every table is split into
``FILES`` parquet files (a seed-chosen count would change scan
parallelism and so the timings).  The writer emits one directory per
table (``<stage>/<name>.parquet/part-*.parquet``), which both Spark and
the DuckDB views read.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

FILES = 4
_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds
_DAY_US = 86_400_000_000


def _cents(rng, scale: float, size: int, lo: float = 0.0, hi: float = np.inf):
    v = np.clip(rng.exponential(scale, size), lo, hi)
    return np.round(v * 100.0) / 100.0


def events(rng, n: int = 100_000) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _BASE_US
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_cents(rng, 50.0, n, 0.0, 560.0)),
        "props": pa.array([json.dumps({"k": int(x)}) for x in k]),
    })


def lineitem(rng, n: int = 600_000) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["O", "F"])[rng.integers(0, 2, n)]
    ship = _BASE_US - 29 * 365 * _DAY_US + rng.integers(0, 2500, n) * _DAY_US
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(status),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def orders(rng, n: int = 150_000) -> pa.Table:
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )[rng.integers(0, 5, n)]
    day = _BASE_US - 29 * 365 * _DAY_US + rng.integers(0, 2400, n) * _DAY_US
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(day, pa.timestamp("us")),
        "o_orderpriority": pa.array(prio),
    })


def documents(rng, n: int = 5000) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    # 5% near-duplicates: a copy of another (original) doc plus " dup"
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


GENERATORS = {
    "events": events, "lineitem": lineitem, "orders": orders,
    "documents": documents,
}


def stage_tables(stage: str, seed: int, sizes: dict[str, int]) -> None:
    """Write each table of ``sizes`` under ``stage`` with its rows in a
    seed-permuted order, split into ``FILES`` parquet files."""
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        tbl = GENERATORS[name](rng, n)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        out = os.path.join(stage, f"{name}.parquet")
        os.makedirs(out, exist_ok=True)
        step = -(-tbl.num_rows // FILES)
        for p in range(FILES):
            pq.write_table(
                tbl.slice(p * step, step),
                os.path.join(out, f"part-{p:05d}.parquet"),
            )
