"""Synthetic fixture tables shaped like the repository's testdata.

The benchmark reads and writes only inside its own checkout, so it
cannot read the ``sf*`` testdata directories (TESTDATA.md), which live
outside it.  Instead it writes the three tables ``serve`` reads, with
the testdata's table names, column names and parquet types and with
distributions close to the testdata's:

* ``events``: a month (2024-01) of time-ordered events, 150 users, five
  event types, exponential values and ``{"k": N}`` JSON bodies — the
  source of the engine's logs and counter series;
* ``orders``/``lineitem``: the two-level span forest (one root span per
  order, 1-13 child spans per order).

At the benchmark's sizes (100,000 events and 150,000 orders, about
616,000 line items) the tables have the row counts of the testdata's
sf0.1 directory, where the span forest holds about 766,000 spans.

The tables are fixtures, not workload inputs: they come from a fixed
seed, so every run reads identical rows, and only the per-run inputs
(queries, payloads, panel order) follow the benchmark's ``--seed``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = ("events", "orders", "lineitem")

_EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_JAN_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _dates_us(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    """``n`` dates in ``[1995-01-01, +days)`` as timestamp[us]."""
    base = np.datetime64("1995-01-01", "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _JAN_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def _orders_lineitem(rng: np.random.Generator, n_o: int) -> tuple[pa.Table, pa.Table]:
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(n_o // 10, 1), n_o).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["P", "F", "O"])[rng.integers(0, 3, n_o)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_o), 2)),
            "o_orderdate": pa.array(_dates_us(rng, n_o, 2404)),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_o)]),
        }
    )
    lines_per = np.clip(rng.poisson(3.1, n_o) + 1, 1, 13)
    n_l = int(lines_per.sum())
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_o, dtype=np.int64), lines_per)),
            "l_partkey": pa.array(rng.integers(0, max(n_o * 2 // 15, 1), n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_l)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
            "l_shipdate": pa.array(_dates_us(rng, n_l, 2500)),
        }
    )
    return orders, lineitem


def ensure_fixtures(out_dir: str, events: int, orders: int) -> None:
    """Write the fixture tables to ``out_dir`` unless an earlier run
    did.  The files are written beside it and renamed into place, so
    ``out_dir`` holds either nothing or every table, and a run that
    finds it keeps the files' modification times (the program's span
    coordinate store is validated against them)."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    rng = np.random.default_rng(FIXTURE_SEED)
    tables = dict(zip(TABLES, (_events(rng, events), *_orders_lineitem(rng, orders))))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another run renamed its copy first
        shutil.rmtree(tmp, ignore_errors=True)
