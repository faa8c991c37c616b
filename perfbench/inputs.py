"""Seeded input generators for the resync benchmark.

Every table is built with NumPy from one ``numpy.random.Generator`` and
written with pyarrow, so the same seed always gives byte-identical
inputs and the program under test only ever sees the generated files.
Column names and types follow the repository's TPC-H-style test tables
(``lineitem`` and ``orders``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1992-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


def _lineitem_values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """The non-key lineitem columns for ``n`` rows. Money values are
    cents-exact, as in the test tables."""
    qty = rng.integers(1, 51, n)
    return {
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(90_000, 210_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": EPOCH + rng.integers(0, 2_500, n) * DAY_US,
    }


def lineitem_keys(rng: np.random.Generator, n: int, first_orderkey: int = 1):
    """``n`` unique (l_orderkey, l_linenumber) pairs: consecutive orders
    with 1-7 lines each, the TPC-H shape."""
    lines = rng.integers(1, 8, n // 4 + 8)
    while lines.sum() < n:
        lines = np.concatenate([lines, rng.integers(1, 8, n // 4 + 8)])
    orderkey = np.repeat(np.arange(first_orderkey, first_orderkey + len(lines)), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(len(orderkey)) - starts + 1
    return orderkey[:n].astype(np.int64), linenumber[:n].astype(np.int32)


def lineitem_table(orderkey, linenumber, values, batch: int | None = None) -> pa.Table:
    cols = {"l_orderkey": orderkey, "l_linenumber": linenumber, **values}
    order = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate"]
    arrays = {name: cols[name] for name in order}
    if batch is not None:
        arrays["l_batch"] = np.full(len(orderkey), batch, dtype=np.int64)
    return pa.table(arrays)



def upsert_inputs(
    rng: np.random.Generator, n_keys: int, batch_rows: int, n_batches: int
) -> tuple[pa.Table, list[pa.Table]]:
    """A base snapshot of ``n_keys`` unique keys (``l_batch`` = 0) and
    ``n_batches`` batches (``l_batch`` = 1..K). Each batch holds
    ``batch_rows`` distinct keys: half rewrite base keys, half are new
    keys above every earlier one."""
    ok, ln = lineitem_keys(rng, n_keys)
    base = lineitem_table(ok, ln, _lineitem_values(rng, n_keys), batch=0)
    n_upd = batch_rows // 2
    n_new = batch_rows - n_upd
    next_order = int(ok.max()) + 1
    batches = []
    for b in range(1, n_batches + 1):
        pick = rng.choice(n_keys, n_upd, replace=False)
        nok, nln = lineitem_keys(rng, n_new, first_orderkey=next_order)
        next_order = int(nok.max()) + 1
        orderkey = np.concatenate([ok[pick], nok])
        linenumber = np.concatenate([ln[pick], nln])
        batches.append(
            lineitem_table(orderkey, linenumber, _lineitem_values(rng, batch_rows), batch=b)
        )
    return base, batches


def orders_table(rng: np.random.Generator, n_rows: int, span_days: int) -> pa.Table:
    """``orders`` rows with unique increasing keys and ``o_orderdate``
    (midnight timestamps) spread uniformly over ``span_days`` days from
    the epoch; row ``0`` sits on the first day so the MIN probe is the
    epoch."""
    days = np.sort(rng.integers(0, span_days, n_rows))
    days[0] = 0
    return pa.table({
        "o_orderkey": np.arange(1, n_rows + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, 15_001, n_rows).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_rows),
        "o_totalprice": rng.integers(90_000, 50_000_000, n_rows) / 100.0,
        "o_orderdate": EPOCH + days * DAY_US,
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_rows,
        ),
    })


def write(table: pa.Table, path: str, row_group_rows: int = 64_000) -> str:
    pq.write_table(table, path, row_group_size=row_group_rows)
    return path
