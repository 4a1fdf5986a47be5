"""Seeded input generators for the ingest/CDC workload.

Everything is drawn from ``numpy.random.default_rng([seed, batch])``:
the same seed and batch number give byte-identical files, and no value
comes from ``uuid()`` or the wall clock. The Spark-side tables
(``property_sales``, ``documents``, ``embeddings``) come from the
engine's own ``fixtures.generate``, which is a pure function of
(row id, seed).
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# property_sales_raw (FIXTURES.md §2): 16 all-string columns.
RAW_COLS = [
    "uuid_string", "price_string", "time", "postcode", "a", "b", "c",
    "addr1", "addr2", "street", "locality", "town", "district", "county",
    "d", "e",
]
TOWNS = [
    "LONDON", "MANCHESTER", "BRISTOL", "BIRMINGHAM", "NOTTINGHAM",
    "LEEDS", "SHEFFIELD", "LIVERPOOL", "YORK", "OXFORD",
]
COUNTIES = [
    "GREATER LONDON", "GREATER MANCHESTER", "WEST MIDLANDS", "AVON",
    "NOTTINGHAMSHIRE", "WEST YORKSHIRE", "SOUTH YORKSHIRE", "MERSEYSIDE",
]
# Date formats of the `time` column. All are formats that
# functions.scalar.best_effort_date parses; the reference's own
# "yyyy-MM-dd HH:mm" strings parse to NULL there (see NOTES.md).
TIME_FORMATS = ["%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y"]
# Batches carry sales of the twelve months of 2025: a daily feed lands
# in recent partitions.
FIRST_DAY = np.datetime64("2025-01-01")
N_DAYS = 365
BAD_ROW_SHARE = 0.0005
# Each CDC batch updates and deletes these shares of the live keys.
UPDATE_SHARE = 0.05
DELETE_SHARE = 0.005


@dataclass(frozen=True)
class RawBatch:
    path: str
    rows: int  # lines after the header, malformed ones included
    bad_rows: int
    bytes: int


def _rng(seed: int, batch: int) -> np.random.Generator:
    return np.random.default_rng([seed, batch])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pc.take(pa.array(values), pa.array(rng.choice(len(values), n, p=p)))


def _malformed_line(rng: np.random.Generator, i: int) -> bytes:
    """A line Spark's PERMISSIVE CSV parser puts in _corrupt_record:
    too few fields, too many fields, or a broken quote."""
    kind = int(rng.integers(3))
    if kind == 0:
        return f'"bad-{i}","185000","2025-03-15"'.encode()
    if kind == 1:
        return ",".join(f'"x{i}-{k}"' for k in range(len(RAW_COLS) + 2)).encode()
    return f'"bad-{i}","oops"unterminated,"notadate"'.encode()


def raw_csv_batch(path: str, n_rows: int, seed: int, batch: int) -> RawBatch:
    """Write one property_sales_raw CSV batch with a header and
    ``BAD_ROW_SHARE`` malformed lines at seeded positions."""
    rng = _rng(seed, batch)
    n_bad = max(1, round(n_rows * BAD_ROW_SHARE))
    n_good = n_rows - n_bad
    ids = pa.array(np.arange(n_good)).cast(pa.string())
    # Every (day, format) string once, then one take per row.
    day_strs = [
        d.strftime(f)
        for d in (FIRST_DAY + np.arange(N_DAYS)).astype(object)
        for f in TIME_FORMATS
    ]
    day_fmt = rng.integers(0, N_DAYS, n_good) * len(TIME_FORMATS) + rng.integers(
        0, len(TIME_FORMATS), n_good
    )
    times = pc.take(pa.array(day_strs), pa.array(day_fmt))
    price = np.clip(np.exp(12.43 + 0.8 * rng.standard_normal(n_good)), 1000, 5e7)
    pc1 = pc.binary_join_element_wise(
        _pick(rng, ["SW", "M", "BS", "B", "NG", "LS", "S", "L", "YO", "OX"], n_good),
        pa.array(rng.integers(1, 30, n_good)).cast(pa.string()), "")
    pc2 = pc.binary_join_element_wise(
        pa.array(rng.integers(1, 10, n_good)).cast(pa.string()),
        _pick(rng, ["AA", "AB", "BD", "HH", "XY", "ZT"], n_good), "")
    county = _pick(rng, COUNTIES, n_good)
    county = pc.if_else(pa.array(rng.random(n_good) < 0.02), pa.scalar(None, pa.string()), county)
    empty = pa.repeat("", n_good)
    table = pa.table({
        "uuid_string": pc.binary_join_element_wise(f"{seed}-{batch}-", ids, ""),
        "price_string": pa.array(price.astype(np.int64)).cast(pa.string()),
        "time": times,
        "postcode": pc.binary_join_element_wise(pc1, pc2, " "),
        "a": _pick(rng, ["T", "S", "D", "F", "O"], n_good, p=[0.30, 0.27, 0.22, 0.18, 0.03]),
        "b": _pick(rng, ["Y", "N"], n_good, p=[0.1, 0.9]),
        "c": _pick(rng, ["F", "L", "U"], n_good, p=[0.75, 0.24, 0.01]),
        "addr1": pa.array(rng.integers(1, 200, n_good)).cast(pa.string()),
        "addr2": empty,
        "street": _pick(rng, ["HIGH ST", "MARKET ST", "STATION RD", "CHURCH LN"], n_good),
        "locality": empty,
        "town": _pick(rng, TOWNS, n_good, p=np.array([10, 8, 6, 6, 5, 4, 3, 3, 2, 2]) / 49),
        "district": pc.binary_join_element_wise(
            "D", pa.array(rng.integers(0, 400, n_good)).cast(pa.string()), ""),
        "county": county,
        "d": pa.repeat("A", n_good),
        "e": pa.repeat("A", n_good),
    })
    buf = io.BytesIO()
    pacsv.write_csv(
        table, buf,
        pacsv.WriteOptions(include_header=False, quoting_style="all_valid"),
    )
    lines = buf.getvalue().rstrip(b"\n").split(b"\n")
    positions = np.sort(rng.choice(n_rows, n_bad, replace=False))
    for i, pos in enumerate(positions):
        lines.insert(int(pos), _malformed_line(rng, i))
    data = (",".join(RAW_COLS) + "\n").encode() + b"\n".join(lines) + b"\n"
    with open(path, "wb") as f:
        f.write(data)
    return RawBatch(path=path, rows=n_rows, bad_rows=n_bad, bytes=len(data))


ORDER_STATUS = ["open", "paid", "shipped", "returned"]


def _orders(rng: np.random.Generator, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "order_id": pa.array(keys, pa.int64()),
        "customer_id": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "status": _pick(rng, ORDER_STATUS, n),
        "amount": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "version": pa.array(np.full(n, version), pa.int64()),
    })


def write_parquet_dir(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class OrdersFeed:
    """The keyed ``orders`` snapshot and its CDC batches. Tracks the
    live key set so every batch updates and deletes existing keys."""

    def __init__(self, n_rows: int, seed: int):
        self.seed = seed
        self.keys = np.arange(n_rows, dtype=np.int64)
        self.next_key = n_rows

    def snapshot(self, path: str) -> None:
        write_parquet_dir(_orders(_rng(self.seed, 0), self.keys, 0), path)

    def cdc_batch(self, upd_path: str, del_path: str, batch: int) -> None:
        """``UPDATE_SHARE`` of the live keys updated, ``DELETE_SHARE``
        deleted, and as many new keys inserted as deleted (the updates
        frame carries the inserts)."""
        rng = _rng(self.seed, 1_000_000 + batch)
        n = len(self.keys)
        n_upd, n_del = round(n * UPDATE_SHARE), round(n * DELETE_SHARE)
        picked = self.keys[rng.choice(n, n_upd + n_del, replace=False)]
        upd_keys, del_keys = picked[:n_upd], picked[n_upd:]
        new_keys = np.arange(self.next_key, self.next_key + n_del, dtype=np.int64)
        self.next_key += n_del
        write_parquet_dir(_orders(rng, np.concatenate([upd_keys, new_keys]), batch), upd_path)
        write_parquet_dir(pa.table({"order_id": pa.array(del_keys, pa.int64())}), del_path)
        self.keys = np.union1d(np.setdiff1d(self.keys, del_keys), new_keys)
