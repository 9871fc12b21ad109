"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pandas/pyarrow, so the engine under test sees
only the files these functions write, and the generator (not the engine)
is the source of truth for the expected counts the correctness gate
compares against.

- ``write_payments``: JSON-lines payments against registry schema
  ``payments/transactions/v1``, with a known set of rows that break a
  schema-derived range or in-set check.
- ``write_tables``: the TPC-H-like star schema plus ``events`` and
  ``documents`` that the query-mix registry queries read, with the same
  column names, dtypes and value shapes as the ``TESTDATA.md`` tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CURRENCIES = ["USD", "EUR", "GBP", "JPY"]
STATUSES = ["pending", "completed", "failed", "cancelled"]
METHODS = ["credit_card", "debit_card", "bank_transfer", "wallet"]
PAYMENT_DAYS = 270
PAYMENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "s")


@dataclass(frozen=True)
class PaymentsInput:
    """What the generator wrote: the ground truth for the gate."""

    path: str
    files: int
    rows: int
    bad_rows: int
    bytes: int
    good_cents: int
    good_dates: int

    @property
    def good_rows(self) -> int:
        return self.rows - self.bad_rows


def write_payments(
    out_dir: str,
    seed: int,
    rows: int,
    files: int,
    days: int = PAYMENT_DAYS,
    bad_share: float = 0.05,
) -> PaymentsInput:
    """Write ``rows`` payments over ``files`` JSON-lines files.

    About ``bad_share`` of the rows break exactly one schema-derived
    check: amount below its minimum, amount above its maximum, a currency
    outside the allowed set, or a status outside the allowed set.
    Transaction times span ``days`` days (UTC)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    bad = rng.random(rows) < bad_share
    kind = rng.integers(0, 4, rows)  # which check a bad row breaks
    amount = np.round(rng.uniform(1.0, 5000.0, rows), 2)
    amount = np.where(bad & (kind == 0), 0.0, amount)
    amount = np.where(bad & (kind == 1), 1234567.89, amount)
    currency = np.array(CURRENCIES, dtype=object)[rng.integers(0, 4, rows)]
    currency = np.where(bad & (kind == 2), "XXX", currency)
    status = np.array(STATUSES, dtype=object)[rng.integers(0, 4, rows)]
    status = np.where(bad & (kind == 3), "unknown", status)
    seconds = rng.integers(0, days * 86400, rows)
    when = (PAYMENT_EPOCH + seconds.astype("timedelta64[s]")).astype(str)
    customer = pd.Series(rng.integers(0, 50_000, rows)).map("C{:06d}".format)
    customer[rng.random(rows) < 0.05] = None
    method = pd.Series(np.array(METHODS, dtype=object)[rng.integers(0, 4, rows)])
    method[rng.random(rows) < 0.05] = None
    df = pd.DataFrame(
        {
            "transaction_id": pd.Series(np.arange(rows)).map("T{:010d}".format),
            "customer_id": customer,
            "amount": amount,
            "currency": currency,
            "transaction_status": status,
            "transaction_time": pd.Series(when) + "Z",
            "merchant_id": pd.Series(rng.integers(0, 2_000, rows)).map("M{:05d}".format),
            "payment_method": method,
        }
    )
    total = 0
    for i, part in enumerate(np.array_split(np.arange(rows), files)):
        path = os.path.join(out_dir, f"part-{i:04d}.json")
        df.iloc[part].to_json(path, orient="records", lines=True)
        total += os.path.getsize(path)
    good = ~bad
    cents = int(np.round(amount[good] * 100).astype(np.int64).sum())
    dates = len(np.unique(seconds[good] // 86400))
    return PaymentsInput(out_dir, files, rows, int(bad.sum()), total, cents, dates)


# -- query-mix tables ---------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 3) + ["zh", "es", "de", "fr"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _day_stamps(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    """Random-word documents; about 5% are a copy of an earlier document
    with ``dup`` appended, which gives the near-dup pipelines real
    clusters (chains included) and the span-dedup real repeated spans."""
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    text = pd.Series(texts, dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)],
            "source": pd.Series(np.arange(n) % 20).map("src{}".format),
            "n_chars": text.str.len().astype(np.int64),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the query-mix tables at scale factor ``sf`` (sf=0.01 gives the
    row counts of ``TESTDATA.md``'s sf0.01). Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_users = int(15_000 * sf)
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    frames = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int32) % 5,
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pd.Series(np.arange(n_cust)).map("Customer#{:09d}".format),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(SEGMENTS, dtype=object)[
                    rng.integers(0, 5, n_cust)
                ],
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[
                    rng.integers(0, 3, n_ord)
                ],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": np.array(PRIORITIES, dtype=object)[
                    rng.integers(0, 5, n_ord)
                ],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, int(200_000 * sf), n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, int(10_000 * sf), n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["R", "A", "N"], dtype=object)[
                    rng.integers(0, 3, n_li)
                ],
                "l_linestatus": np.array(["O", "F"], dtype=object)[
                    rng.integers(0, 2, n_li)
                ],
                "l_shipdate": _day_stamps(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev_ts.astype("datetime64[us]"),
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": np.array(EVENT_TYPES, dtype=object)[
                    rng.integers(0, 5, n_ev)
                ],
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": pd.Series(rng.integers(0, 100, n_ev)).map('{{"k": {}}}'.format),
            }
        ),
        "documents": _documents(rng, n_doc),
    }
    for name, df in frames.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return {name: len(df) for name, df in frames.items()}
