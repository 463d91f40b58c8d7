"""Seeded input generators for the benchmark (pyarrow + numpy only).

Two kinds of input:

* `write_tables` writes the `events` and `orders` fixture tables with
  the schemas, row counts and key ranges of the sf0.1 fixtures, one
  single-row-group parquet file per table. Both engines read these
  files: Spark through `prepare_splittable`, DuckDB (the oracle)
  directly.
* `write_backlog` writes the event backlog `consume_drain` drains: one
  parquet file per micro-batch, strictly increasing mtimes (the file
  source orders by mtime, so file k is micro-batch k), with fixed
  shares of valid rows, rows without an `event_id`, stale rows,
  in-file duplicates and cross-file redeliveries. It returns the
  per-batch rows the consume path must produce.

The same seed gives the same rows; only the backlog's timestamps are
taken relative to the wall clock, because the consume path validates
age against `current_timestamp()`.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts and key ranges of the fixtures (`/testdata` layout:
# 100k events over January 2024 from 1,500 users; 150k orders of
# 15,000 customers). Only the two tables the event queries read are
# generated.
EVENTS = 100_000
EVENT_USERS = 1_500
ORDERS = 150_000
CUSTOMERS = 15_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400 * 1_000_000
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _props(rng: np.random.Generator, n: int) -> pa.Array:
    return pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, EVENTS)) + EPOCH_2024
    days = rng.integers(0, 2404, ORDERS) + EPOCH_1995
    return {
        "events": pa.table({
            "event_id": pa.array(np.arange(EVENTS), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, EVENTS),
                                pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, EVENTS),
            "value": pa.array(np.maximum(0.01, np.round(
                rng.exponential(50.0, EVENTS), 2))),
            "props": _props(rng, EVENTS)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS),
                                  pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], ORDERS),
            "o_totalprice": pa.array(np.round(
                rng.uniform(1000.0, 500000.0, ORDERS), 2)),
            "o_orderdate": pa.array(days.astype("datetime64[D]")
                                    .astype("datetime64[us]"),
                                    pa.timestamp("us")),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"],
                                     ORDERS)}),
    }


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to `out_dir/<name>.parquet`; return the row
    count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --- consume_drain backlog -------------------------------------------------

# The share of rows without a key in the repository's validation
# fixture (`query_defs/pipeline_queries.validation_input`: event_id % 13
# or % 17 -> empty or NULL key): event_id NULL -> DLQ "missing_event_id".
MISSING_ID_SHARE = 1 - (1 - 1 / 13) * (1 - 1 / 17)
# The other three shares have no source in the repository or the
# reference service: they are arbitrary, kept small, and a drain's CPU
# time is insensitive to them (see perfbench/README.md).
STALE_SHARE = 0.05        # older than 7 days -> DLQ "stale_event"
IN_FILE_DUP_SHARE = 0.05  # exact copy inside the file -> dropped by dedup
REDELIVERY_SHARE = 0.05   # exact copy of an earlier file's row -> kept
STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


@dataclass
class Backlog:
    """What the consume path must produce from a generated backlog.

    `main[k]` / `dlq[k]` are the sorted row tuples micro-batch k writes
    to the main table ((event_id, ts_us, user_id, event_type, value,
    props)) and to the DLQ ((event_id, ts_us, reject_reason))."""
    files: list[str]
    events: int
    main: list[list[tuple]]
    dlq: list[list[tuple]]
    dedup_dropped: int
    redelivered: int

    @property
    def main_rows(self) -> int:
        return sum(len(b) for b in self.main)

    @property
    def dlq_rows(self) -> int:
        return sum(len(b) for b in self.dlq)


def write_backlog(out_dir: str, seed: int, n_files: int,
                  rows_per_file: int) -> Backlog:
    """Write `n_files` event files of `rows_per_file` rows each.

    Valid timestamps lie 1 minute to 2 days before now and stale ones
    8 to 30 days before now, so the 7-day validation horizon classifies
    every row the same way for days after generation."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    now_us = int(time.time() * 1e6)
    n_missing = int(rows_per_file * MISSING_ID_SHARE)
    n_stale = int(rows_per_file * STALE_SHARE)
    n_dup = int(rows_per_file * IN_FILE_DUP_SHARE)
    n_redeliver = int(rows_per_file * REDELIVERY_SHARE)
    next_id = 0
    delivered: list[tuple] = []   # valid rows of earlier files
    files, main, dlq = [], [], []
    dedup_dropped = redelivered = 0
    for k in range(n_files):
        redeliver = n_redeliver if delivered else 0
        n_fresh = rows_per_file - n_missing - n_stale - n_dup - redeliver
        n_new = n_fresh + n_missing + n_stale
        ids = np.arange(next_id, next_id + n_new)
        next_id += n_new
        age = np.concatenate([
            rng.integers(60_000_000, 2 * US_PER_DAY, n_fresh + n_missing),
            rng.integers(8 * US_PER_DAY, 30 * US_PER_DAY, n_stale)])
        rows = list(zip(
            [int(i) for i in ids[:n_fresh]] + [None] * n_missing
            + [int(i) for i in ids[n_fresh + n_missing:]],
            (now_us - age).tolist(),
            rng.integers(0, EVENT_USERS, n_new).tolist(),
            np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES),
                                                 n_new)].tolist(),
            np.maximum(0.01, np.round(rng.exponential(50.0, n_new), 2))
            .tolist(),
            [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_new)]))
        fresh = rows[:n_fresh]
        copies = [fresh[i] for i in rng.choice(n_fresh, n_dup, replace=False)]
        again = [delivered[i] for i in
                 rng.choice(len(delivered), redeliver, replace=False)]
        batch = rows + copies + again
        order = rng.permutation(len(batch))
        batch = [batch[i] for i in order]

        path = os.path.join(out_dir, f"events-{k:05d}.parquet")
        cols = list(zip(*batch))
        pq.write_table(pa.table(
            [pa.array(c, t) for c, t in zip(cols, STREAM_SCHEMA.types)],
            schema=STREAM_SCHEMA), path)
        files.append(path)

        main.append(sorted(set(fresh + again)))
        dlq.append(sorted(
            [(None, r[1], "missing_event_id")
             for r in rows[n_fresh:n_fresh + n_missing]]
            + [(r[0], r[1], "stale_event") for r in rows[n_fresh + n_missing:]],
            key=lambda r: (r[0] is not None, r[0] or 0, r[1])))
        dedup_dropped += n_dup
        redelivered += redeliver
        delivered.extend(fresh)

    # the file source orders files by modification time
    base = int(time.time()) - n_files - 10
    for k, path in enumerate(files):
        os.utime(path, (base + k, base + k))
    return Backlog(files, n_files * rows_per_file, main, dlq,
                   dedup_dropped, redelivered)
