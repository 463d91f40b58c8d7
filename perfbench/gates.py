"""Correctness gates, run outside every timed region.

* Batch queries: the Spark result is compared with the query's
  registered DuckDB oracle run on the unsplit generated files: same
  columns, same dtype kinds, same multiset of rows, values exact.
* `consume_drain`: the main and DLQ tables a drain wrote are compared,
  micro-batch by micro-batch, with the rows the generator says the
  consume path's per-batch contract produces (first-wins dedup within
  a micro-batch, invalid rows to the DLQ).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def run_oracle(sql: str, table_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(table_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(table_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            col = out[c]
            if getattr(col.dtype, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = col.astype("datetime64[us]")
    return out


def _first_difference(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Sort both frames by every column and compare them cell by cell
    (NULL equals NULL); a one-line reason, or None when equal."""
    cols = list(got.columns)
    g = got.sort_values(cols, na_position="first", kind="mergesort",
                        ignore_index=True)
    w = want.sort_values(cols, na_position="first", kind="mergesort",
                         ignore_index=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        same = np.asarray(a == b, dtype=bool) | (pd.isna(a) & pd.isna(b))
        if not same.all():
            i = int(np.argmin(same))
            return (f"first differing row: spark {tuple(g.iloc[i])} "
                    f"!= oracle {tuple(w.iloc[i])}")
    return None


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    got, want = _canonical(got), _canonical(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        if got[c].dtype.kind != want[c].dtype.kind:
            return (f"dtype of {c}: spark {got[c].dtype} "
                    f"!= oracle {want[c].dtype}")
    return _first_difference(got, want)


def _read_batches(root: str, n_batches: int) -> list[pa.Table | None]:
    out = []
    for k in range(n_batches):
        path = os.path.join(root, f"batch_id={k}")
        out.append(pq.read_table(path) if os.path.isdir(path) else None)
    return out


def _ts_us(table: pa.Table) -> list[int]:
    ts = table.column("ts")
    if ts.type.tz is not None:
        ts = ts.cast(pa.timestamp(ts.type.unit))
    return ts.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()


def check_drain(backlog, main_dir: str, dlq_dir: str) -> list[str]:
    """Compare one drain's output with the backlog's expected rows;
    return one message per micro-batch that differs (empty = correct)."""
    n = len(backlog.files)
    errors = []
    mains = _read_batches(main_dir, n)
    dlqs = _read_batches(dlq_dir, n)
    for k in range(n):
        m, d = mains[k], dlqs[k]
        if m is None or d is None:
            errors.append(f"batch {k}: output directory missing")
            continue
        got_main = sorted(zip(
            m.column("event_id").to_pylist(), _ts_us(m),
            m.column("user_id").to_pylist(),
            m.column("event_type").to_pylist(),
            m.column("value").to_pylist(), m.column("props").to_pylist()))
        keys_ok = (m.column("event_key").to_pylist()
                   == [str(i) for i in m.column("event_id").to_pylist()])
        got_dlq = sorted(zip(d.column("event_id").to_pylist(), _ts_us(d),
                             d.column("reject_reason").to_pylist()),
                         key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
        if got_main != backlog.main[k] or not keys_ok:
            errors.append(f"batch {k}: main has {len(got_main)} rows, "
                          f"expected {len(backlog.main[k])}")
        if got_dlq != backlog.dlq[k]:
            errors.append(f"batch {k}: dlq has {len(got_dlq)} rows, "
                          f"expected {len(backlog.dlq[k])}")
    return errors


def drain_counts(main_dir: str, dlq_dir: str, n_batches: int) -> dict:
    """Row counts of one drain's output. `leaked` counts main rows whose
    event_id an earlier micro-batch already wrote: the cross-batch
    duplicates that the per-batch dedup lets through."""
    seen: set[int] = set()
    main_rows = leaked = 0
    for table in _read_batches(main_dir, n_batches):
        if table is None:
            continue
        ids = table.column("event_id").to_pylist()
        main_rows += len(ids)
        leaked += sum(1 for i in ids if i in seen)
        seen.update(ids)
    dlq_rows = sum(t.num_rows for t in _read_batches(dlq_dir, n_batches)
                   if t is not None)
    return {"main_rows": main_rows, "dlq_rows": dlq_rows, "leaked": leaked}
