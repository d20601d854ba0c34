"""Batch workload: registered queries called one after another by a
single caller, each call timed from the query function's entry to its
collected rows, and every call's rows checked against the DuckDB oracle.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

#: eager-loop family: query construction runs the loop's actions, so the
#: per-action driver gap sets the wall (the first two targets of loop
#: group scheduling: k-means and HITS)
LOOP_KEYS = ("kmeans_fit", "supplier_hits")


@dataclass
class Call:
    key: str
    start: float
    built: float  # the query function returned its DataFrame
    end: float  # collect() returned
    cols: list[str] | None = None
    rows: list[tuple] | None = None
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def call_query(spark, fn, key: str, data_dir: str) -> Call:
    """Time one query call plus its collect(); an exception is recorded
    on the call, not raised, so one failing query fails only itself."""
    t0 = time.time()
    built = t0
    try:
        df = fn(spark, data_dir)
        built = time.time()
        rows = df.collect()
        end = time.time()
        return Call(key, t0, built, end, list(df.columns), [tuple(r) for r in rows])
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        msg = str(e).strip().splitlines()[0][:300] if str(e).strip() else ""
        return Call(key, t0, built, time.time(), error=f"{type(e).__name__}: {msg}")


def oracle_results(data_dir: str, sql: dict[str, str]) -> dict[str, tuple]:
    """(columns, rows) per key from DuckDB over the same parquet tables,
    or the error string if the oracle itself fails."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    out: dict[str, tuple] = {}
    for key, q in sql.items():
        try:
            cur = con.execute(q)
            out[key] = ([d[0] for d in cur.description], cur.fetchall())
        except duckdb.Error as e:
            out[key] = f"duckdb error: {type(e).__name__}: {e}"
    con.close()
    return out


def check_call(call: Call, expected, table_hash) -> str | None:
    """The same comparison as ``tools/check.py``: row count, column names
    and the order-insensitive value hash. Returns the problem, or None."""
    if call.error:
        return call.error
    if expected is None:
        return "no oracle"
    if isinstance(expected, str):
        return expected
    ocols, orows = expected
    if sorted(call.cols) != sorted(ocols):
        return f"cols {sorted(call.cols)} != {sorted(ocols)}"
    if len(call.rows) != len(orows):
        return f"rows {len(call.rows)} != {len(orows)}"
    sh, oh = table_hash(call.cols, call.rows), table_hash(ocols, orows)
    if sh != oh:
        return f"hash {sh} != {oh}"
    return None


def load_table_hash():
    """``tools/check.py``'s ``table_hash``. That module puts its default
    repository path first on ``sys.path`` when imported; the path is
    restored so the program under test keeps coming from this checkout."""
    import sys

    saved = list(sys.path)
    try:
        from tools.check import table_hash
    finally:
        sys.path[:] = saved
    return table_hash
