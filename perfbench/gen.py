"""Seeded input generators: event ticks for the stream workload and
fixture-shaped tables for the batch workload.

Everything here is a pure function of the seed and the spec, so the same
seed writes byte-identical files. Wall-clock time never enters a file:
event time is a fixed epoch plus the event's offset in the schedule.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: event time of offset 0 (2024-01-01T00:00:00Z), in microseconds
EPOCH_US = 1_704_067_200_000_000

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
        # isAdjustedToUTC=true so Spark reads TimestampType, which
        # withWatermark accepts
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class StreamSpec:
    """What the stream generator controls (all shares are of events)."""

    rate: int  # events per second of schedule
    tick_s: float  # one file per tick
    n_keys: int  # key space; larger than the keys of one batch
    zipf_s: float  # Zipf exponent of the key ranks
    ooo_share: float  # out of order, but within the watermark
    late_share: float  # later than the watermark
    window_s: int  # tumbling window of the window pipeline
    expires_s: int  # its watermark delay
    batch_files: int  # ticks (files) per micro-batch of the reader

    @property
    def per_tick(self) -> int:
        return int(round(self.rate * self.tick_s))

    @property
    def lag_s(self) -> float:
        """How far the watermark a batch drops late rows by can trail the
        newest event time: the delay plus the event time two micro-batches
        span, since a batch filters by the watermark of the batch before it."""
        return self.expires_s + 2 * self.batch_files * self.tick_s


@dataclass
class EventTicks:
    """A seeded event schedule, sliced into one table per tick."""

    spec: StreamSpec
    offset_us: np.ndarray  # due offset of each event from the schedule start
    user_id: np.ndarray
    value: np.ndarray
    ts_us: np.ndarray  # event time
    late: np.ndarray  # bool: event time is behind the watermark

    @property
    def n_ticks(self) -> int:
        return len(self.offset_us) // self.spec.per_tick

    def tick_table(self, k: int) -> pa.Table:
        lo, hi = k * self.spec.per_tick, (k + 1) * self.spec.per_tick
        return pa.table(
            {
                "event_id": np.arange(lo, hi, dtype=np.int64),
                "user_id": self.user_id[lo:hi],
                "value": self.value[lo:hi],
                "ts": pa.array(self.ts_us[lo:hi], pa.timestamp("us", tz="UTC")),
            },
            schema=EVENT_SCHEMA,
        )

    def write_tick(self, k: int, src_dir: str, tmp_dir: str) -> str:
        """Write tick ``k`` as one parquet file, visible to the file
        source only once complete (write aside, then atomic rename)."""
        name = f"tick-{k:06d}.parquet"
        tmp = os.path.join(tmp_dir, name)
        pq.write_table(self.tick_table(k), tmp, compression="snappy")
        dst = os.path.join(src_dir, name)
        os.rename(tmp, dst)
        return dst


def zipf_keys(rng: np.random.Generator, n_keys: int, s: float, n: int) -> np.ndarray:
    """``n`` draws of key ids whose ranks follow Zipf(s) over ``n_keys``;
    a seeded permutation maps rank to id so hot keys are not 0, 1, 2..."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(n_keys, size=n, p=p)
    return rng.permutation(n_keys).astype(np.int64)[ranks]


def make_ticks(spec: StreamSpec, seed: int, n_ticks: int) -> EventTicks:
    rng = np.random.default_rng([seed, 1])
    n = spec.per_tick * n_ticks
    offset_us = (np.arange(n, dtype=np.int64) * 1_000_000) // spec.rate
    user_id = zipf_keys(rng, spec.n_keys, spec.zipf_s, n)
    # two-decimal values, exponential with mean 50 as in the fixture's
    # events table; sums are exact in decimal
    value = np.round(rng.exponential(50.0, size=n) * 100) / 100.0
    kind = rng.random(n)
    late = kind < spec.late_share
    ooo = (~late) & (kind < spec.late_share + spec.ooo_share)
    shift = np.zeros(n, dtype=np.int64)
    # within the watermark: at most 80% of the delay behind schedule, so
    # the watermark (max event time of earlier batches minus the delay)
    # never passes an on-time or out-of-order event
    shift[ooo] = rng.integers(0, int(0.8 * spec.expires_s * 1e6), size=ooo.sum())
    # behind the watermark: the lag plus two windows plus up to a window
    shift[late] = int((spec.lag_s + 2 * spec.window_s) * 1e6) + rng.integers(
        0, spec.window_s * 1_000_000, size=late.sum()
    )
    ts_us = EPOCH_US + offset_us - shift
    return EventTicks(spec, offset_us, user_id, value, ts_us, late)


# ---------------------------------------------------------------------------
# batch tables: the fixture schemas (FIXTURES / TESTDATA), generated here
# because the benchmark reads nothing outside its checkout
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.15, 0.13]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY_US = 86_400_000_000
_D1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00


@dataclass(frozen=True)
class TableSpec:
    """Row counts of the generated tables (the fixture's sf0.01 sizes
    are customer 1500, supplier 100, orders 15000, lineitem 60000,
    documents 500, embeddings 500)."""

    customers: int
    suppliers: int
    orders: int
    lineitems: int
    documents: int
    embeddings: int
    dim: int = 64


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, size=n) / 100.0


def _days(rng, lo_day: int, hi_day: int, n: int) -> pa.Array:
    us = _D1995_US + rng.integers(lo_day, hi_day, size=n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def make_tables(spec: TableSpec, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    t: dict[str, pa.Table] = {}
    nc, ns, no, nl = spec.customers, spec.suppliers, spec.orders, spec.lineitems
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
            "c_acctbal": _money(rng, -99_999, 1_000_000, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, size=ns).astype(np.int32),
            "s_acctbal": _money(rng, -99_999, 1_000_000, ns),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 100_000, 50_000_000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, size=nl).astype(np.int64),
            "l_partkey": rng.integers(0, 20 * ns, size=nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, size=nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
            "l_extendedprice": _money(rng, 90_000, 10_500_000, nl),
            "l_discount": rng.integers(0, 11, size=nl) / 100.0,
            "l_tax": rng.integers(0, 9, size=nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    # documents: word salad over a small vocabulary; one in twenty is an
    # earlier document plus a marker word, so the near-duplicate and
    # connected-component operators have pairs to find
    nd = spec.documents
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, _WORDS, n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, nd, _LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, size=nd)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    # embeddings: unit vectors around ten label centres
    ne, dim = spec.embeddings, spec.dim
    centres = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, size=ne)
    vec = centres[label] + 0.8 * rng.standard_normal((ne, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(ne, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
