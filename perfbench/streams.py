"""Stream workload: two keyed-state pipelines, each draining one seeded,
pre-written backlog of event files with ``availableNow`` (a closed loop).

Pipelines:

- ``counter``: ``streaming.state.stateful_counter`` per ``user_id``
  (cumulative count and sum in Python keyed state);
- ``window``: ``App.stream(...).group_by("user_id")`` into
  ``Table(...).tumbling(window, expires=...)`` with a count and a decimal
  sum, in update mode, so ``expires`` is the watermark.

An event's latency is the end of the micro-batch that emitted its update
minus the event's due time, here the start of the drain. Which batch read
which file comes from the checkpoint's offset and file-source logs; when
each batch ended comes from the query's progress (trigger start plus
``triggerExecution``).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

PIPELINES = ("counter", "window")

#: the progress phases of one micro-batch, in the order the engine runs
#: them (offset WAL written before the batch is read and planned)
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def build_pipeline(spark, name: str, src, spec):
    from pyspark.sql import functions as F

    if name == "counter":
        from faust_spark.streaming.state import stateful_counter

        return stateful_counter(src.groupBy("user_id"), "user_id", sum_col="value")
    from faust_spark import App

    app = App("perfbench", spark=spark)
    stream = app.stream(src).group_by("user_id")
    table = app.Table("window_totals").tumbling(spec.window_s, expires=spec.expires_s)
    return table.aggregate(
        stream,
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
    )


def start_query(df, name: str, ckpt: str, available_now: bool):
    w = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------------
# arithmetic on the progress and checkpoint records (pure, tested directly)
# ---------------------------------------------------------------------------


def batch_end_times(progress: list[dict]) -> dict[int, float]:
    """batchId -> epoch seconds when the batch's trigger finished.
    Idle progress reports (no ``addBatch`` phase) are skipped."""
    from spans import parse_spark_time

    out = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" in d:
            out[p["batchId"]] = parse_spark_time(p["timestamp"]) + d["triggerExecution"] / 1e3
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    The file source numbers its own log entries (``sources/0/<n>`` and
    their ``.compact`` roll-ups); the query's offset log
    (``offsets/<batchId>``) records the last source entry each batch
    read, and a batch without new data (a watermark-only batch) repeats
    it. A file whose batch has not been planned yet is left out."""
    entry: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(d):
        if not f.split(".")[0].isdigit() or f.endswith(".tmp"):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    entry[os.path.basename(e["path"])] = e["batchId"]
    upto = []
    d = os.path.join(ckpt, "offsets")
    for f in os.listdir(d):
        if f.isdigit():
            with open(os.path.join(d, f)) as fh:
                lines = fh.read().splitlines()
            upto.append((int(f), json.loads(lines[2])["logOffset"]))
    upto.sort()
    out = {}
    for name, n in entry.items():
        b = next((b for b, last in upto if last >= n), None)
        if b is not None:
            out[name] = b
    return out


def event_latencies_ms(due_s: np.ndarray, per_file: int, file_names: list[str],
                       batches: dict[str, int], ends: dict[int, float]) -> np.ndarray:
    """Latency of each event: end of the batch that read its file minus
    its due time. Events are laid out ``per_file`` to a file, in order."""
    end_of_file = np.array([ends[batches[f]] for f in file_names])
    return (np.repeat(end_of_file, per_file) - due_s[: per_file * len(file_names)]) * 1e3


def progress_layers(progress: list[dict]) -> dict:
    """Per-layer figures of one pipeline's micro-batches: fixed per-batch
    costs as medians per data batch, per-event costs as totals."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0 and "addBatch" in p.get("durationMs", {})]
    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731

    def dur(k):
        return [p["durationMs"].get(k, 0) for p in data]

    def ops(k):
        return [sum(o.get(k, 0) for o in p.get("stateOperators", [])) for p in data]

    last_ops = data[-1].get("stateOperators", []) if data else []
    return {
        "source.latest_offset_ms": med(dur("latestOffset")),
        "source.get_batch_ms": med(dur("getBatch")),
        "runner.planning_ms": med(dur("queryPlanning")),
        "runner.wal_commit_ms": med(dur("walCommit")),
        "runner.commit_offsets_ms": med(dur("commitOffsets")),
        "runner.trigger_ms_p50": med(dur("triggerExecution")),
        "state.commit_ms": med(ops("commitTimeMs")),
        "runner.batches": len(data),
        "runner.add_batch_ms": float(sum(dur("addBatch"))),
        "state.update_ms": float(sum(ops("allUpdatesTimeMs"))),
        "state.removal_ms": float(sum(ops("allRemovalsTimeMs"))),
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
        "state.rows_dropped_late": sum(
            o.get("numRowsDroppedByWatermark", 0) for p in progress for o in p.get("stateOperators", [])
        ),
    }


# ---------------------------------------------------------------------------
# output checks against DuckDB over the generated files
# ---------------------------------------------------------------------------


def check_counter(rows: list[tuple], src_dir: str) -> tuple[int, int, list]:
    """Final per-key count and sum (max over the cumulative emissions)
    must equal DuckDB's exactly. Returns (attempted, failed, examples)
    in keys."""
    import duckdb

    got: dict[int, tuple] = {}
    for k, c, t in rows:
        got[k] = max(got.get(k, (0, 0.0)), (c, t))
    exp = {
        k: (c, t)
        for k, c, t in duckdb.sql(
            "SELECT user_id, COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) "
            f"FROM read_parquet('{src_dir}/*.parquet') GROUP BY 1"
        ).fetchall()
    }
    bad = [f"key {k}: emitted {got.get(k)}, generated {v}" for k, v in exp.items()
           if got.get(k) != v]
    bad += [f"key {k} not generated" for k in got if k not in exp]
    return len(exp), len(bad), bad[:3]


def late_filter_watermarks(ckpt: str) -> dict[int, int]:
    """batchId -> the watermark (ms) below which the batch drops late rows.

    The offset log records the watermark each batch runs with
    (``batchWatermarkMs``); state is evicted by that one, but late rows
    are filtered by the previous batch's (Spark 3.4 and later), so
    batches 0 and 1 drop nothing."""
    wm = {}
    d = os.path.join(ckpt, "offsets")
    for f in os.listdir(d):
        if f.isdigit():
            with open(os.path.join(d, f)) as fh:
                wm[int(f)] = json.loads(fh.read().splitlines()[1])["batchWatermarkMs"]
    return {b: wm.get(b - 1, 0) for b in wm}


def check_window(rows: list[tuple], src_dir: str, window_s: int,
                 file_wm: dict[str, int]) -> tuple[int, int, list]:
    """Every (window, key) must match DuckDB exactly, after taking out
    the events the watermark dropped: an event read by a batch whose
    late-row watermark is ``file_wm[file]`` ms is dropped when its
    window ends at or before it. The events emitted plus those dropped
    must also add up to those generated. Returns (attempted, failed,
    examples), attempted being the windows plus that total."""
    import duckdb
    import pyarrow as pa

    w_us = window_s * 1_000_000
    got: dict[tuple, tuple] = {}
    for ws, k, c, t in rows:
        got[(ws, k)] = max(got.get((ws, k), (0, Decimal(0))), (c, t))
    files = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    bad = [f"file {f} read by no batch" for f in files if f not in file_wm]
    wm = pa.table({"file": files,
                   "wm_us": [file_wm.get(f, 0) * 1000 for f in files]})
    con = duckdb.connect()
    con.register("wm", wm)
    exp = con.execute(
        f"""SELECT ws, user_id, COUNT(*) AS n, SUM(v) AS total,
                   COUNT(*) FILTER (WHERE ws + {w_us} <= wm_us) AS n_drop,
                   COALESCE(SUM(v) FILTER (WHERE ws + {w_us} <= wm_us), 0) AS drop_total
            FROM (SELECT (epoch_us(e.ts) // {w_us}) * {w_us} AS ws, e.user_id,
                         CAST(e.value AS DECIMAL(18,2)) AS v, wm.wm_us
                  FROM read_parquet('{src_dir}/*.parquet', filename = true) e
                  JOIN wm ON wm.file = parse_filename(e.filename))
            GROUP BY 1, 2"""
    ).fetchall()
    con.close()
    keys = set()
    generated = dropped = 0
    for ws, k, n, total, n_drop, drop_total in exp:
        keys.add((ws, k))
        generated += n
        dropped += n_drop
        want = (n - n_drop, total - drop_total)
        if got.get((ws, k), (0, Decimal(0))) != want:
            bad.append(f"window {ws} key {k}: emitted {got.get((ws, k))}, expected {want} "
                       f"({n_drop} of {n} dropped)")
    bad += [f"window {ws} key {k} not generated" for ws, k in got if (ws, k) not in keys]
    emitted = sum(c for c, _ in got.values())
    if generated - emitted != dropped:
        bad.append(f"generated {generated} - emitted {emitted} != dropped {dropped}")
    return len(exp) + 1, len(bad), bad[:3]


def collect_output(spark, name: str, pipeline: str) -> list[tuple]:
    from pyspark.sql import functions as F

    df = spark.table(name)
    if pipeline == "window":
        df = df.select(F.unix_micros(F.col("window.start")), "user_id", "cnt", "total")
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# the two phases
# ---------------------------------------------------------------------------


@dataclass
class PipelineRun:
    name: str
    query_name: str
    ckpt: str
    run_id: str = ""
    start: float = 0.0
    built: float = 0.0  # start() returned
    end: float = 0.0
    progress: list = field(default_factory=list)
    error: str | None = None


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def fresh_dirs(work: str, tag: str) -> tuple[str, str, str]:
    src, tmp, ck = (os.path.join(work, tag, d) for d in ("src", "tmp", "ckpt"))
    for d in (src, tmp, ck):
        os.makedirs(d)
    return src, tmp, ck


def catchup_phase(spark, spec, src: str, ck: str, tag: str, max_files: int,
                  tracer, parent) -> list[PipelineRun]:
    """Drain the pre-written backlog in ``src`` with each pipeline, one
    after the other."""
    from faust_spark.streaming.runner import stream_parquet

    runs = []
    for name in PIPELINES:
        r = PipelineRun(name, f"{tag}_{name}", os.path.join(ck, name))
        r.start = r.built = time.time()
        try:
            with tracer.span(f"build:{name}", parent):
                df = build_pipeline(spark, name, stream_parquet(spark, src, max_files), spec)
                q = start_query(df, r.query_name, r.ckpt, available_now=True)
            r.built = time.time()
            r.run_id = str(q.runId)
            with tracer.span(f"drain:{name}", parent):
                q.awaitTermination()
            if q.exception() is not None:
                r.error = str(q.exception())[:300]
            r.progress = _progress(q)
        except Exception as e:  # noqa: BLE001 - counted as failed output
            r.error = f"{type(e).__name__}: {str(e)[:300]}"
        r.end = time.time()
        runs.append(r)
    return runs


def traced_batches(tracer, parent, name: str, progress: list[dict]) -> None:
    """One span per executed micro-batch with one child per progress
    phase; the phases are laid end to end from the trigger start, in
    engine order, since progress gives their durations only."""
    from spans import parse_spark_time

    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" not in d:
            continue
        t = parse_spark_time(p["timestamp"])
        b = tracer.add(f"batch:{name}:{p['batchId']}", t, t + d["triggerExecution"] / 1e3,
                       parent, rows=p.get("numInputRows", 0))
        for ph in PHASES:
            if ph in d:
                tracer.add(ph, t, t + d[ph] / 1e3, b)
                t += d[ph] / 1e3
