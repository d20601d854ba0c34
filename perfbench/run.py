"""faust_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans go to
``perfbench/_out/trace-<workload>-<seed>.json``. Workloads, metrics and
which end-to-end metric each layer should move: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

import numpy as np

import streams
from batch import LOOP_KEYS, call_query, check_call, load_table_hash, oracle_results
from gen import StreamSpec, TableSpec, make_tables, make_ticks, write_tables
from spans import Tracer, fetch_spark_records, job_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the event schedule. Rate and tick: 500 events/s in 0.5 s ticks, at
#: which a live counter pipeline kept up on a 4-core host (back-to-back
#: batches of 0.9-1.0 s). Keys: the fixture's
#: sf0.1 ``events`` table has 1,500 user ids drawn uniformly (a
#: rank-frequency slope of 0.11, which uniform draws also give), so Zipf
#: exponent 0. Window and delay: faust's windowed-aggregation example
#: (tumbling 10 s, expires 1 s). The out-of-order and late shares are not
#: measured (the fixture is in event-time order); they are set to exercise
#: the reordering and late-drop paths. Batches of 160 files, 40,000
#: events, are the smallest at which per-event work is at least half of
#: the counter's trigger time (its fixed cost per batch is about 2 s on a
#: 4-core host; README.md).
STREAM_SPEC = StreamSpec(rate=500, tick_s=0.5, n_keys=1_500, zipf_s=0.0,
                         ooo_share=0.10, late_share=0.02, window_s=10, expires_s=1,
                         batch_files=160)
CATCHUP_MAX_FILES = STREAM_SPEC.batch_files
#: the backlog: three batches, since batches 0 and 1 drop no late rows
CATCHUP_TICKS = 3 * CATCHUP_MAX_FILES
#: files of the untimed warm drain: one full batch
WARM_TICKS = CATCHUP_MAX_FILES
#: generated table sizes: the fixture's sf0.1 row counts. Its keys are
#: uniform (o_custkey, l_suppkey and l_orderkey counts spread as uniform
#: draws do), as are the generated ones.
LOOP_TABLES = dict(customers=15_000, suppliers=1_000, orders=150_000, lineitems=600_000,
                   documents=5_000, embeddings=2_000)
GEN_REPEATS = 3
#: untimed and measured passes of batch_loops; each figure is the median
#: over the measured passes. In one session on a 4-core host, passes took
#: 27, 12.4, 10.9, 10.8, 9.4, 9.0, 10.4 and 10.4 s: the untimed passes take
#: the cold pass and the steep part of the warm-up after it.
LOOP_WARM_PASSES = 2
LOOP_PASSES = 2
#: a run still going after this many seconds stops and exits non-zero
WATCHDOG_S = 170

WORKLOADS = ("stream_catchup", "batch_loops")

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p99_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
)

_GENERIC_LAYERS = (
    ("session.start_s", "s", "lower"),
    ("driver.jobs", "count", "lower"),
    ("driver.build_s", "s", "lower"),
    ("driver.action_s", "s", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("executor.run_s", "s", "lower"),
    ("executor.cpu_s", "s", "lower"),
    ("executor.tasks", "count", "lower"),
    ("executor.failed_tasks", "count", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("failed_ratio", "ratio", "lower"),
    ("trace.overhead_pct", "%", "lower"),
)
_PIPELINE_LAYERS = (
    ("eps", "1/s", "higher"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p99_ms", "ms", "lower"),
    ("source.latest_offset_ms", "ms", "lower"),
    ("source.get_batch_ms", "ms", "lower"),
    ("runner.planning_ms", "ms", "lower"),
    ("runner.wal_commit_ms", "ms", "lower"),
    ("runner.commit_offsets_ms", "ms", "lower"),
    ("runner.trigger_ms_p50", "ms", "lower"),
    ("runner.batches", "count", "lower"),
    ("runner.add_batch_ms", "ms", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.update_ms", "ms", "lower"),
    ("state.removal_ms", "ms", "lower"),
    ("state.rows_total", "count", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.rows_dropped_late", "count", "lower"),
)
_QUERY_LAYERS = (("wall_s", "s", "lower"), ("build_s", "s", "lower"), ("jobs", "count", "lower"))


def per_layer_metrics() -> list[tuple[str, str, str]]:
    out = list(_GENERIC_LAYERS)
    out += [(f"{m}.{p}", u, b) for p in streams.PIPELINES for m, u, b in _PIPELINE_LAYERS]
    out += [(f"q.{k}.{m}", u, b) for k in LOOP_KEYS for m, u, b in _QUERY_LAYERS]
    return out


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------


def pin_host(work: str) -> dict:
    """Size the session to this host, for this process and its children
    only: every core the process may run on, and a driver heap of a
    quarter of RAM capped at 4 GiB. Spark's and Python's scratch files go
    under the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_mb = min(4096, total_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LOCAL_IP="127.0.0.1",
        # the JVM spark-submit runs to build the Spark driver's command line
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    import pyspark

    return {"cores": cpus, "host_mem_mb": total_kb // 1024, "driver_mem_mb": mem_mb,
            "pyspark": pyspark.__version__}


def start_session(work: str):
    from faust_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# measurements
# ---------------------------------------------------------------------------


class Measurement:
    def __init__(self) -> None:
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: (start, end, {job group: span id}) of the measured phase
        self.phase: tuple = (0.0, 0.0, {})

    def count(self, attempted: int, failed: int, what: str, examples=()) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.problems.append(f"{what}: {failed} of {attempted} failed")
            self.problems += [f"  {e}" for e in examples]


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


class CatchupWorkload:
    """Each pipeline in turn drains a pre-written backlog."""

    keys: tuple = ()

    def __init__(self, spark, args, work: str) -> None:
        self.spark, self.args, self.work = spark, args, work

    def prepare(self) -> float:
        """Write the backlog ``GEN_REPEATS`` times; the median time."""
        self.backlog = os.path.join(self.work, "backlog")
        times = []
        for _ in range(GEN_REPEATS):
            t0 = time.time()
            self.ticks = make_ticks(STREAM_SPEC, self.args.seed, CATCHUP_TICKS)
            shutil.rmtree(self.backlog, ignore_errors=True)
            src, tmp, _ = streams.fresh_dirs(self.work, "backlog")
            for k in range(self.ticks.n_ticks):
                self.ticks.write_tick(k, src, tmp)
            times.append(time.time() - t0)
        return statistics.median(times)

    def warm(self) -> None:
        """Drain one batch's worth of ticks once, the way ``measure`` drains."""
        src, tmp, ck = streams.fresh_dirs(self.work, "warm")
        for k in range(WARM_TICKS):
            self.ticks.write_tick(k, src, tmp)
        for r in streams.catchup_phase(self.spark, STREAM_SPEC, src, ck, "warm",
                                       CATCHUP_MAX_FILES, Tracer(False), None):
            if r.error:
                raise RuntimeError(f"warm drain of {r.name} failed: {r.error}")

    def measure(self, tag: str, tracer: Tracer, parent) -> Measurement:
        m = Measurement()
        ticks, per = self.ticks, STREAM_SPEC.per_tick
        src = os.path.join(self.backlog, "src")
        ck = os.path.join(self.work, tag, "ckpt")
        os.makedirs(ck)
        runs = streams.catchup_phase(self.spark, STREAM_SPEC, src, ck, tag, CATCHUP_MAX_FILES,
                                     tracer, parent)
        files = [f"tick-{k:06d}.parquet" for k in range(ticks.n_ticks)]
        n = per * len(files)
        lats, walls = [], []
        for r in runs:
            try:
                if r.error:
                    raise RuntimeError(r.error)
                ends = streams.batch_end_times(r.progress)
                fb = streams.file_batches(r.ckpt)
                late_wm = streams.late_filter_watermarks(r.ckpt)
                # the whole backlog is due when the drain starts
                lat = streams.event_latencies_ms(np.full(n, r.start), per, files, fb, ends)
                wall = r.end - r.start
                lats.append(lat)
                walls.append(wall)
                m.layers.update({
                    f"eps.{r.name}": n / wall,
                    f"latency_p50_ms.{r.name}": pct(lat, 50),
                    f"latency_p99_ms.{r.name}": pct(lat, 99),
                })
                for k, v in streams.progress_layers(r.progress).items():
                    m.layers[f"{k}.{r.name}"] = v
                streams.traced_batches(tracer, parent, r.name, r.progress)
                rows = streams.collect_output(self.spark, r.query_name, r.name)
                if r.name == "counter":
                    att, bad, ex = streams.check_counter(rows, src)
                else:
                    att, bad, ex = streams.check_window(
                        rows, src, STREAM_SPEC.window_s, {f: late_wm[b] for f, b in fb.items()})
                m.count(att, bad, f"{r.name} output", ex)
            except Exception as e:  # noqa: BLE001 - a crashed pipeline is a failed operation
                m.count(1, 1, f"{r.name}: {type(e).__name__}: {str(e)[:200]}")
        wall = sum(walls)
        # the mean of the pipelines' percentiles: a percentile of the two
        # pooled distributions would sit in the gap between them
        m.e2e.update(
            wall_s=wall,
            latency_p50_ms=float(np.mean([pct(x, 50) for x in lats])) if lats else 0.0,
            latency_p99_ms=float(np.mean([pct(x, 99) for x in lats])) if lats else 0.0,
            ops_per_s=len(lats) * n / wall if wall > 0 else 0.0,
        )
        m.layers["driver.build_s"] = sum(r.built - r.start for r in runs)
        m.layers["driver.action_s"] = sum(r.end - r.built for r in runs)
        # Spark runs a streaming query's jobs under its run id as job group
        m.phase = (min(r.start for r in runs), max(r.end for r in runs),
                   {r.run_id: parent for r in runs if r.run_id})
        return m


class LoopsWorkload:
    """One caller runs the workload's queries in a seeded order, pass
    after pass, ``LOOP_PASSES`` times."""

    keys = LOOP_KEYS
    tables = LOOP_TABLES

    def __init__(self, spark, args, work: str) -> None:
        import __spark_entry__ as entry

        self.spark, self.args, self.work = spark, args, work
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def prepare(self) -> float:
        self.data = os.path.join(self.work, "tables")
        times = []
        for _ in range(GEN_REPEATS):
            t0 = time.time()
            write_tables(make_tables(TableSpec(**self.tables), self.args.seed), self.data)
            times.append(time.time() - t0)
        return statistics.median(times)

    def warm(self) -> None:
        """``LOOP_WARM_PASSES`` untimed passes over the workload's queries."""
        for _ in range(LOOP_WARM_PASSES):
            for k in self.keys:
                call_query(self.spark, self.queries[k], k, self.data)

    def measure(self, tag: str, tracer: Tracer, parent) -> Measurement:
        m = Measurement()
        rng = np.random.default_rng([self.args.seed, 3])
        sc = self.spark.sparkContext
        passes, groups = [], {}
        t_lo = time.time()
        for _ in range(LOOP_PASSES):
            calls = []
            with tracer.span(f"pass:{len(passes)}", parent) as pass_span:
                for k in map(str, rng.permutation(self.keys)):
                    group = f"{tag}:{len(passes)}:{k}"
                    if tracer.enabled:
                        sc.setJobGroup(group, k)
                    c = call_query(self.spark, self.queries[k], k, self.data)
                    calls.append(c)
                    q = tracer.add(f"query:{k}", c.start, c.end, pass_span)
                    tracer.add("build", c.start, c.built, q)
                    tracer.add("action", c.built, c.end, q)
                    groups[group] = q
            passes.append(calls)
            if tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
        m.phase = (t_lo, time.time(), groups)
        # the checks run after the timer: every call's rows, every pass
        table_hash = load_table_hash()
        expected = oracle_results(self.data, {k: self.oracles[k] for k in self.keys})
        for c in (c for calls in passes for c in calls):
            problem = check_call(c, expected.get(c.key), table_hash)
            m.count(1, int(problem is not None), f"{c.key}: {problem}")
        walls = [calls[-1].end - calls[0].start for calls in passes]
        all_calls = [c for calls in passes for c in calls]
        lat = [[c.wall * 1e3 for c in calls] for calls in passes]
        m.e2e.update(
            wall_s=statistics.median(walls),
            latency_p50_ms=statistics.median(pct(x, 50) for x in lat),
            latency_p99_ms=statistics.median(pct(x, 99) for x in lat),
            ops_per_s=statistics.median(len(calls) / w for calls, w in zip(passes, walls)),
        )
        m.layers["driver.build_s"] = sum(c.built - c.start for c in all_calls)
        m.layers["driver.action_s"] = sum(c.end - c.built for c in all_calls)
        for k in self.keys:
            mine = [c for c in all_calls if c.key == k]
            m.layers[f"q.{k}.wall_s"] = statistics.median(c.wall for c in mine)
            m.layers[f"q.{k}.build_s"] = statistics.median(c.built - c.start for c in mine)
        return m


WORKLOAD_CLASSES = {"stream_catchup": CatchupWorkload, "batch_loops": LoopsWorkload}


def traced_layers(spark, tracer: Tracer, m: Measurement, keys: tuple) -> None:
    """Import the phase's Spark jobs (selected by job group) as spans
    under the span of their group, and add their per-layer totals."""
    lo, hi, groups = m.phase
    jobs, stages = fetch_spark_records(spark)
    mine = [j for j in jobs if j.group in groups and j.start >= lo]
    for j in mine:
        tracer.add(f"job:{j.id}", j.start, j.end, groups[j.group], tasks=j.tasks)
    m.layers.update(job_metrics(mine, stages, lo, hi))
    for k in keys:
        per_pass = [sum(1 for j in mine if j.group == g) for g in groups if g.split(":")[2] == k]
        m.layers[f"q.{k}.jobs"] = statistics.median(per_pass)


def run(args, work: str, host: dict) -> dict:
    print(json.dumps({"host": {**host, "seed": args.seed, "workload": args.workload}}),
          flush=True)
    setup: dict[str, float] = {}
    t_run = t0 = time.time()
    spark = start_session(work)
    try:
        setup["session_s"] = time.time() - t0
        wl = WORKLOAD_CLASSES[args.workload](spark, args, work)
        setup["gen_s"] = wl.prepare()
        t0 = time.time()
        wl.warm()
        setup["warm_s"] = time.time() - t0

        if not args.trace:
            m = wl.measure("m0", Tracer(False), None)
            m.e2e["setup_s"] = sum(setup.values())
            return result(m, {name: (m.e2e[name], unit) for name, unit, _ in END_TO_END})

        # traced run: the phase once untraced and once traced, the traced
        # one first on odd seeds, so the later, warmer phase is the traced
        # one on half the seeds; the difference in wall_s is the tracing
        # overhead, and its mean over consecutive seeds cancels run order
        traced_first = args.seed % 2 == 1
        if not traced_first:
            base = wl.measure("m0", Tracer(False), None)
        tracer = Tracer(True)
        run_span = tracer.add("run", 0.0, 0.0, None, workload=args.workload, seed=args.seed)
        wl_span = tracer.add(f"workload:{args.workload}", 0.0, 0.0, run_span)
        m = wl.measure("m1", tracer, wl_span)
        tracer.set_times(run_span, t_run, m.phase[1])
        tracer.set_times(wl_span, m.phase[0], m.phase[1])
        traced_layers(spark, tracer, m, wl.keys)
        if traced_first:
            base = wl.measure("m0", Tracer(False), None)
        m.attempted += base.attempted
        m.failed += base.failed
        m.problems += base.problems
        m.layers.update({
            "session.start_s": setup["session_s"],
            "trace.overhead_pct": (m.e2e["wall_s"] / base.e2e["wall_s"] - 1) * 100
            if base.e2e["wall_s"] else 0.0,
            "failed_ratio": m.failed / max(1, m.attempted),
        })
        out = os.path.join(HERE, "_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(
            os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
            {"host": host, "seed": args.seed, "workload": args.workload, "setup": setup,
             "traced_first": traced_first,
             "end_to_end": {"untraced": base.e2e, "traced": m.e2e}, "layers": m.layers},
        )
        return result(m, {name: (m.layers.get(name, 0), unit)
                          for name, unit, _ in per_layer_metrics()})
    finally:
        stop_session(spark)


def result(m: Measurement, metrics: dict) -> dict:
    for p in m.problems:
        print(f"check failed: {p}", flush=True)
    return {
        "correct": m.failed == 0,
        "attempted": max(1, m.attempted),
        "failed": m.failed,
        # a failed pipeline can leave no samples; JSON has no NaN
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # both workloads measure a fixed amount of work, sized to about the
    # run length BENCHMARK.json gives, so every run is comparable
    ap.add_argument("--seconds", type=int, required=True,
                    help="nominal run length; the measured work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # before the program is imported: the session module reads the
        # core count when it is imported
        host = pin_host(work)
        # the program under test comes from the checkout this file sits
        # in; outside a checkout these imports fail and the run exits
        # non-zero
        sys.path.insert(0, ROOT)
        import __spark_entry__  # noqa: F401
        import faust_spark  # noqa: F401

        signal.signal(signal.SIGALRM, timeout)
        signal.alarm(WATCHDOG_S)
        out = run(args, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
