"""Tests of the benchmark's own code; none of them starts Spark."""

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pytest

import batch
import gen
import run
import streams

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
SPEC = run.STREAM_SPEC
SMALL = gen.TableSpec(customers=40, suppliers=5, orders=200, lineitems=800,
                      documents=60, embeddings=30)


def _digests(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def _write_ticks(ticks, d):
    os.makedirs(os.path.join(d, "src"))
    os.makedirs(os.path.join(d, "tmp"))
    for k in range(ticks.n_ticks):
        ticks.write_tick(k, os.path.join(d, "src"), os.path.join(d, "tmp"))
    return os.path.join(d, "src")


def test_same_seed_same_files(tmp_path):
    a = _write_ticks(gen.make_ticks(SPEC, 5, 6), tmp_path / "a")
    b = _write_ticks(gen.make_ticks(SPEC, 5, 6), tmp_path / "b")
    c = _write_ticks(gen.make_ticks(SPEC, 6, 6), tmp_path / "c")
    assert len(os.listdir(a)) == 6
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    for d, seed in (("ta", 5), ("tb", 5), ("tc", 6)):
        gen.write_tables(gen.make_tables(SMALL, seed), str(tmp_path / d))
    assert _digests(tmp_path / "ta") == _digests(tmp_path / "tb")
    assert _digests(tmp_path / "ta") != _digests(tmp_path / "tc")


def test_generator_controls():
    spec = gen.StreamSpec(rate=1000, tick_s=1.0, n_keys=5000, zipf_s=1.1,
                          ooo_share=0.2, late_share=0.05, window_s=2, expires_s=1, batch_files=4)
    t = gen.make_ticks(spec, 3, 20)
    n = len(t.offset_us)
    behind = (gen.EPOCH_US + t.offset_us) - t.ts_us
    assert abs(t.late.mean() - 0.05) < 0.01
    assert abs(((behind > 0) & ~t.late).mean() - 0.2) < 0.02
    # out of order stays inside 80% of the watermark delay; late is past it
    assert behind[~t.late].max() < 0.8 * spec.expires_s * 1e6
    assert behind[t.late].min() >= (spec.lag_s + 2 * spec.window_s) * 1e6
    # Zipf: a hot head, and more distinct keys than one tick holds
    counts = np.bincount(t.user_id, minlength=spec.n_keys)
    assert counts.max() > 50 * np.median(counts[counts > 0])
    assert len(np.unique(t.user_id)) > spec.per_tick
    assert t.n_ticks == 20 and n == 20 * spec.per_tick


def _write_log(d, name, lines):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_latency_arithmetic(tmp_path):
    """Three files; the second batch is a watermark-only batch, so the
    source log's own numbering and the query's batch ids diverge."""
    ck = str(tmp_path)
    src = os.path.join(ck, "sources", "0")
    entry = lambda f, n: json.dumps({"path": f"file:///x/{f}", "timestamp": 1, "batchId": n})  # noqa: E731
    _write_log(src, "0", ["v1", entry("f0", 0)])
    _write_log(src, "1", ["v1", entry("f1", 1), entry("f2", 1)])
    off = os.path.join(ck, "offsets")
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
    _write_log(off, "0", ["v1", meta, '{"logOffset":0}'])
    _write_log(off, "1", ["v1", meta, '{"logOffset":0}'])
    _write_log(off, "2", ["v1", meta, '{"logOffset":1}'])
    _write_log(off, ".2.crc", ["ignored"])
    fb = streams.file_batches(ck)
    assert fb == {"f0": 0, "f1": 2, "f2": 2}
    progress = [
        {"batchId": 0, "timestamp": "2024-01-01T00:00:10.000Z", "numInputRows": 2,
         "durationMs": {"addBatch": 500, "triggerExecution": 800}},
        {"batchId": 1, "timestamp": "2024-01-01T00:00:10.800Z", "numInputRows": 0,
         "durationMs": {"addBatch": 100, "triggerExecution": 200}},
        # an idle report: no batch ran, so it must not count
        {"batchId": 2, "timestamp": "2024-01-01T00:00:11.000Z", "numInputRows": 0,
         "durationMs": {"latestOffset": 3, "triggerExecution": 3}},
        {"batchId": 2, "timestamp": "2024-01-01T00:00:11.000Z", "numInputRows": 4,
         "durationMs": {"addBatch": 700, "triggerExecution": 1250}},
    ]
    ends = streams.batch_end_times(progress)
    t10 = 1704067210.0
    assert ends == {0: pytest.approx(t10 + 0.8), 1: pytest.approx(t10 + 1.0),
                    2: pytest.approx(t10 + 2.25)}
    due = t10 - 1.0 + np.array([0.0, 0.5, 1.0, 1.5, 2.0, 2.5])
    lat = streams.event_latencies_ms(due, 2, ["f0", "f1", "f2"], fb, ends)
    assert lat == pytest.approx([1800, 1300, 2250, 1750, 1250, 750])
    assert run.pct(lat, 50) == pytest.approx(1525)
    layers = streams.progress_layers(progress)
    assert layers["runner.batches"] == 2  # the data batches
    assert layers["runner.trigger_ms_p50"] == pytest.approx(1025)
    assert layers["runner.add_batch_ms"] == 1200


def test_self_times_and_gap():
    from spans import Job, Tracer, covered, job_metrics

    t = Tracer(True)
    a = t.add("a", 0.0, 10.0)
    t.add("b", 1.0, 4.0, a)
    t.add("c", 3.0, 6.0, a)
    t.add("d", 9.0, 12.0, a)  # clipped to the parent
    assert t.self_times()[a] == pytest.approx(10.0 - 5.0 - 1.0)
    assert covered([(0, 1), (0.5, 2), (5, 6)], 0, 10) == pytest.approx(3.0)
    jobs = [Job(0, "g", 1.0, 2.0, [0], 4, 0), Job(1, "g", 1.5, 3.0, [1], 4, 1)]
    stages = {0: dict.fromkeys(("executorRunTime", "executorCpuTime", "shuffleReadBytes",
                                "shuffleWriteBytes", "memoryBytesSpilled",
                                "diskBytesSpilled"), 1000), 1: {}}
    stages[1] = dict(stages[0])
    m = job_metrics(jobs, stages, 0.0, 10.0)
    assert m["driver.gap_s"] == pytest.approx(8.0)
    assert m["executor.run_s"] == pytest.approx(2.0)
    assert m["executor.tasks"] == 8 and m["executor.failed_tasks"] == 1
    assert Tracer(False).add("x", 0, 1) is None


def test_printed_names_are_the_benchmark_json_names():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    name_re = re.compile(r"[A-Za-z0-9_.-]+")
    for listed, ours in (("end_to_end", run.END_TO_END),
                         ("per_layer", run.per_layer_metrics())):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[listed]] == list(ours)
        for name, _, _ in ours:
            assert name_re.fullmatch(name) and len(name) <= 64
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    # what a run prints is exactly that list, in each mode
    m = run.Measurement()
    m.count(1, 0, "x")
    out = run.result(m, {n: (1.5, u) for n, u, _ in run.END_TO_END})
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [n for n, _, _ in run.END_TO_END]
    assert spec["command"] == ["python3", "perfbench/run.py"]


def _fake_df(cols, rows):
    class DF:
        columns = cols

        def collect(self):
            return rows

    return DF()


def test_wrong_or_crashed_result_counts_as_failed():
    table_hash = batch.load_table_hash()
    expected = (["k", "v"], [(1, 2.5), (2, 3.5)])
    good = batch.call_query(None, lambda s, d: _fake_df(["v", "k"], [(3.5, 2), (2.5, 1)]),
                            "q", "")
    wrong = batch.call_query(None, lambda s, d: _fake_df(["k", "v"], [(1, 2.5), (2, 3.25)]),
                             "q", "")

    def boom(spark, data_dir):
        raise RuntimeError("executor lost")

    crashed = batch.call_query(None, boom, "q", "")
    m = run.Measurement()
    for c in (good, wrong, crashed):
        problem = batch.check_call(c, expected, table_hash)
        m.count(1, int(problem is not None), f"{c.key}: {problem}")
    assert batch.check_call(good, expected, table_hash) is None
    assert batch.check_call(wrong, expected, table_hash).startswith("hash ")
    assert "executor lost" in batch.check_call(crashed, expected, table_hash)
    out = run.result(m, {"x": (1.0, "s")})
    assert (out["attempted"], out["failed"], out["correct"]) == (3, 2, False)


def test_stream_checks_catch_a_wrong_emission(tmp_path):
    ticks = gen.make_ticks(SPEC, 9, 8)
    src = _write_ticks(ticks, tmp_path / "s")
    n = ticks.spec.per_tick * ticks.n_ticks
    # the right answer, computed here without Spark
    got = {}
    for k, v in zip(ticks.user_id[:n], ticks.value[:n]):
        c, cents = got.get(int(k), (0, 0))
        got[int(k)] = (c + 1, cents + int(round(v * 100)))
    rows = [(k, c, cents / 100.0) for k, (c, cents) in got.items()]
    att, bad, _ = streams.check_counter(rows, src)
    assert (att, bad) == (len(got), 0)
    rows[0] = (rows[0][0], rows[0][1] + 1, rows[0][2])
    assert streams.check_counter(rows, src)[1] == 1

    # the window pipeline: the batch reading ticks 4-7 drops rows by a
    # watermark at the schedule's start, which every late event there is
    # behind and no other event is
    w_us = ticks.spec.window_s * 1_000_000
    files = sorted(os.listdir(src))
    file_wm = {f: (gen.EPOCH_US // 1000 if k >= 4 else 0) for k, f in enumerate(files)}
    win, dropped = {}, 0
    for i in range(n):
        ws = int(ticks.ts_us[i]) // w_us * w_us
        if ws + w_us <= file_wm[files[i // ticks.spec.per_tick]] * 1000:
            dropped += 1
            continue
        c, t = win.get((ws, int(ticks.user_id[i])), (0, Decimal(0)))
        win[(ws, int(ticks.user_id[i]))] = (c + 1, t + Decimal(str(ticks.value[i])))
    assert dropped == ticks.late[4 * ticks.spec.per_tick:n].sum() > 0
    wrows = [(ws, k, c, t) for (ws, k), (c, t) in win.items()]
    check = lambda rows, fw=file_wm: streams.check_window(rows, src, ticks.spec.window_s, fw)  # noqa: E731
    assert check(wrows)[1] == 0
    # one event fewer, or one more, in any window is a failure
    (ws, k, c, t), rest = wrows[0], wrows[1:]
    assert check([(ws, k, c - 1, t)] + rest)[1] > 0
    assert check([(ws, k, c + 1, t)] + rest)[1] > 0
    # a dropped event that was emitted anyway is a failure
    i = next(i for i in range(4 * ticks.spec.per_tick, n) if ticks.late[i])
    ws = int(ticks.ts_us[i]) // w_us * w_us
    assert check(wrows + [(ws, int(ticks.user_id[i]), 1, Decimal(str(ticks.value[i])))])[1] > 0
    # so is a file no batch read
    assert check(wrows, {f: w for f, w in file_wm.items() if f != files[0]})[1] > 0


def test_outside_a_checkout_the_run_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_loops", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert not os.path.exists(tmp_path / "perfbench" / "_work")
