"""Streaming semantics: batch parity, window close, multi-batch state.

Mirrors the reference's functional-test style (deliver events → assert)
and its stress-suite invariant (no gaps/dups in per-key counters across
batches, t/stress/tests/tables/app.py:96-150 behavior spec).
"""

import os

import pytest

from pyspark.sql import functions as F

from faust_spark.streaming.runner import run_to_memory, stream_parquet
from faust_spark.streaming.state import reduce_by_key, stateful_counter


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir, tmp_path_factory):
    """Fixture events re-written as 4 files → 4 real micro-batches."""
    d = str(tmp_path_factory.mktemp("events_parts"))
    from faust_spark.catalog import load_table

    load_table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_streaming_counts_match_batch(spark, multi_file_events):
    batch = spark.read.parquet(multi_file_events)
    expected = {
        r.user_id: r.cnt
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=1)
    agg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    out = run_to_memory(agg, output_mode="complete")
    got = {r.user_id: r.cnt for r in out.collect()}
    assert got == expected


def test_stateful_counter_multibatch_no_gaps_no_dups(
    spark, multi_file_events
):
    """Across 4 micro-batches, per-key cumulative counts must be strictly
    increasing (no dups) and end exactly at the batch total (no gaps)."""
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=1)
    out = run_to_memory(
        stateful_counter(s.groupBy("user_id"), "user_id"),
        output_mode="update",
    )
    batch = spark.read.parquet(multi_file_events)
    totals = {
        r.user_id: r.c
        for r in batch.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    per_key: dict[int, list[int]] = {}
    for r in out.collect():
        per_key.setdefault(r.user_id, []).append(r.cnt)
    for uid, counts in per_key.items():
        assert counts == sorted(set(counts)), f"dup/regress for {uid}"
        assert counts[-1] == totals[uid], f"gap for {uid}"


def test_stateful_counts_composite_key_matches_batch(
    spark, multi_file_events
):
    """Composite-key state (the windowed-Table shape table[(user, day)])
    across 4 micro-batches lands exactly on the batch rollup."""
    from pyspark.sql.types import DateType, LongType

    from faust_spark.streaming.state import stateful_counts

    s = stream_parquet(
        spark, multi_file_events, max_files_per_trigger=1
    ).withColumn("day", F.to_date("ts"))
    out = run_to_memory(
        stateful_counts(
            s.groupBy("user_id", "day"),
            [("user_id", LongType()), ("day", DateType())],
        ),
        output_mode="update",
    )
    final = {
        (r.user_id, r.day): r.cnt
        for r in out.groupBy("user_id", "day")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    batch = spark.read.parquet(multi_file_events).withColumn(
        "day", F.to_date("ts")
    )
    expected = {
        (r.user_id, r.day): r.cnt
        for r in batch.groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert final == expected


@pytest.fixture(scope="module")
def half_cent_events(tmp_path_factory):
    """Three parquet files (three micro-batches at one file a trigger) of
    (user_id, value). Values include exact binary half-cents (0.125,
    0.625), where HALF_EVEN and HALF_UP cent rounding disagree, and a
    null value, which counts but adds nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("half_cents")
    files = [
        [(1, 0.125), (2, 10.5), (1, 3.25), (3, None)],
        [(2, 0.625), (1, 1.01), (3, 7.0), (2, 0.1)],
        [(1, 0.125), (3, 2.675), (4, 99.99), (2, 0.2)],
    ]
    for i, rows in enumerate(files):
        uid, val = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array(uid, pa.int64()),
                    "value": pa.array(val, pa.float64()),
                }
            ),
            str(d / f"part-{i}.parquet"),
        )
    return str(d), [r for rows in files for r in rows]


def test_stateful_counter_sum_matches_half_even_decimal_sum(
    spark, half_cent_events
):
    """Across 3 micro-batches the final per-key total equals the decimal
    sum of the values rounded to cents HALF_EVEN (numpy's ``round``):
    0.125 counts as 0.12, not 0.13."""
    from decimal import ROUND_HALF_EVEN, Decimal

    path, rows = half_cent_events
    s = stream_parquet(spark, path, max_files_per_trigger=1)
    out = run_to_memory(
        stateful_counter(s.groupBy("user_id"), "user_id", sum_col="value"),
        output_mode="update",
    )
    got = {
        r.user_id: (r.cnt, r.total)
        for r in out.groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"), F.max("total").alias("total"))
        .collect()
    }
    cnt: dict[int, int] = {}
    cents: dict[int, Decimal] = {}
    for uid, v in rows:
        cnt[uid] = cnt.get(uid, 0) + 1
        q = Decimal(0) if v is None else Decimal(repr(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_EVEN
        )
        cents[uid] = cents.get(uid, Decimal(0)) + q
    assert got == {u: (cnt[u], float(cents[u])) for u in cnt}
    assert got[1][1] == 4.5  # 0.12 + 3.25 + 1.01 + 0.12


def test_stateful_counter_runs_as_native_aggregation(spark, half_cent_events):
    """The counter compiles to Spark's streaming aggregation: its state
    operators are the state-store save, never a Python worker."""
    path, _rows = half_cent_events
    s = stream_parquet(spark, path, max_files_per_trigger=1)
    q = (
        stateful_counter(s.groupBy("user_id"), "user_id", sum_col="value")
        .writeStream.format("memory")
        .queryName("native_counter_ops")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        names = [
            op["operatorName"]
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        ]
    finally:
        q.stop()
    assert names
    assert "applyInPandasWithState" not in names, names


def test_local_file_stream_batch_lists_files_without_a_job(spark, tmp_path):
    """Under a local master each micro-batch lists its files on the
    driver: a 40-file trigger runs no listing job of one task per file,
    so the whole drain of 80 files runs fewer than 80 tasks."""
    d = str(tmp_path / "many_files")
    spark.range(0, 80, 1, 80).write.parquet(d)
    q = (
        stream_parquet(spark, d, 40)
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("listing_tasks")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        tracker = spark.sparkContext.statusTracker()
        tasks = 0
        for job in tracker.getJobIdsForGroup(str(q.runId)):
            for stage in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(stage)
                tasks += info.numTasks if info else 0
        rows = spark.table("listing_tasks").collect()
    finally:
        q.stop()
    assert rows[0]["count"] == 80
    assert 0 < tasks < 80, tasks


def test_append_mode_emits_only_closed_windows(spark, multi_file_events):
    s = stream_parquet(spark, multi_file_events)
    agg = (
        s.withWatermark("ts", "600 seconds")
        .groupBy(F.window("ts", "3600 seconds"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_to_memory(agg, output_mode="append").collect()
    batch = spark.read.parquet(multi_file_events)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    for r in out:
        assert r.window.end <= max_ts, "emitted a window not yet closed"


def test_stream_stream_join_with_watermarks(spark, multi_file_events):
    """Real stream-stream equi-join (the operator the reference stubs,
    faust/joins.py behavior): purchases ⋈ clicks on user within the
    watermark bound, through the streaming engine."""
    s1 = (
        stream_parquet(spark, multi_file_events)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    s2 = (
        stream_parquet(spark, multi_file_events)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    out = run_to_memory(joined, output_mode="append")
    batch = spark.read.parquet(multi_file_events)
    p = batch.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    c = batch.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    expected = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).count()
    assert out.count() == expected


def test_salted_join_matches_plain(spark, multi_file_events):
    from faust_spark.joins import salted_join

    batch = spark.read.parquet(multi_file_events).select("user_id", "value")
    dim = (
        batch.groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    plain = batch.join(dim, "user_id").count()
    salted = salted_join(batch, dim, "user_id", salt_buckets=8).count()
    assert salted == plain


def test_reduce_by_key_custom_reducer(spark, multi_file_events):
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=2)
    out = run_to_memory(
        reduce_by_key(
            s.groupBy("user_id"), "value", max, key_name="user_id",
            alias="mx", initial=float("-inf"),
        ),
        output_mode="update",
    )
    final = out.groupBy("user_id").agg(F.max("mx").alias("mx"))
    batch = spark.read.parquet(multi_file_events)
    expected = {
        r.user_id: r.mx
        for r in batch.groupBy("user_id").agg(F.max("value").alias("mx")).collect()
    }
    got = {r.user_id: r.mx for r in final.collect()}
    assert got == expected


def test_take_buffers_size_and_time_flush(spark, tmp_path):
    """Stream.take(max_, within=) parity (faust/streams.py:303-316,
    t/functional/test_streams.py::test_take): buffers hold at most max_
    rows; a partial buffer is flushed at the trigger boundary instead of
    waiting for max_ values; nothing is lost or duplicated."""
    from faust_spark import App
    from faust_spark.catalog import load_table

    src = str(tmp_path / "src")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    # 4 files -> maxFilesPerTrigger=1 forces 4 micro-batches (4 time flushes)
    events.repartition(4).write.mode("overwrite").parquet(src)
    n_src = spark.read.parquet(src).count()

    stream = stream_parquet(spark, src, max_files_per_trigger=1)
    app = App("take-within", spark=spark)
    buffers = app.stream(stream).take(7, within=None)

    assert all(len(b) <= 7 for b in buffers)
    assert sum(len(b) for b in buffers) == n_src
    # each micro-batch of ~25 rows ends in a partial (time-style) flush,
    # so partial buffers must appear more than once
    assert sum(1 for b in buffers if len(b) < 7) >= 2
    ids = [r.event_id for b in buffers for r in b]
    assert len(set(ids)) == n_src


def test_take_buffers_processing_time_trigger(spark, tmp_path):
    """The within= clock path: processingTime trigger flushes the partial
    buffer at the cadence boundary while the query keeps running."""
    from faust_spark.catalog import load_table
    from faust_spark.streaming.runner import take_buffers

    src = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(40).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    buffers = take_buffers(
        stream_parquet(spark, src), max_=9, within=1.0, timeout_sec=5.0
    )
    assert sum(len(b) for b in buffers) == 40
    assert all(len(b) <= 9 for b in buffers)
    assert any(len(b) < 9 for b in buffers)  # 40 % 9 != 0 → time flush


def test_stream_left_outer_join_emits_closed_outer_rows(spark):
    """Left-outer stream-stream join: matched rows emit immediately;
    null-extended rows only for purchases past the final watermark —
    never inside the last watermark hour."""
    import datetime
    import importlib

    from pyspark.sql import functions as F

    entry = importlib.import_module("__spark_entry__")
    sf = "/root/testdata/sf0.001"
    out = entry.queries()["stream_left_outer_join"](spark, sf).cache()
    nulls = out.filter("c_ts IS NULL")
    assert nulls.count() > 0  # outer semantics actually exercised
    from faust_spark.catalog import load_table

    e = load_table(spark, sf, "events")
    maxp = e.filter("event_type='purchase'").agg(F.max("ts")).first()[0]
    maxc = e.filter("event_type='click'").agg(F.max("ts")).first()[0]
    wm = min(maxp, maxc) - datetime.timedelta(hours=1)
    assert nulls.agg(F.max("p_ts")).first()[0] < wm
