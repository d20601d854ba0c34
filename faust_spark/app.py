"""App — the engine's application object (reference: ``faust/app/base.py``).

``App`` is a thin registry + builder: topics become source descriptors,
``stream()`` wraps a DataFrame into the operator chain, ``Table`` family
builds aggregation definitions, and ``@agent`` registers a named pipeline
(definition + sink) — the analogue of a streaming query. Nothing here owns
an event loop; Spark's scheduler and Structured Streaming runtime replace
the reference's worker/service machinery entirely (SURVEY §3.1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from faust_spark.models import Record
from faust_spark.streaming.runner import stream_parquet
from faust_spark.streams import Stream
from faust_spark.tables import SetTable, Table


@dataclass
class Topic:
    """Source/sink descriptor (reference: ``faust/topics.py:94-147``).

    For Kafka: ``subscribe``/``subscribePattern`` options. For tests and
    batch runs a topic may be backed by parquet files (the driver fixtures).
    Partitions/retention/compaction are broker concerns; compaction is
    subsumed by Spark checkpointing (SURVEY §2.1 changelog row).
    """

    app: "App"
    name: Optional[str] = None
    pattern: Optional[str] = None
    value_type: Optional[type] = None
    key_type: Optional[type] = None
    partitions: Optional[int] = None
    path: Optional[str] = None  # file-backed topic (parquet dir)
    names: Optional[tuple] = None  # multi-topic subscription (faust app.topic('a','b'))
    assign: Optional[str] = None  # explicit partition assignment (JSON)
    # verbatim kafka.* passthrough, applied last (after credentials) so a
    # topic can override any generated option; analogue of the reference's
    # producer/consumer extra-config settings (faust/types/settings/
    # settings.py broker_* family)
    kafka_extra_options: Optional[dict] = None

    def _auth_and_extra_options(self) -> dict:
        """Credential-derived kafka.* options (app-level,
        ``broker_credentials`` — reference faust/auth.py:15-110 wired via
        app.conf.broker_credentials) overlaid with this topic's verbatim
        ``kafka_extra_options``."""
        opts: dict = {}
        creds = getattr(self.app, "broker_credentials", None)
        if creds is not None:
            opts.update(creds.kafka_options())
        if self.kafka_extra_options:
            for k in self.kafka_extra_options:
                if not isinstance(k, str) or not k.startswith("kafka."):
                    raise ValueError(
                        "kafka_extra_options keys must be 'kafka.'-prefixed "
                        f"client settings; got {k!r}"
                    )
            opts.update(self.kafka_extra_options)
        return opts

    # --- batch / test surface ---------------------------------------------
    def batch_df(self) -> DataFrame:
        if self.path:
            return self.app.spark.read.parquet(self.path)
        raise ValueError("no file backing; use stream_df() for Kafka")

    # --- Kafka contract (option matrices, testable without a broker) -------
    def kafka_source_options(self, starting_offsets: str = "earliest") -> dict:
        """The exact reader option set a Kafka-backed run uses.

        Subscription modes map 1:1 to the reference surface
        (``faust/topics.py:94-241``): topic name(s) → ``subscribe``
        (comma-joined), ``pattern=`` → ``subscribePattern``, explicit
        partitions → ``assign``. Exactly one mode must be set.
        """
        modes = [
            m
            for m in (
                self.names or self.name,
                self.pattern,
                self.assign,
            )
            if m
        ]
        if len(modes) != 1:
            raise ValueError(
                "exactly one of name(s) / pattern / assign must be set; "
                f"got name={self.name!r} names={self.names!r} "
                f"pattern={self.pattern!r} assign={self.assign!r}"
            )
        opts = {
            "kafka.bootstrap.servers": self.app.broker,
            "startingOffsets": starting_offsets,
        }
        if self.assign:
            opts["assign"] = self.assign
        elif self.pattern:
            opts["subscribePattern"] = self.pattern
        else:
            topics = self.names or (self.name,)
            opts["subscribe"] = ",".join(topics)
        if self.partitions is not None:
            # reader-side parallelism floor: one Spark partition per Kafka
            # partition is automatic; minPartitions raises it further
            opts["minPartitions"] = str(self.partitions)
        opts.update(self._auth_and_extra_options())
        return opts

    def kafka_sink_options(self) -> dict:
        """Writer options for ``Topic.send`` parity (kafka sink expects
        key/value[/headers/partition] columns)."""
        if not self.name:
            raise ValueError("a sink topic needs a concrete name")
        opts = {
            "kafka.bootstrap.servers": self.app.broker,
            "topic": self.name,
        }
        opts.update(self._auth_and_extra_options())
        return opts

    # --- streaming surface --------------------------------------------------
    def stream_df(self, starting_offsets: str = "earliest") -> DataFrame:
        spark = self.app.spark
        if self.path:
            return stream_parquet(spark, self.path)
        reader = spark.readStream.format("kafka")
        for k, v in self.kafka_source_options(starting_offsets).items():
            reader = reader.option(k, v)
        try:
            df = reader.load()
        except Exception as e:  # connector jar not on the classpath
            raise RuntimeError(
                "Kafka source unavailable: deploy with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
                "(the test container ships without the connector; use "
                "path= file-backed topics there)"
            ) from e
        if self.value_type is not None and issubclass(self.value_type, Record):
            df = self.value_type.decode(df)
        return df

    def write_batch(self, df: DataFrame) -> None:
        """Produce a batch DataFrame to this topic (Kafka sink columns:
        key/value/headers/partition — reference ``Topic.send``)."""
        if self.path:
            df.write.mode("append").parquet(self.path)
            return
        writer = df.write.format("kafka")
        for k, v in self.kafka_sink_options().items():
            writer = writer.option(k, v)
        writer.save()


@dataclass
class Agent:
    """A registered pipeline: name + builder fn (+ sinks).

    The reference's agent is a coroutine consuming a stream
    (``faust/agents/agent.py:157``); ours is a function from App to a
    DataFrame (batch) or StreamingQuery (streaming) — the unit a scheduler
    would deploy.
    """

    app: "App"
    fun: Callable
    name: str
    sinks: list = field(default_factory=list)

    def __call__(self, *a: Any, **kw: Any):
        return self.fun(self.app, *a, **kw)

    # --- RPC surface (reference faust/agents/agent.py:740-961) ----------
    # faust's ask/map/join round-trip values through the agent via Kafka
    # reply topics + barriers. The batch analogue runs the agent's
    # pipeline over a constructed micro-batch and returns the result rows
    # in send order — same contract (each value produces its reply,
    # order preserved) without the messaging layer. The agent function
    # must pass input columns through (e.g. withColumn-style transforms)
    # for send-order tracking; pipelines that aggregate away the input
    # rows have no per-value reply, exactly as in the reference.

    _SEQ = "__ask_seq"

    def map(self, values: list, schema: Optional[str] = None) -> list:
        """Run each value through the agent; replies in send order."""
        spark = self.app.spark
        rows = [
            {**(v if isinstance(v, dict) else {"value": v}), self._SEQ: i}
            for i, v in enumerate(values)
        ]
        df = (
            spark.createDataFrame(rows, schema=f"{schema}, {self._SEQ} long")
            if schema
            else spark.createDataFrame(rows)
        )
        out = self.fun(self.app, df)
        if self._SEQ not in out.columns:
            raise ValueError(
                f"agent {self.name!r} dropped the sequence column; "
                "ask/map need a per-row transform that passes input "
                "columns through"
            )
        return out.orderBy(self._SEQ).drop(self._SEQ).collect()

    def ask(self, value: Any, schema: Optional[str] = None):
        """Send one value, return its reply row (sync RPC analogue)."""
        return self.map([value], schema)[0]

    def join(self, values: list, schema: Optional[str] = None) -> list:
        """Gather all replies for a batch of values (reference ``join``
        barrier: map + wait-for-all; batch execution is already a
        barrier)."""
        return self.map(values, schema)

    def kvmap(self, items: list, schema: Optional[str] = None) -> list:
        """(key, value) pairs through the agent; replies in send order."""
        return self.map(
            [{"key": k, **(v if isinstance(v, dict) else {"value": v})}
             for k, v in items],
            schema,
        )

    def kvjoin(self, items: list, schema: Optional[str] = None) -> list:
        return self.kvmap(items, schema)


class App:
    """Engine application: registry of topics, tables, agents.

    Example::

        app = App("withdrawals", spark=spark)
        topic = app.topic(path="/root/testdata/sf0.001/events.parquet")
        s = app.stream(topic.batch_df()).group_by("user_id")
        spend = app.Table("spend").sum_of(s, "value")
    """

    def __init__(
        self,
        id: str,
        *,
        spark: Optional[SparkSession] = None,
        broker: str = "localhost:9092",
        broker_credentials=None,
    ) -> None:
        from faust_spark.auth import to_credentials

        self.id = id
        self._spark = spark
        self.broker = broker
        # reference: app.conf.broker_credentials (faust/types/settings/
        # settings.py), consumed by every topic's option matrix
        self.broker_credentials = to_credentials(broker_credentials)
        self.topics: dict[str, Topic] = {}
        self.tables: dict[str, Table] = {}
        self.agents: dict[str, Agent] = {}
        self.pages: list = []
        self._app_tasks: list = []
        self._tasks_run: set = set()
        self._started = False

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from faust_spark.session import get_spark

            self._spark = get_spark(self.id)
        return self._spark

    # --- builders -----------------------------------------------------------
    def topic(
        self,
        *names: str,
        pattern: Optional[str] = None,
        value_type: Optional[type] = None,
        key_type: Optional[type] = None,
        partitions: Optional[int] = None,
        path: Optional[str] = None,
        assign: Optional[str] = None,
        kafka_extra_options: Optional[dict] = None,
    ) -> Topic:
        """Reference ``app.topic('t1', 't2', ...)`` — one or more names, a
        regex ``pattern``, or an explicit ``assign`` JSON; mutually
        exclusive (validated at option-build time)."""
        t = Topic(
            self,
            name=names[0] if names else None,
            names=tuple(names) if len(names) > 1 else None,
            pattern=pattern,
            value_type=value_type,
            key_type=key_type,
            partitions=partitions,
            path=path,
            assign=assign,
            kafka_extra_options=kafka_extra_options,
        )
        for n in names:
            self.topics[n] = t
        return t

    def stream(self, source) -> Stream:
        # the reference runs @app.task hooks when the worker starts,
        # before any agent processes; building the first stream is the
        # analogous "processing begins" point here (start() is idempotent)
        self.start()
        if isinstance(source, Topic):
            source = source.batch_df()
        if isinstance(source, Stream):
            return source
        return Stream(source, app=self)

    def Table(
        self,
        name: str,
        *,
        default: Optional[type] = None,
        ts_col: str = "ts",
    ) -> Table:
        t = Table(self, name, default=default, ts_col=ts_col)
        self.tables[name] = t
        return t

    def SetTable(self, name: str, **kw: Any) -> SetTable:
        t = SetTable(self, name, **kw)
        self.tables[name] = t
        return t

    def GlobalTable(self, df: DataFrame) -> DataFrame:
        """A broadcast-hinted dimension (reference GlobalTable)."""
        from pyspark.sql import functions as F

        return F.broadcast(df)

    @staticmethod
    def timer(interval_seconds: float) -> dict:
        """Periodic execution (reference ``@app.timer``): returns trigger
        kwargs for ``writeStream.trigger(**app.timer(10))`` — the
        micro-batch cadence is the timer."""
        return {"processingTime": f"{interval_seconds} seconds"}

    @staticmethod
    def crontab(cron_expr: str) -> dict:
        """Cron-style scheduling (reference ``@app.crontab``,
        ``faust/app/base.py:1004-1054``). Validates the 5-field expression
        (self-contained parser, :mod:`faust_spark.cron`) and returns the
        ``availableNow`` trigger kwargs — each cron tick launches one
        drain-everything run. Drive the ticks with :meth:`run_cron`."""
        from faust_spark.cron import Crontab

        Crontab.parse(cron_expr)  # fail fast on bad expressions
        return {"availableNow": True}

    @staticmethod
    def run_cron(
        fn,
        cron_expr: str,
        iterations: int = 1,
        *,
        tz=None,
        sleep=None,
        now=None,
    ) -> list:
        """Driver-side cron loop: sleep until each next firing, call ``fn``.

        Mirrors the reference's crontab task loop (sleep
        ``secs_for_next`` → run — ``faust/app/base.py:1029-1054`` via
        ``faust/utils/cron.py:8-16``). On Spark the driver owns scheduling;
        each tick typically launches an ``availableNow`` batch. ``sleep``
        and ``now`` are injectable for tests."""
        import time as _time
        from datetime import datetime, timedelta

        from faust_spark.cron import Crontab

        tab = Crontab.parse(cron_expr)
        sleep = sleep or _time.sleep
        cur = now or (datetime.now(tz) if tz else datetime.now())
        results = []
        for _ in range(iterations):
            nxt = tab.next_fire(cur)
            sleep((nxt - cur).total_seconds())
            results.append(fn())
            cur = nxt
        return results

    def task(self, fun: Optional[Callable] = None, *, on_leader: bool = False):
        """Run-once-at-startup hook (reference ``@app.task``,
        ``faust/app/base.py:897-947``): the function fires exactly once
        when the app starts, before any query runs.

        Like the reference, the function may take zero arguments or one
        (the app is passed)::

            @app.task
            def on_startup(app): ...

            @app.task(on_leader=True)
            def leader_only(): ...

        ``on_leader`` divergence, documented: faust elects a leader among
        workers; on Spark there is exactly ONE driver per application and
        app tasks are driver-side code, so the driver IS the leader and
        ``on_leader`` tasks always run (on a 1000-executor cluster this
        still holds — executors never run app tasks).
        """

        def deco(f: Callable) -> Callable:
            self._app_tasks.append((f, on_leader))
            return f

        return deco(fun) if fun is not None else deco

    def is_leader(self) -> bool:
        """Always True: the Spark driver is the single coordinator (see
        :meth:`task` for the divergence note vs faust's worker election)."""
        return True

    def start(self) -> list:
        """Start the app: run every ``@app.task`` hook exactly once (in
        registration order — the reference starts them with the worker).
        Idempotent PER TASK, not per call: each hook runs on the first
        ``start()`` after its registration, so a task registered after
        an early stream build (which triggers start()) still runs on
        the next entry point instead of being silently skipped.
        Returns the results of the tasks run by THIS call."""
        import inspect

        self._started = True
        results = []
        for entry_ in self._app_tasks:
            f, on_leader = entry_[0], entry_[1]
            if f in self._tasks_run:
                continue
            self._tasks_run.add(f)
            if on_leader and not self.is_leader():
                continue
            if inspect.signature(f).parameters:
                results.append(f(self))
            else:
                results.append(f())
        return results

    def agent(self, name: Optional[str] = None, *, sinks: Optional[list] = None):
        def deco(fun: Callable) -> Agent:
            a = Agent(self, fun, name or fun.__name__, sinks or [])
            self.agents[a.name] = a
            return a

        return deco

    # --- web pages (reference faust/app/base.py:1218-1283) -----------------
    def page(self, path: str):
        """Register an HTTP page handler: ``@app.page('/count/{word}/')``.

        The handler runs sync with signature ``fn(web, request, **match)``
        and may return a dict, a ``web.json(...)`` payload, or a (small)
        DataFrame. Serve registered pages with :meth:`web_server`.
        """
        from faust_spark.web import PageRoute, compile_route

        def deco(fn: Callable) -> Callable:
            route = PageRoute(
                pattern=path, regex=compile_route(path), fn=fn
            )
            # a page wrapping a table_route-marked handler inherits wiring
            marker = getattr(fn, "__table_route__", None)
            if marker:
                route.table, route.match_info = marker
            self.pages.append(route)
            return fn

        return deco

    @staticmethod
    def table_route(table: Any, match_info: str):
        """Mark a page handler as a keyed table lookup.

        Faust uses this to forward the request to the worker owning the
        key's partition (``faust/app/base.py:1263-1283``); here every
        materialized table is driver-visible, so the marker validates the
        wiring (the match param must exist in the route) and lookups run
        locally. On a multi-driver deployment, front this with any HTTP
        router — the handler itself is stateless.
        """

        def deco(fn: Callable) -> Callable:
            fn.__table_route__ = (table, match_info)
            return fn

        return deco

    def enable_prometheus(
        self, monitor: "Any" = None, path: str = "/metrics/"
    ) -> "Any":
        """Mount a Prometheus text-format exposition of a
        :class:`faust_spark.sensors.Monitor` at ``path`` (reference: the
        Prometheus sensor backend, ``faust/sensors/prometheus.py``,
        which faust exposes through its web server the same way). Pass
        an existing monitor to expose one that's already attached, or
        omit to create AND attach a fresh one to this app's session;
        returns the monitor. Serve with :meth:`web_server`."""
        from faust_spark.sensors import Monitor, metrics_page

        if monitor is None:
            monitor = Monitor()
            self.spark.streams.addListener(monitor)
        self.page(path)(metrics_page(monitor))
        return monitor

    def web_server(self, port: int = 0) -> "Any":
        """Start serving registered pages; returns the started WebServer
        (``.url``, ``.stop()``). ``port=0`` picks an ephemeral port."""
        from faust_spark.web import WebServer

        self.start()  # serve entry point: fire @app.task hooks first
        for route in self.pages:
            if route.match_info and (
                f"{{{route.match_info}}}" not in route.pattern
            ):
                raise ValueError(
                    f"table_route match_info {route.match_info!r} not in "
                    f"page pattern {route.pattern!r}"
                )
        return WebServer(routes=list(self.pages), port=port).start()


__all__ = ["App", "Topic", "Agent"]
