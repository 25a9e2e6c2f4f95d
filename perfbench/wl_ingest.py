"""Workload ``ingest_to_answer``: the full stack, wire to aggregate.

The broker (``KafkaFrontend`` over a ``WireLog``) runs on an asyncio
loop thread of this process, beside the Spark driver. A separate
generator process (loadgen.py) sends the run's events over TCP in
Produce requests of 500 records. Every 10k appended records the
broker's log flushes to the parquet topic log
(``WireLog.flush_to_topic_log``), inside the request that crossed the
boundary, so writes land on disk as micro-batches. A ``kcore_topic``
availableNow stream then computes the 1-hour tumbling count by
``event_type``, checked against a pure-Python count of the events.
This runs PASSES times, each on a topic of its own, and ``answer_s`` is
the median. On the last pass's topic a 1% batch is then produced,
flushed and run as one more trigger on the persisted checkpoint.
"""

from __future__ import annotations

import asyncio
import calendar
import glob
import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict

from kcore_spark.protocol.broker import WireLog

import datagen
import instrument
from common import Tracer, latency_summary, layer_self_ms, median, peak_rss_mb, percentile, rpc_waits_ms
from sparkenv import job_counts, start_spark, stop_spark

N_EVENTS = 15_000  # per pass
PASSES = 2  # answer_s is their median
INCREMENT = N_EVENTS // 100
BATCH = 500
FLUSH_EVERY = 10_000
PARTITIONS = 8
HOUR_US = 3_600_000_000


class FlushingLog(WireLog):
    """A WireLog that flushes a topic to the parquet topic log each time
    FLUSH_EVERY records have been appended to it, inside the append."""

    def __init__(self) -> None:
        super().__init__()
        self.pending: dict[str, int] = defaultdict(int)
        self.sink = None  # (spark, topic_log), set once Spark is up

    def append(self, topic, partition, records):
        base = super().append(topic, partition, records)
        self.pending[topic] += len(records)
        if self.pending[topic] >= FLUSH_EVERY:
            self.flush(topic)
        return base

    def flush(self, topic: str) -> int:
        self.pending[topic] = 0
        return self.flush_to_topic_log(self.sink[0], self.sink[1], topic)


class BrokerThread:
    """KafkaFrontend on an event loop running in a thread of its own."""

    def __init__(self, log) -> None:
        from kcore_spark.protocol.server import KafkaFrontend

        self.loop = asyncio.new_event_loop()
        self.thread = threading.Thread(target=self.loop.run_forever, name="broker", daemon=True)
        self.thread.start()
        self.front = KafkaFrontend(host="127.0.0.1", port=0, wire_log=log)
        asyncio.run_coroutine_threadsafe(self.front.start(), self.loop).result()
        self.port = self.front.port

    def call(self, fn, *args):
        """Run ``fn`` on the loop thread, between requests."""

        async def _call():
            return fn(*args)

        return asyncio.run_coroutine_threadsafe(_call(), self.loop).result()

    def stop(self) -> None:
        asyncio.run_coroutine_threadsafe(self.front.stop(), self.loop).result(timeout=30)
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(timeout=30)
        self.loop.close()


class Pipeline:
    """Broker, generator, topic log and stream of one run."""

    def __init__(self, env, seed: int, tracer: Tracer) -> None:
        self.env, self.tracer = env, tracer
        self.log = FlushingLog()
        self.broker = BrokerThread(self.log)
        self.gen = subprocess.Popen(
            [
                sys.executable,
                env.script("loadgen.py"),
                "--port", str(self.broker.port),
                "--seed", str(seed),
                "--events", str(N_EVENTS + INCREMENT),
                "--batch", str(BATCH),
                "--partitions", str(PARTITIONS),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            env=env.child_env,
        )
        self.stream_runs: list[str] = []
        self.triggers: list = []  # (topic, wall_ms, progress list)

    def attach(self, spark) -> None:
        """Connect the log's flushes and the stream to a Spark session."""
        from kcore_spark.sources.pyds import TopicLogDataSource
        from kcore_spark.sources.topic_log import TopicLog

        self.spark = spark
        spark.dataSource.register(TopicLogDataSource)
        self.root = self.env.dir("topics")
        self.tlog = TopicLog(spark, self.root)
        self.log.sink = (spark, self.tlog)

    def wait_ready(self) -> None:
        line = self.gen.stdout.readline()
        if line.strip() != "READY":
            raise RuntimeError(f"generator failed to start: {line!r}")

    def create(self, topic: str) -> None:
        self.log.create_topic(topic, PARTITIONS)
        self.tlog.create_topic(topic, PARTITIONS)

    def produce(self, topic: str, lo: int, hi: int) -> list:
        """Send events [lo, hi) and flush what is left; returns the
        generator's per-request stamps."""
        self.broker.call(self.spark.sparkContext.setJobGroup, f"flush-{topic}", "flush")
        self.gen.stdin.write(f"GO {topic} {lo} {hi}\n")
        self.gen.stdin.flush()
        line = self.gen.stdout.readline()
        if not line.startswith("DONE "):
            raise RuntimeError(f"generator failed: {line!r}")
        if self.log.pending[topic]:
            self.broker.call(self.log.flush, topic)
        return json.loads(line[5:])["requests"]

    def trigger(self, topic: str) -> dict[tuple[int, str], int]:
        """One availableNow run of the tumbling count on the topic's
        persisted checkpoint; returns {(hour start epoch s, type): n}."""
        from pyspark.sql import functions as F

        name = f"agg_{topic}_{len(self.triggers)}"
        with self.tracer.span("streaming.trigger") as idx:
            src = (
                self.spark.readStream.format("kcore_topic")
                .option("root", self.root)
                .option("topic", topic)
                .load()
            )
            agg = src.groupBy(
                F.window("timestamp", "1 hour").alias("w"),
                F.get_json_object(F.col("value").cast("string"), "$.event_type").alias("event_type"),
            ).count()
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", self.env.dir("ckpt", topic))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = self.spark.table(name).collect()
        progress = q.recentProgress
        start, end = self.tracer.spans[idx][1:3]
        self.stream_runs.append(str(q.runId))
        self.triggers.append((topic, (end - start) / 1e6, progress))
        # the source's reads happen in Spark's latestOffset/getBatch calls
        read_ms = sum(
            p.durationMs.get("latestOffset", 0) + p.durationMs.get("getBatch", 0) for p in progress
        )
        self.tracer.add("pyds.read", start, start + int(read_ms * 1e6), parent=idx)
        # the source's timestamp is TIMESTAMP_NTZ, so window starts come
        # back as naive datetimes on the UTC wall clock
        return {
            (calendar.timegm(r["w"]["start"].timetuple()), r["event_type"]): r["count"] for r in rows
        }

    def close(self) -> None:
        if self.gen.poll() is None:
            self.gen.stdin.close()
            try:
                self.gen.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()
        self.broker.stop()


def _expected(ev, hi: int) -> dict[tuple[int, str], int]:
    hours = ev["ts"][:hi] // HOUR_US * 3600
    return dict(Counter(zip(hours.tolist(), ev["event_type"][:hi].tolist())))


def _durable_ms(reqs: list, t_last_flush: float) -> list[float]:
    """Per record, the time from its Produce being sent to the flush
    that wrote it to the topic log. A flush runs inside the request
    that crossed a FLUSH_EVERY boundary, so it ends before that
    request's acknowledgement; records after the last boundary are
    written by the closing flush."""
    out: list[float] = []
    open_sends: list[float] = []
    for i, r in enumerate(reqs):
        open_sends.append(r[1])
        if (i + 1) * BATCH % FLUSH_EVERY == 0:
            out += [(r[2] - s) * 1000 for s in open_sends for _ in range(BATCH)]
            open_sends = []
    out += [(t_last_flush - s) * 1000 for s in open_sends for _ in range(BATCH)]
    return out


def _ingest(p: Pipeline, topic: str, ev) -> dict:
    """First Produce -> verified aggregate over N_EVENTS events."""
    p.create(topic)
    reqs = p.produce(topic, 0, N_EVENTS)
    t_flushed = time.monotonic()
    got = p.trigger(topic)
    ok = got == _expected(ev, N_EVENTS)
    t_done = time.monotonic()
    t0 = reqs[0][1]
    return {
        "topic": topic,
        "answer_s": t_done - t0,
        "flushed_s": t_flushed - t0,
        "durable_ms": _durable_ms(reqs, t_flushed),
        "errors": sum(1 for r in reqs if r[4]),
        "requests": len(reqs),
        "requests_stamps": reqs,
        "ok": ok,
        "window_ns": (int(t0 * 1e9), int(t_done * 1e9)),
    }


def _increment(p: Pipeline, topic: str, ev) -> dict:
    """A 1% batch on top of a pass: produced, flushed and run as one more
    trigger on the topic's persisted checkpoint."""
    reqs = p.produce(topic, N_EVENTS, N_EVENTS + INCREMENT)
    ok = p.trigger(topic) == _expected(ev, N_EVENTS + INCREMENT)
    return {"s": time.monotonic() - reqs[0][1], "requests": reqs, "ok": ok}


def _check_log(p: Pipeline, topic: str, n: int) -> bool:
    """The topic log holds ``n`` records with dense offsets per partition."""
    from pyspark.sql import functions as F

    rows = (
        p.tlog.scan(topic)
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("offset").alias("d"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
        )
        .collect()
    )
    dense = all(r["n"] == r["d"] == r["hi"] + 1 and r["lo"] == 0 for r in rows)
    return dense and sum(r["n"] for r in rows) == n


def run(env, seed: int, seconds: int, trace: bool) -> dict:
    ev = datagen.events(seed, N_EVENTS + INCREMENT)
    tracer = Tracer()
    p = Pipeline(env, seed, tracer)
    spark = None
    try:
        p.wait_ready()  # every batch is encoded before set-up starts
        t_setup = time.monotonic()
        spark = start_spark(env)
        p.attach(spark)
        # warm-up, charged to setup_s: a whole pass through every layer and
        # a restart from its checkpoint
        warm = _ingest(p, "warm", ev)
        warm_inc = _increment(p, "warm", ev)
        setup_s = time.monotonic() - t_setup
        passes = [_ingest(p, f"events{k}", ev) for k in range(PASSES)]
        answer_s = median([r["answer_s"] for r in passes])
        main, undo = passes[-1], None
        if trace:
            # one more pass, traced; the untraced passes are its reference
            undo = instrument.install_storage(tracer) + instrument.install_protocol(tracer)
            tracer.spans.clear()  # the warm-up and untraced triggers are not traced
            main = _ingest(p, "traced", ev)
            passes.append(main)
        topic = main["topic"]
        inc = _increment(p, topic, ev)
        if undo:
            instrument.uninstall(undo)
        log_ok = _check_log(p, topic, N_EVENTS + INCREMENT)
        rss = peak_rss_mb()
        counts = job_counts(spark, [f"flush-{topic}"] + p.stream_runs[-2:])
        segment_files = len(glob.glob(os.path.join(p.root, topic, "**", "*.parquet"), recursive=True))
    finally:
        p.close()
        if spark is not None:
            stop_spark(spark)

    failed = sum(r["errors"] + (not r["ok"]) for r in [warm] + passes) + (not log_ok)
    failed += sum(sum(1 for r in i["requests"] if r[4]) + (not i["ok"]) for i in (warm_inc, inc))
    durable = latency_summary(main["durable_ms"])
    detail = {
        "ingest_to_answer_s": answer_s,
        "warm_s": warm["answer_s"],
        "passes_s": [r["answer_s"] for r in passes],
        "produce_flush_s": main["flushed_s"],
        "incremental_trigger_s": inc["s"],
        "produce_to_durable_ms": durable,
        "triggers_ms": [t[1] for t in p.triggers],
        # Spark's own phase durations of the measured trigger's batches
        "main_trigger_progress_ms": [dict(pr.durationMs) for pr in p.triggers[-2][2]],
        "spark": counts,
        "segment_files": segment_files,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "answer_s": (answer_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    layer = {
        "client.records_per_s": (N_EVENTS / main["flushed_s"], "records/s"),
        "client.latency_p50_ms": (durable["p50"], "ms"),
        "client.latency_tail_ms": (durable["tail"], "ms"),
        "streaming.incremental_answer_ms": (inc["s"] * 1000, "ms"),
        "topic_log.segment_files": (segment_files, "count"),
        "spark.jobs": (counts["jobs"], "count"),
        "spark.stages": (counts["stages"], "count"),
        "spark.tasks": (counts["tasks"], "count"),
    }
    if trace:
        layer.update(_layer_metrics(tracer, p, main, answer_s))
        self_ms = layer_self_ms(tracer.spans, within=main["window_ns"])
        detail["self_ms"] = self_ms
        detail["bottleneck"] = max(self_ms, key=self_ms.get)
    return {
        "correct": failed == 0,
        "attempted": sum(r["requests"] + 1 for r in [warm] + passes)
        + sum(len(i["requests"]) + 1 for i in (warm_inc, inc))
        + 1,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "detail": detail,
    }


def _layer_metrics(tracer: Tracer, p: Pipeline, main: dict, ref_answer_s: float) -> dict:
    """Per-layer metrics of the traced pass ``main`` and the incremental
    trigger after it; ``ref_answer_s`` is the untraced passes' median."""
    c = tracer.counts
    dur: dict[str, list[float]] = defaultdict(list)
    for name, t0, t1, _parent, _rid in tracer.spans:
        dur[name].append((t1 - t0) / 1e6)
    handle = dur["server.handle_request"] or [0.0]
    # the generator's RPC time minus the broker's; its ids are unique
    waits = rpc_waits_ms(tracer.spans, [r[:3] for r in main["requests_stamps"]]) or [0.0]
    progress = [pr for topic, _ms, prs in p.triggers if topic == main["topic"] for pr in prs]
    self_ms = layer_self_ms(tracer.spans, within=main["window_ns"])
    wall_ms = (main["window_ns"][1] - main["window_ns"][0]) / 1e6
    out = {
        "records.crc32c_bytes": (c["records.crc32c_bytes"], "bytes"),
        "records.crc32c_ms": (sum(dur["records.crc32c"]), "ms"),
        "records.decode_ms": (sum(dur["records.decode"]), "ms"),
        "records.encode_ms": (sum(dur["records.encode"]), "ms"),
        "broker.produce_ms": (sum(dur["broker.produce"]), "ms"),
        "broker.append_records": (c["broker.append_records"], "records"),
        "server.requests": (len(dur["server.handle_request"]), "count"),
        "server.handle_ms_p50": (percentile(handle, 50), "ms"),
        "server.handle_ms_p99": (percentile(handle, 99), "ms"),
        "server.wait_ms_p50": (percentile(waits, 50), "ms"),
        "broker.flush_ms": (sum(dur["broker.flush"]), "ms"),
        "broker.flushes": (c["broker.flushes"], "count"),
        "broker.flush_records": (c["broker.flush_records"], "records"),
        "topic_log.append_raw_ms": (sum(dur["topic_log.append_raw"]), "ms"),
        "pyds.stream_read_ms": (sum(dur["pyds.read"]), "ms"),
        "pyds.rows_read": (sum(pr.numInputRows for pr in progress), "rows"),
        "streaming.trigger_ms": (sum(dur["streaming.trigger"]), "ms"),
        "streaming.triggers": (len(dur["streaming.trigger"]), "count"),
        "trace.overhead_pct": ((main["answer_s"] / ref_answer_s - 1) * 100, "%"),
        "trace.self_coverage_pct": (sum(self_ms.values()) / wall_ms * 100, "%"),
    }
    for layer, ms in self_ms.items():
        out[f"self.{layer}_ms"] = (ms, "ms")
    return out
