"""End-to-end pipeline tests (SURVEY.md §5.3): replay events as a simulated
MQTT stream, run the full parse->transform->route->sink->stats pipeline,
assert routed outputs and count conservation (success + dead-letter =
input)."""

from __future__ import annotations

import json
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from mqtt_streamr_spark.streaming.pipeline import (
    PipelineSpec,
    StreamingBridge,
    replay_source,
)
from mqtt_streamr_spark.streaming.stats import DataTimeoutWatchdog, IntervalLogger

from tests.conftest import SF_SMOKE

EVENTS = os.path.join(SF_SMOKE, "events.parquet")


@pytest.fixture()
def tmpdirs():
    with tempfile.TemporaryDirectory() as d:
        yield {
            "sink": os.path.join(d, "sink"),
            "dead": os.path.join(d, "dead"),
            "ckpt": os.path.join(d, "ckpt"),
        }


TRANSFORM = '{"u": user_id, "kind": $uppercase(event_type), "v2": value * 2}'


def test_streaming_end_to_end(spark, tmpdirs):
    spec = PipelineSpec(
        transform=TRANSFORM,
        stream_id_template="/streamr/$topic",
        topic_levels=2,
        sink_dir=tmpdirs["sink"],
        dead_letter_dir=tmpdirs["dead"],
        log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    src = replay_source(spark, EVENTS, streaming=True, malformed_every=7)
    q = bridge.start(src, checkpoint_dir=tmpdirs["ckpt"])
    q.awaitTermination(timeout=120)
    assert bridge.transform_backend == "compiled"

    total = spark.read.parquet(EVENTS).count()
    out = spark.read.parquet(tmpdirs["sink"])
    dead = spark.read.parquet(tmpdirs["dead"])
    n_invalid = spark.read.parquet(EVENTS).filter(
        F.col("event_id") % 7 == 0
    ).count()

    # count conservation: success + dead-letter = input (bin:149-155,195)
    assert out.count() == total - n_invalid
    assert dead.count() == n_invalid
    success, errors = bridge.logger.report()
    assert success == total - n_invalid
    assert errors == 0

    # routing: one partition per truncated topic (5 event types)
    stream_ids = {r["stream_id"] for r in out.select("stream_id").distinct().collect()}
    assert stream_ids == {
        f"/streamr//events/{t}"
        for t in ("click", "error", "purchase", "signup", "view")
    }
    assert bridge.registry.stream_ids == sorted(stream_ids)

    # transform applied: messages carry the transformed shape
    msg = json.loads(out.limit(1).collect()[0]["message"])
    assert set(msg) == {"u", "kind", "v2"} and msg["kind"].isupper()


def test_batch_and_streaming_agree(spark, tmpdirs):
    """The same plan in batch mode must produce identical routed counts."""
    spec = PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s/$topic", topic_levels=1,
        sink_dir=tmpdirs["sink"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    out = spark.read.parquet(tmpdirs["sink"])
    assert out.count() == spark.read.parquet(EVENTS).count()
    # levels=1 collapses every topic to /events -> a single stream
    assert bridge.registry.stream_ids == ["/s//events"]


def test_fixed_stream_id_and_dry_run(spark, tmpdirs):
    spec = PipelineSpec(stream_id="/fixed", dry_run=True, log_interval=3600)
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    # dry run: nothing written, nothing registered, but counts still flow
    assert bridge.registry.stream_ids == []
    success, errors = bridge.logger.report()
    assert success == spark.read.parquet(EVENTS).count()
    assert errors == 0


def test_autocreate_streams_off_skips_registry(spark, tmpdirs):
    """autocreate_streams=False: externally-provisioned streams — data
    still routes and writes, but no per-batch key collect feeds the
    registry (r7, SURVEY hard-part 6 follow-up)."""
    spec = PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s/$topic", topic_levels=1,
        sink_dir=tmpdirs["sink"], log_interval=3600,
        autocreate_streams=False,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    out = spark.read.parquet(tmpdirs["sink"])
    assert out.count() == spark.read.parquet(EVENTS).count()
    assert bridge.registry.stream_ids == []  # no init job ran
    success, errors = bridge.logger.report()
    assert success == out.count() and errors == 0


def test_fixed_stream_registers_without_batch_job(spark, tmpdirs):
    """A fixed stream id registers via the static key (no distinct
    collect), and the sink partitions on the single stream."""
    spec = PipelineSpec(stream_id="/fixed", sink_dir=tmpdirs["sink"],
                        log_interval=3600)
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    assert bridge.registry.stream_ids == ["/fixed"]
    out = spark.read.parquet(tmpdirs["sink"])
    assert {r["stream_id"] for r in
            out.select("stream_id").distinct().collect()} == {"/fixed"}


def test_publish_back_to_broker(spark, tmpdirs):
    """Network egress parity (bin:191-198): replay -> transform -> route
    -> MQTT publish to the in-repo MiniBroker; a wildcard subscriber
    receives every routed message on its stream_id topic, and the
    success counter equals messages published (conservation: success +
    dead-letter = input)."""
    import time

    from mqtt_streamr_spark.sources.minibroker import (
        MiniBroker,
        SocketMqttClient,
    )

    broker = MiniBroker()
    sub = SocketMqttClient(broker.url, topics=["#"])
    try:
        spec = PipelineSpec(
            transform=TRANSFORM,
            stream_id_template="/streamr/$topic",
            topic_levels=2,
            publish_url=broker.url,
            dead_letter_dir=tmpdirs["dead"],
            log_interval=3600,
        )
        bridge = StreamingBridge(spec)
        src = replay_source(spark, EVENTS, streaming=True, malformed_every=7)
        q = bridge.start(src, checkpoint_dir=tmpdirs["ckpt"])
        q.awaitTermination(timeout=120)

        total = spark.read.parquet(EVENTS).count()
        n_invalid = spark.read.parquet(EVENTS).filter(
            F.col("event_id") % 7 == 0
        ).count()
        success, errors = bridge.logger.report()
        assert success == total - n_invalid
        assert errors == 0

        # drain the subscriber (router is async; bounded wait)
        got = []
        deadline = time.time() + 30
        while len(got) < success and time.time() < deadline:
            got.extend(sub.drain())
            time.sleep(0.1)
        assert len(got) == success
        topics = {t for t, _, _ in got}
        assert topics == {
            f"/streamr//events/{t}"
            for t in ("click", "error", "purchase", "signup", "view")
        }
        # payloads are the TRANSFORMED messages
        msg = json.loads(got[0][1])
        assert set(msg) == {"u", "kind", "v2"} and msg["kind"].isupper()
        # every routed stream was registered (bin:168-184); the keys ride
        # the publish action's observed metrics, and the memo has no
        # external side effect, so registering after the publish is not
        # observable
        assert bridge.registry.stream_ids == sorted(topics)
    finally:
        sub.close()
        broker.close()


def _bridge_input(spark, rows):
    return spark.createDataFrame(rows, "topic string, payload string")


def test_bridge_parses_each_payload_once(spark, tmpdirs):
    """Plan guard: with a compiled transform, the bridge's executed plan
    parses the payload exactly once — the validity check and the
    transform share the `parsed` variant instead of the transform
    calling try_parse_json(payload) again in each of its field reads."""
    import re

    spec = PipelineSpec(transform=TRANSFORM, sink_dir=tmpdirs["sink"],
                        log_interval=3600)
    bridge = StreamingBridge(spec)
    planned = bridge.plan(replay_source(spark, EVENTS, streaming=False))
    assert bridge.transform_backend == "compiled"
    plan = planned._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"parseJson\(payload#", plan)) == 1


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_autocreate_streams_costs_no_extra_job(spark, tmpdirs):
    """The per-key stream registration reads its keys from the write's
    observed metrics, so autocreate_streams=True runs no more Spark jobs
    per batch than autocreate_streams=False."""
    src = replay_source(spark, EVENTS, streaming=False, malformed_every=7)
    jobs = {}
    for auto in (True, False):
        spec = PipelineSpec(
            transform=TRANSFORM, stream_id_template="/s/$topic",
            topic_levels=2, dead_letter_dir=tmpdirs["dead"] + str(auto),
            sink_dir=tmpdirs["sink"] + str(auto), log_interval=3600,
            autocreate_streams=auto,
        )
        bridge = StreamingBridge(spec)
        bridge.run_batch(src)  # warm: plan caches, codegen
        jobs[auto] = _jobs_of(spark, lambda: bridge.run_batch(src))
        assert (len(bridge.registry.stream_ids) == 5) is auto
    assert jobs[True] <= jobs[False], jobs


def test_registry_holds_exactly_the_published_streams(spark, tmpdirs):
    """The registry equals the sink's stream ids: streams whose only rows
    are invalid JSON or transform-NULL are never registered."""
    rows = [
        ("/ok/a", '{"v": 1}'), ("/ok/b", '{"v": 2}'), ("/ok/a", '{"v": 3}'),
        ("/bad/json", '{"v": 4'), ("/bad/json", '{"v": 5} tail'),
        ("/bad/null", '{"w": 6}'),  # no `v`: the transform is NULL
        ("/ok/b", '{"v": 7}'),
    ]
    spec = PipelineSpec(transform="v * 10", sink_dir=tmpdirs["sink"],
                        dead_letter_dir=tmpdirs["dead"], log_interval=3600)
    bridge = StreamingBridge(spec)
    bridge.run_batch(_bridge_input(spark, rows))
    out = spark.read.parquet(tmpdirs["sink"])
    sink_ids = {r["stream_id"] for r in
                out.select("stream_id").distinct().collect()}
    assert sink_ids == {"//ok/a", "//ok/b"}
    assert bridge.registry.stream_ids == sorted(sink_ids)
    assert spark.read.parquet(tmpdirs["dead"]).count() == 3
    assert bridge.logger.report() == (4, 1)


def test_compiled_transform_sees_last_duplicate_key(spark, tmpdirs):
    """JSON.parse keeps the LAST value of a duplicate key (and accepts
    the payload); so do the bridge's validity check and the compiled
    transform, flat and nested."""
    rows = [("/t", '{"v": 1, "v": 2, "o": {"k": "x", "k": "y"}}')]
    spec = PipelineSpec(transform='{"v2": v * 2, "k": o.k}',
                        sink_dir=tmpdirs["sink"], log_interval=3600)
    bridge = StreamingBridge(spec)
    bridge.run_batch(_bridge_input(spark, rows))
    assert bridge.transform_backend == "compiled"
    out = spark.read.parquet(tmpdirs["sink"]).collect()
    assert [json.loads(r["message"]) for r in out] == [{"v2": 4, "k": "y"}]


def test_interpreted_fallback(spark, tmpdirs):
    """A transform the compiler can't express must still run (interpreter
    UDF) and agree with direct interpretation. ($merge/$map used to be the
    uncompilable example until the compiler learned them, ``**.k`` paths
    in r6, bare ``**`` in r7 — a RECURSIVE lambda stays interpreter-only:
    a self-referencing closure has no bounded Column expansion.)"""
    expr = ("($d := function($x){ $x <= 0 ? 0 : $d($x - 1) + 1 };"
            " {'a': value, 'n': $count(**) + $d(0),"
            " 'b': $map([1,2], function($x){ $x * 2 })})")
    spec = PipelineSpec(
        transform=expr, sink_dir=tmpdirs["sink"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    assert bridge.transform_backend == "interpreted"
    out = spark.read.parquet(tmpdirs["sink"])
    msg = json.loads(out.limit(1).collect()[0]["message"])
    assert set(msg) == {"a", "n", "b"} and msg["b"] == [2, 4]
    assert msg["n"] >= 5  # every leaf of the parsed message


def test_transform_failure_counts_as_error(spark, tmpdirs):
    """A valid-JSON row whose transform evaluates to NULL (the engine's
    representation of a per-row transform failure) must be excluded from
    the sink, dead-lettered, and error-counted — the reference never
    publishes nor success-counts a record whose transform.evaluate throws
    (bin/mqtt-streamr.js:158,196-198)."""
    # rows with user_id % 3 == 0 hit the undefined branch -> NULL message
    expr = "user_id % 3 = 0 ? nonexistent : value * 2"
    spec = PipelineSpec(
        transform=expr, sink_dir=tmpdirs["sink"],
        dead_letter_dir=tmpdirs["dead"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    assert bridge.transform_backend == "compiled"

    ev = spark.read.parquet(EVENTS)
    n_fail = ev.filter(F.col("user_id") % 3 == 0).count()
    n_ok = ev.count() - n_fail
    assert n_fail > 0 and n_ok > 0, "fixture must exercise both paths"

    out = spark.read.parquet(tmpdirs["sink"])
    assert out.count() == n_ok
    assert out.filter(F.col("message").isNull()).count() == 0
    dead = spark.read.parquet(tmpdirs["dead"])
    assert dead.count() == n_fail
    success, errors = bridge.logger.report()
    assert (success, errors) == (n_ok, n_fail)


def test_stats_stream(spark, tmpdirs):
    spec = PipelineSpec(dry_run=True, log_interval=3600)
    bridge = StreamingBridge(spec)
    planned = bridge.plan(
        replay_source(spark, EVENTS, streaming=False, malformed_every=5)
    )
    stats = (
        planned.withColumn(
            "outcome",
            F.when(F.col("is_valid"), "success").otherwise("error"),
        )
        .groupBy("outcome")
        .count()
    )
    rows = {r["outcome"]: r["count"] for r in stats.collect()}
    total = spark.read.parquet(EVENTS).count()
    assert rows["success"] + rows["error"] == total
    assert rows["error"] == spark.read.parquet(EVENTS).filter(
        F.col("event_id") % 5 == 0
    ).count()


def test_stream_registry_lru_eviction():
    """max_size bounds the memo map LRU-style; recreation after eviction
    is idempotent (the memo is a cache, not a ledger)."""
    from mqtt_streamr_spark.streaming.pipeline import StreamRegistry

    reg = StreamRegistry(max_size=2)
    reg.get_or_create("/a")
    reg.get_or_create("/b")
    reg.get_or_create("/a")          # touch /a -> /b is now LRU head
    reg.get_or_create("/c")          # evicts /b
    assert reg.stream_ids == ["/a", "/c"]
    meta = reg.get_or_create("/b")   # safe recreation
    assert meta["id"] == "/b"
    assert len(reg.stream_ids) == 2


def test_stream_registry_ttl_eviction():
    from mqtt_streamr_spark.streaming.pipeline import StreamRegistry

    t = [0.0]
    reg = StreamRegistry(ttl_seconds=10.0, clock=lambda: t[0])
    reg.get_or_create("/a")
    t[0] = 5.0
    reg.get_or_create("/b")
    t[0] = 12.0                      # /a idle 12s > ttl, /b idle 7s
    reg.get_or_create("/c")
    assert reg.stream_ids == ["/b", "/c"]


def test_stream_registry_default_unbounded():
    """Default keeps reference parity (bin:10): nothing ever evicted."""
    from mqtt_streamr_spark.streaming.pipeline import StreamRegistry

    reg = StreamRegistry()
    for i in range(500):
        reg.get_or_create(f"/s{i}")
    assert len(reg.stream_ids) == 500
    import pytest

    with pytest.raises(ValueError, match="max_size"):
        StreamRegistry(max_size=0)


def test_interval_logger_reset():
    logs = []
    logger = IntervalLogger(log_interval=0.05, sink=logs.append)
    logger.success_increment(3)
    logger.error_increment()
    assert logger.report() == (3, 1)
    # counters reset after report (Logger.js:19-20)
    assert logger.report() == (0, 0)


def test_data_timeout_watchdog():
    import time

    fired = []
    wd = DataTimeoutWatchdog(0.05, lambda: fired.append(1))
    wd.reset()
    time.sleep(0.2)
    wd.stop()
    assert len(fired) >= 1  # fired and re-armed (DataTimeoutUtil.js:8-13)

    wd2 = DataTimeoutWatchdog(0, lambda: fired.append(2))
    wd2.reset()  # timeout=0 disables (bin:57-61)
    assert wd2._timer is None


def test_watermark_drops_late_data(spark):
    """Event-time windows with a 10-minute watermark (SURVEY.md §2.7 engine
    extension): a row arriving after the watermark passed its window is
    dropped; append mode emits each window exactly once, finalized."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_file(dirpath, name, rows):
        t = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "v": pa.array([r[1] for r in rows], pa.float64()),
        })
        pq.write_table(t, os.path.join(dirpath, name))

    ts = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    with tempfile.TemporaryDirectory() as d:
        src, sink, ckpt = (os.path.join(d, x) for x in ("src", "out", "ck"))
        os.makedirs(src)
        write_file(src, "f1.parquet", [(ts(10, 0), 1.0), (ts(10, 5), 2.0),
                                       (ts(11, 0), 4.0)])
        agg = (
            spark.readStream.schema("ts timestamp, v double").parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
            .select(F.col("window.start").alias("w"), "n", "total")
        )
        q = (
            agg.writeStream.outputMode("append").format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()  # batch 1: watermark still at epoch
            # late row: 10:02 belongs to the 10:00 window, which the
            # watermark (10:50 after batch 1) has already closed -> dropped
            write_file(src, "f2.parquet", [(ts(10, 2), 100.0),
                                           (ts(12, 0), 8.0)])
            q.processAllAvailable()
            # advance watermark past 11:10 to finalize the 11:00 window
            write_file(src, "f3.parquet", [(ts(13, 0), 16.0)])
            q.processAllAvailable()
        finally:
            q.stop()
        out = {r["w"].hour: (r["n"], r["total"])
               for r in spark.read.parquet(sink).collect()}
        # 10:00 window: the two on-time rows only — late 100.0 excluded
        assert out[10] == (2, 3.0)
        assert out[11] == (1, 4.0)
        # 12:00 finalizes too (watermark 12:50 after f3; the engine runs a
        # finalization batch once the watermark passes a window's end)
        assert out.get(12) == (1, 8.0)
        assert 13 not in out  # watermark has not passed 13:10


def test_metrics_listener(spark, tmpdirs):
    """StreamingQueryListener metrics: per-batch rows + durations captured
    engine-side; totals match the records actually streamed."""
    import time as _time

    from mqtt_streamr_spark.streaming.stats import MetricsListener

    lst = MetricsListener.attach(spark)
    try:
        spec = PipelineSpec(sink_dir=tmpdirs["sink"], log_interval=3600)
        bridge = StreamingBridge(spec)
        q = bridge.start(replay_source(spark, EVENTS, streaming=True),
                         checkpoint_dir=tmpdirs["ckpt"])
        q.awaitTermination()
        # listener events are delivered async on the engine's bus
        deadline = _time.time() + 30
        while _time.time() < deadline:
            s = lst.summary()
            if s.get("total_rows"):
                break
            _time.sleep(0.25)
        s = lst.summary()
        assert s["n_batches"] >= 1
        n_events = spark.read.parquet(EVENTS).count()
        assert s["total_rows"] == n_events
        assert s["batch_ms_p50"] > 0 and s["batch_ms_p99"] >= s["batch_ms_p50"]
    finally:
        lst.detach()


def test_sink_idempotent_on_batch_replay(spark, tmpdirs):
    """Replaying the same micro-batch overwrites its batch_id partition
    instead of appending duplicates — effectively-once sink semantics."""
    spec = PipelineSpec(sink_dir=tmpdirs["sink"], log_interval=3600)
    bridge = StreamingBridge(spec)
    src = replay_source(spark, EVENTS, streaming=False)
    bridge.run_batch(src)
    total = spark.read.parquet(EVENTS).count()
    assert spark.read.parquet(tmpdirs["sink"]).count() == total
    bridge.run_batch(src)  # same batch id -> replay, not duplication
    assert spark.read.parquet(tmpdirs["sink"]).count() == total


def test_typed_schema_pipeline(spark, tmpdirs):
    """Declaring message_schema switches the transform to the typed fast
    path; routed output matches the variant path exactly."""
    schema = ("event_id long, user_id long, event_type string, "
              "value double, props string")
    spec = PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s/$topic", topic_levels=1,
        sink_dir=tmpdirs["sink"], log_interval=3600,
        message_schema=schema,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    assert bridge.transform_backend == "typed"
    out = spark.read.parquet(tmpdirs["sink"])
    assert out.count() == spark.read.parquet(EVENTS).count()
    msg = json.loads(out.limit(1).collect()[0]["message"])
    assert set(msg) == {"u", "kind", "v2"} and msg["kind"].isupper()


def test_inferred_schema_reaches_typed_backend(spark, tmpdirs):
    """infer_message_schema bridges schemaless ingestion to the TYPED
    compile path without a hand-written schema: the inferred DDL drives
    the typed backend and the routed output matches the variant-path
    (schema-free) run row for row."""
    from mqtt_streamr_spark.streaming.transform import infer_message_schema

    src = replay_source(spark, EVENTS, streaming=False)
    ddl = infer_message_schema(src)
    assert "event_type string" in ddl and "user_id bigint" in ddl

    out_cols = {}
    for tag, schema in (("variant", None), ("typed", ddl)):
        spec = PipelineSpec(
            transform=TRANSFORM, stream_id_template="/s/$topic",
            topic_levels=1, sink_dir=tmpdirs["sink"] + "_" + tag,
            log_interval=3600, message_schema=schema,
        )
        bridge = StreamingBridge(spec)
        bridge.run_batch(src)
        if schema is not None:
            assert bridge.transform_backend == "typed"
        rows = {
            r["stream_id"]: r["n"]
            for r in spark.read.parquet(spec.sink_dir)
            .groupBy("stream_id").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        out_cols[tag] = rows
    assert out_cols["typed"] == out_cols["variant"]

    # message_schema="infer": the bridge self-infers on the first batch,
    # pins the DDL, and lands on the typed backend
    spec = PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s/$topic",
        topic_levels=1, sink_dir=tmpdirs["sink"] + "_auto",
        log_interval=3600, message_schema="infer",
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(src)
    assert bridge.transform_backend == "typed"
    auto_rows = {
        r["stream_id"]: r["n"]
        for r in spark.read.parquet(spec.sink_dir)
        .groupBy("stream_id").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert auto_rows == out_cols["variant"]
    # a STREAMING source cannot run the sampling action — clear error
    import pytest as _pytest

    streaming_src = replay_source(spark, EVENTS, streaming=True)
    with _pytest.raises(ValueError, match="batch source"):
        StreamingBridge(spec).plan(streaming_src)

    # malformed payloads in the sample must not poison the inference
    corrupted = src.withColumn(
        "payload",
        F.when(
            F.get_json_object("payload", "$.event_id").cast("long") % 7
            == 0,
            F.expr("substring(payload, 1, length(payload) - 1)"),
        ).otherwise(F.col("payload")),
    )
    ddl2 = infer_message_schema(corrupted)
    assert "event_type string" in ddl2 and "_corrupt" not in ddl2


def test_topics_subscription_filter(spark, tmpdirs):
    """PipelineSpec.topics applies MQTT wildcard subscription semantics to
    replay/batch sources (the broker does this for the real MQTT source —
    bin:130-138)."""
    spec = PipelineSpec(
        topics=["/events/click/#", "/events/view/#"],
        sink_dir=tmpdirs["sink"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    out = spark.read.parquet(tmpdirs["sink"])
    ev = spark.read.parquet(EVENTS)
    expected = ev.filter(F.col("event_type").isin("click", "view")).count()
    assert out.count() == expected
    success, _ = bridge.logger.report()
    assert success == expected


def test_replay_payload_carries_parseable_event_time(spark):
    # event-time streaming ops (watermarks, dropDuplicatesWithinWatermark,
    # stream-stream joins) silently degenerate if the payload loses its
    # event clock: a NULL event-time column makes every watermark vacuous.
    # Pin that $.ts exists, parses, and matches the source to the µs.
    from mqtt_streamr_spark.streaming.pipeline import replay_source
    from mqtt_streamr_spark.tables import load

    src = replay_source(
        spark, "/root/testdata/sf0.001/events.parquet", streaming=False
    )
    parsed = src.select(
        F.get_json_object("payload", "$.event_id").cast("long")
        .alias("event_id"),
        F.get_json_object("payload", "$.ts").cast("timestamp")
        .alias("ev_ts"),
    )
    assert parsed.filter(F.col("ev_ts").isNull()).count() == 0
    truth = load(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "ts"
    )
    mismatch = (
        parsed.join(truth, "event_id")
        .filter(F.col("ev_ts") != F.col("ts"))
        .count()
    )
    assert mismatch == 0


def test_checkpoint_restart_resumes_exactly_once(spark, tmpdirs):
    """Kill-and-restart contract: a query stopped after its first
    micro-batch resumes from the CHECKPOINT (not from scratch) and the
    final sink holds each input row exactly once — the recovery
    guarantee that makes a 100 TB streaming job survive executor and
    driver loss."""
    d = tempfile.mkdtemp(prefix="ckpt_restart_")
    try:
        src = replay_source(spark, EVENTS, streaming=True, split_files=2)
        parsed = src.select(
            F.get_json_object("payload", "$.event_id").cast("long")
            .alias("event_id"),
        )
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")

        def write_batch(bdf, bid: int) -> None:
            # idempotent per-batch-dir overwrite (the sink contract the
            # bridge uses): a replayed batch rewrites, never duplicates
            bdf.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={bid}"))

        def crashing(bdf, bid: int) -> None:
            if bid >= 1:
                raise RuntimeError("simulated crash before batch commit")
            write_batch(bdf, bid)

        # leg 1: batch 0 commits, batch 1 crashes BEFORE writing
        q1 = (
            parsed.writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="simulated crash"):
            q1.awaitTermination()
        n_first = spark.read.parquet(out).count()
        total = spark.read.parquet(EVENTS).count()
        assert 0 < n_first < total  # genuinely partial

        # leg 2: same checkpoint — resumes AT the failed batch, not from
        # scratch, and drains the rest
        q2 = (
            parsed.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        final = spark.read.parquet(out)
        assert final.count() == total  # nothing lost, nothing duplicated
        assert final.select("event_id").distinct().count() == total
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_descendants_depth_overflow_loud_with_interpreter_escape(
    spark, tmpdirs
):
    """The compiled variant-path ``**`` is depth-bounded: a payload nested
    deeper than VARIANT_DESC_DEPTH must fail the pipeline LOUDLY (never
    silently truncate the descendant walk), and the documented escape
    hatch — transform_mode='interpreted' — must process the same message
    correctly end-to-end."""
    import pytest

    from mqtt_streamr_spark.jsonata.compiler import VARIANT_DESC_DEPTH

    deep = {"k": 2}
    for _ in range(VARIANT_DESC_DEPTH + 2):
        deep = {"a": deep}
    src = spark.createDataFrame(
        [("/t/deep", json.dumps({"value": 1, "nest": deep}))],
        "topic string, payload string",
    )
    expr = "{'s': $sum(**.k)}"

    spec = PipelineSpec(
        # transform_mode='compiled': auto now routes schemaless ** to the
        # interpreter (r8 cost model) — this test targets the COMPILED
        # path's loud depth bound specifically
        transform=expr, transform_mode="compiled",
        sink_dir=tmpdirs["sink"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    with pytest.raises(Exception, match="exceeded max nesting"):
        bridge.run_batch(src)
    assert bridge.transform_backend == "compiled"

    spec2 = PipelineSpec(
        transform=expr, transform_mode="interpreted",
        sink_dir=tmpdirs["sink"] + "_interp", log_interval=3600,
    )
    bridge2 = StreamingBridge(spec2)
    bridge2.run_batch(src)
    assert bridge2.transform_backend == "interpreted"
    out = spark.read.parquet(tmpdirs["sink"] + "_interp")
    assert json.loads(out.collect()[0]["message"]) == {"s": 2}


def test_stream_state_partitions_pin_and_restore(spark):
    """The state-partition pin (streaming/tuning.py) sets the measured
    local default while held, restores the session value after (also on
    error), and honors the SPARK_GRAFT_STREAM_SHUFFLE override."""
    import os

    import pytest as _pytest

    from mqtt_streamr_spark.streaming.tuning import (
        default_state_partitions,
        stream_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == "8"  # local-mode measured default
    assert spark.conf.get(key) == before
    with stream_state_partitions(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before
    # restores even when the body raises
    with _pytest.raises(RuntimeError):
        with stream_state_partitions(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    # env override wins over the local default
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "12"
    try:
        assert default_state_partitions(spark) == 12
    finally:
        del os.environ["SPARK_GRAFT_STREAM_SHUFFLE"]


def test_auto_backend_cost_model(spark):
    """mode='auto' picks the measured-fastest correct backend PER
    CONSTRUCT CLASS (r8 cost model, transform.py docstring): typed when
    a schema is given; the Arrow interpreter for schemaless descendants
    (`**` measures ~33 us/row interpreted vs ~50-100 compiled-variant);
    the compiled variant path for everything else schemaless.
    mode='compiled' bypasses the model so plan-assertion queries can
    still prove the compiled descendants machinery."""
    import pyspark.sql.functions as FN

    from mqtt_streamr_spark.streaming.transform import transform_to_json

    payload = FN.col("payload")
    # schemaless + descendants -> interpreter (the cost-model pin)
    _, b = transform_to_json('{"k": $sum(**.k)}', payload)
    assert b == "interpreted", b
    _, b = transform_to_json("$count(**)", payload)
    assert b == "interpreted", b
    # schema given + descendants -> typed (fastest backend wins)
    _, b = transform_to_json(
        '{"k": $sum(**.k)}', payload,
        schema="event_type string, props struct<k: double>",
    )
    assert b == "typed", b
    # schemaless, no descendants -> compiled variant path
    _, b = transform_to_json('{"u": user_id, "v2": value * 2}', payload)
    assert b == "compiled", b
    # explicit mode='compiled' bypasses the model even for descendants
    _, b = transform_to_json("$count(**)", payload, mode="compiled")
    assert b == "compiled", b
    # recursion stays interpreter-only regardless of the model
    _, b = transform_to_json(
        "($d := function($x){ $x <= 0 ? 0 : $d($x - 1) + 1 }; $d(3))",
        payload,
    )
    assert b == "interpreted", b


def test_metrics_listener_state_store_block(spark, tmpdirs):
    """A STATEFUL streaming query must surface per-batch state-store
    commit/memory/partition metrics in the listener summary (r8 —
    what makes the state regime attributable per bench run), with the
    partition count matching the r8 pin."""
    import time as _time

    import pyspark.sql.functions as FN

    from mqtt_streamr_spark.streaming.stats import MetricsListener
    from mqtt_streamr_spark.streaming.tuning import (
        default_state_partitions,
        stream_state_partitions,
    )

    lst = MetricsListener.attach(spark)
    try:
        src = replay_source(spark, EVENTS, streaming=True, split_files=2)
        deduped = (
            src.select(FN.get_json_object("payload", "$.event_id")
                       .alias("event_id"))
            .dropDuplicates(["event_id"])
        )
        with stream_state_partitions(spark):
            q = (
                deduped.writeStream.format("noop")
                .option("checkpointLocation", tmpdirs["ckpt"])
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        deadline = _time.time() + 30
        while _time.time() < deadline:
            s = lst.summary()
            if s.get("state_store"):
                break
            _time.sleep(0.25)
        ss = lst.summary().get("state_store")
        assert ss, "stateful query produced no state_store block"
        assert ss["n_stateful_commits"] >= 1
        assert ss["mem_bytes_max"] > 0
        assert ss["n_partitions_max"] == default_state_partitions(spark)
    finally:
        lst.detach()


def test_transform_operator_through_bridge(spark, tmpdirs):
    """The reference's --transform path accepts ANY jsonata 1.6.4
    expression (bin/mqtt-streamr.js:48-51,108) — including the transform
    operator, partial application, and signature-checked lambdas (r8).
    All three must flow through the bridge's auto backend (interpreter
    fallback) and produce the documented shapes end-to-end."""
    expr = ("($mag := $abs(?);"
            " $tag := function($s)<s:s>{ $lowercase($s) };"
            " $ ~> |$|{'kind': $tag(event_type),"
            "          'dist': $mag(value - 10)},"
            "      ['props', 'ts', 'user_id', 'event_id']|)")
    spec = PipelineSpec(
        transform=expr, sink_dir=tmpdirs["sink"], log_interval=3600,
    )
    bridge = StreamingBridge(spec)
    bridge.run_batch(replay_source(spark, EVENTS, streaming=False))
    assert bridge.transform_backend == "interpreted"
    out = spark.read.parquet(tmpdirs["sink"])
    msg = json.loads(out.limit(1).collect()[0]["message"])
    # merged keys present, deleted keys gone, untouched keys survive
    assert {"kind", "dist", "event_type", "value"} <= set(msg)
    assert not ({"props", "ts", "user_id", "event_id"} & set(msg))
    assert msg["kind"] == msg["event_type"].lower()
    assert msg["dist"] == abs(msg["value"] - 10)
    success, errors = bridge.logger.report()
    assert errors == 0 and success == out.count()


def test_strict_parse_rejects_trailing_content(spark, tmpdirs):
    """JSON.parse parity (bin:149-155): a payload with content after the
    first JSON value is INVALID in the reference; Spark's try_parse_json
    alone would silently truncate it to the first value. strict_parse
    (default on) must dead-letter it; strict_parse=False keeps the raw
    Spark leniency."""
    rows = [
        ("t", '{"a":1}'),          # valid
        ("t", '{"a":1} {"b":2}'),  # trailing second value -> invalid
        ("t", "0\n0"),             # trailing scalar -> invalid
        ("t", "not json"),         # structurally invalid
        ("t", " [1, 2] \n"),       # whitespace-padded valid
    ]
    df = spark.createDataFrame(rows, "topic string, payload string")

    spec = PipelineSpec(stream_id_template="/s/$topic", dry_run=True)
    out = StreamingBridge(spec).plan(df).select("payload", "is_valid")
    got = {r["payload"]: r["is_valid"] for r in out.collect()}
    assert got == {
        '{"a":1}': True, '{"a":1} {"b":2}': False, "0\n0": False,
        "not json": False, " [1, 2] \n": True,
    }

    lenient = PipelineSpec(stream_id_template="/s/$topic", dry_run=True,
                           strict_parse=False)
    out2 = StreamingBridge(lenient).plan(df).select("payload", "is_valid")
    got2 = {r["payload"]: r["is_valid"] for r in out2.collect()}
    # the raw Spark behavior: first-value-wins leniency
    assert got2['{"a":1} {"b":2}'] is True and got2["0\n0"] is True


def test_metrics_listener_window_summary_attribution():
    """mark()/window_summary() — the r9 per-query state-store attribution
    bench.py records (VERDICT r8 Missing #3): windows partition the
    progress log, stateful ops aggregate within a window only, and an
    empty window reports None. Pure-Python over synthesized progress
    entries (the listener's own capture path is covered by the live
    tests above)."""
    from mqtt_streamr_spark.streaming.stats import MetricsListener

    lst = MetricsListener()
    assert lst.mark() == 0
    assert lst.window_summary(0) is None  # nothing recorded yet
    lst.progress.append({"batch_id": 0, "num_input_rows": 100,
                         "rows_per_sec": 1.0, "batch_ms": 10})
    m1 = lst.mark()
    lst.progress.append({
        "batch_id": 1, "num_input_rows": 50, "rows_per_sec": 1.0,
        "batch_ms": 20,
        "state": [{"op": "dedup", "rows_total": 5, "mem_bytes": 1024,
                   "commit_ms": 7, "n_instances": 1, "n_partitions": 8}],
    })
    lst.progress.append({
        "batch_id": 2, "num_input_rows": 25, "rows_per_sec": 1.0,
        "batch_ms": 5,
        "state": [{"op": "dedup", "rows_total": 9, "mem_bytes": 4096,
                   "commit_ms": 3, "n_instances": 1, "n_partitions": 8}],
    })
    m2 = lst.mark()
    # first window: the stateless batch only
    w0 = lst.window_summary(0, m1)
    assert w0 == {"n_batches": 1, "input_rows": 100}
    # second window: both stateful batches aggregate
    w1 = lst.window_summary(m1, m2)
    assert w1["n_batches"] == 2 and w1["input_rows"] == 75
    assert w1["state_commit_ms"] == 10
    assert w1["state_mem_bytes_max"] == 4096
    assert w1["state_rows_max"] == 9
    # trailing empty window
    assert lst.window_summary(m2) is None


def test_metrics_listener_run_window_summary_late_events():
    """run_window_summary() — the r11 attribution fix (VERDICT r10
    Missing #2): a drain's final progress event often arrives on the
    async listener bus AFTER the caller's end-cursor, so the plain
    [start, end) slice clipped it onto the next query's window
    (streaming_running_stats reported 1 of its 2 batches). Grouping by
    run_id — all events of every run whose FIRST event lands in the
    window — recovers the late batch."""
    from mqtt_streamr_spark.streaming.stats import MetricsListener

    lst = MetricsListener()
    m0 = lst.mark()
    # query A (run "ra"): batch 0 arrives in-window...
    lst.progress.append({"batch_id": 0, "run_id": "ra",
                         "num_input_rows": 100_000,
                         "rows_per_sec": 1.0, "batch_ms": 10})
    m1 = lst.mark()  # bench marks query B here
    # ...but A's batch 1 is delivered late, after B's mark
    lst.progress.append({
        "batch_id": 1, "run_id": "ra", "num_input_rows": 100_000,
        "rows_per_sec": 1.0, "batch_ms": 20,
        "state": [{"op": "stats", "rows_total": 5, "mem_bytes": 1024,
                   "commit_ms": 7, "n_instances": 1, "n_partitions": 8}],
    })
    lst.progress.append({"batch_id": 0, "run_id": "rb",
                         "num_input_rows": 50,
                         "rows_per_sec": 1.0, "batch_ms": 5})
    m2 = lst.mark()

    # the OLD cursor slice clips A to one batch and misattributes the
    # late one to B — exactly the r10 artifact
    assert lst.window_summary(m0, m1)["n_batches"] == 1

    # run-grouped: A gets BOTH batches (and its state ops); B only its own
    wa = lst.run_window_summary(m0, m1)
    assert wa["n_batches"] == 2 and wa["input_rows"] == 200_000
    assert wa["n_runs"] == 1 and wa["state_commit_ms"] == 7
    wb = lst.run_window_summary(m1, m2)
    assert wb["n_batches"] == 1 and wb["input_rows"] == 50
    # empty window stays None
    assert lst.run_window_summary(m2) is None


def test_transform_typed_struct_matches_json_roundtrip(spark):
    """transform_typed_struct (r12 struct-direct surface) must produce
    EXACTLY what the JSON round-trip produced — same values, same NULLs,
    for every registered *_typed query's (expr, source, schema,
    out_schema) — on real corpus rows. This pins the optimization's
    bit-identity claim: deleting to_json -> from_json -> ... -> from_json
    may not change a single output row."""
    import pyspark.sql.functions as FN
    from pyspark.sql.functions import col as C

    from mqtt_streamr_spark.streaming.transform import (
        transform_to_json,
        transform_typed_struct,
    )
    from mqtt_streamr_spark.tables import load

    sf = "/root/testdata/sf0.01"
    ev = load(spark, "events", sf)
    v = FN.coalesce(C("value").cast("double"), FN.lit(0.0))
    items = FN.array(
        FN.struct(FN.lit("a").alias("name"), C("value").alias("v")),
        FN.struct(FN.lit("b").alias("name"), (C("value") * 2).alias("v")),
    ).alias("items")
    cases = [
        # (expr, source struct, message schema, output schema)
        ("$ ~> |$|{'kind': $uppercase(event_type),"
         "         'dist': $abs(value - 100),"
         "         'high': value > 100}, 'props'|",
         FN.struct("event_id", "event_type", "value", "props"),
         "event_id bigint, event_type string, value double, props string",
         "kind string, dist double, high boolean, props string"),
        ("$ ~> |props|{'k2': k * 2, 'big': k > 50}, 'k'|"
         "  ~> |$|{'vt': value * 3}|",
         FN.struct("event_id", "event_type", "value",
                   FN.from_json("props", "k double").alias("props")),
         "event_id bigint, event_type string, value double, "
         "props struct<k: double>",
         "props struct<k2: double, big: boolean>, vt double"),
        ("$ ~> |items[v > 50]|{'big': true, 'v2': v * 2}, 'name'|"
         "  ~> |$|{'vt': value * 3}|",
         FN.struct("event_id", "event_type", "value", items),
         "event_id bigint, event_type string, value double, "
         "items array<struct<name: string, v: double>>",
         "event_type string, vt double, items array<struct<name: string, "
         "v: double, big: boolean, v2: double>>"),
        ("($i := -1; $t := 50;"
         " $ ~> |items[$i]|{'last': true}|"
         "   ~> |items[v > $t]|{'v2': v * 2}|)",
         FN.struct("event_id", "event_type", "value", items),
         "event_id bigint, event_type string, value double, "
         "items array<struct<name: string, v: double>>",
         "event_type string, items array<struct<name: string, v: double, "
         "last: boolean, v2: double>>"),
        ("items{c: $sum(p)}",
         FN.struct(FN.array(
             FN.struct(FN.lit("lo").alias("c"), v.alias("p")),
             FN.struct(FN.lit("hi").alias("c"), (v * 2).alias("p")),
             FN.struct(FN.when(C("user_id") % 2 == 0, "lo")
                       .otherwise("hi").alias("c"),
                       FN.lit(1.0).alias("p")),
         ).alias("items")),
         "items array<struct<c: string, p: double>>",
         "lo double, hi double"),
        ('{"kind": event_type, "k": $sum(**.k)}',
         FN.struct("event_type",
                   FN.from_json("props", "k double").alias("props")),
         "event_type string, props struct<k: double>",
         "kind string, k double"),
    ]
    for expr, src, schema, out_schema in cases:
        old_json, b_old = transform_to_json(
            expr, FN.to_json(src), schema=schema)
        assert b_old == "typed", (expr, b_old)
        new_col, b_new = transform_typed_struct(
            expr, src, schema=schema, out_schema=out_schema)
        assert b_new == "typed", (expr, b_new)
        both = ev.select(
            FN.from_json(old_json, out_schema).alias("old"),
            new_col.alias("new"),
        )
        n_total = both.count()
        n_equal = both.filter(
            C("old").eqNullSafe(C("new"))).count()
        assert n_equal == n_total, (
            expr,
            both.filter(~C("old").eqNullSafe(C("new"))).head(3),
        )
