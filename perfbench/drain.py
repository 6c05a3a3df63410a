"""``bridge_drain``: closed-loop drains of a seeded backlog through
``replay_source`` -> ``StreamingBridge`` -> partitioned parquet sink plus
dead-letter, two replay files per micro-batch."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import (
    CallTimer,
    ProgressLog,
    log,
    median,
    start_spark,
    stream_layers,
)
from wire import TRANSFORM

FILES = 4             # replay files per drain
# files per micro-batch: a file is one task. A batch of one file ran on one
# core (local[1] drained as fast as local[4]) and its rate differed most
# between processes; a batch of four waits for its slowest task, which any
# core the host takes away slows; two leave cores free to move to
FILES_PER_TRIGGER = 2
ROWS_PER_FILE = 25_000
MALFORMED_EVERY = 50  # replay_source truncates event_id % 50 == 0: 2%
SAMPLE = 200          # sink messages compared with the Python reference
# drains of the warm-up: drain times keep falling over the first four
# drains of a process as the JIT compiles the hot paths
WARM_DRAINS = 4


def write_backlog(run) -> str:
    d = run.path("backlog")
    os.makedirs(d)
    rng = np.random.default_rng([run.seed, 3])
    for k in range(FILES):
        pq.write_table(gen.events(rng, ROWS_PER_FILE, k * ROWS_PER_FILE),
                       os.path.join(d, f"part-{k:03d}.parquet"))
    return d


def _bridge(run, tag: str):
    from mqtt_streamr_spark.streaming.pipeline import (
        PipelineSpec,
        StreamingBridge,
    )
    from mqtt_streamr_spark.streaming.stats import IntervalLogger

    spec = PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s$topic", topic_levels=2,
        dead_letter_dir=run.path(tag, "dead"), sink_dir=run.path(tag, "sink"),
        log_interval=3600.0)
    return StreamingBridge(spec, logger=IntervalLogger(3600.0, sink=log))


def drain_once(spark, run, backlog: str, tag: str):
    """One closed-loop drain of the whole backlog: plan, start, wait for
    termination. Returns the bridge, the query and the wall seconds."""
    from mqtt_streamr_spark.streaming.pipeline import replay_source

    t = time.perf_counter()
    bridge = _bridge(run, tag)
    src = replay_source(spark, backlog, streaming=True,
                        malformed_every=MALFORMED_EVERY,
                        max_files_per_trigger=FILES_PER_TRIGGER)
    q = bridge.start(src, checkpoint_dir=run.path(tag, "ckpt"))
    q.awaitTermination()
    return bridge, q, time.perf_counter() - t


def check_drain(run, spark, backlog: str, tag: str, bridge,
                sample: bool) -> int:
    """Checks one drain's outputs (with ``sample``, also a seeded sample
    of sink messages against the plain-Python transform); returns the
    number of valid rows missing from its sink."""
    import pyspark.sql.functions as F

    n_total = FILES * ROWS_PER_FILE
    n_bad = len(range(0, n_total, MALFORMED_EVERY))
    sink = spark.read.parquet(run.path(tag, "sink"))
    n_sink = sink.count()
    n_dead = spark.read.parquet(run.path(tag, "dead")).count()
    run.check(f"{tag}: sink rows equal valid input",
              n_sink == n_total - n_bad, (n_sink, n_total - n_bad))
    run.check(f"{tag}: dead letters equal malformed", n_dead == n_bad,
              (n_dead, n_bad))
    run.check(f"{tag}: transform backend is compiled",
              bridge.transform_backend == "compiled", bridge.transform_backend)
    missing = max(0, n_total - n_bad - n_sink)
    if not sample:
        return missing
    rng = np.random.default_rng([run.seed, 4])
    ids = [int(i) for i in rng.choice(n_total, SAMPLE, replace=False)
           if i % MALFORMED_EVERY]
    got = {}
    for row in (sink.withColumn("id", F.get_json_object("message", "$.id")
                                .cast("long"))
                .filter(F.col("id").isin(ids))
                .select("id", "stream_id", "message").collect()):
        got.setdefault(row["id"], []).append(
            (row["stream_id"], json.loads(row["message"])))
    rows = pq.read_table(backlog,
                         filters=[("event_id", "in", ids)]).to_pylist()
    by_id = {r["event_id"]: r for r in rows}
    wrong = 0
    for i in ids:
        r = by_id[i]
        want = [(f"/s/events/{r['event_type']}",
                 gen.transform_reference(json.loads(gen.event_payload(r))))]
        wrong += got.get(i) != want
    run.check(f"{tag}: sampled sink messages equal the reference",
              wrong == 0, f"{wrong} of {len(ids)} differ")
    return missing


def layer_prefixes(run, spark, backlog: str) -> None:
    """Per-row self time of each bridge layer: successive prefixes of the
    drain plan on the same static input, each written to ``noop``; a
    layer's self time is the difference between consecutive prefixes."""
    from mqtt_streamr_spark.streaming.pipeline import replay_source

    src = replay_source(spark, backlog, streaming=False,
                        malformed_every=MALFORMED_EVERY).cache()
    n = src.count()
    bridge = _bridge(run, "layers")
    planned = bridge.plan(src)
    prefixes = {
        "scan": lambda: src.write.format("noop").mode("overwrite").save(),
        "parse": lambda: planned.select("topic", "payload", "is_valid")
        .write.format("noop").mode("overwrite").save(),
        "transform": lambda: planned.select(
            "topic", "payload", "is_valid", "message")
        .write.format("noop").mode("overwrite").save(),
        "route": lambda: planned.write.format("noop").mode("overwrite")
        .save(),
        "sink": lambda: bridge.run_batch(src),
    }
    prev = 0.0
    for layer, fn in prefixes.items():
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        cur = median(ts)
        run.layer[f"{layer}.us_per_row"] = (cur - prev) / n * 1e6
        prev = cur
    src.unpersist()


def local1_throughput(run, spark, backlog: str) -> float:
    """The same drain on ``local[1]``: the single-threaded baseline. Runs
    last: it replaces the run's session."""
    spark.stop()
    one = start_spark(run, master="local[1]", shuffle_partitions=1)
    drain_once(one, run, backlog, "local1-warm")
    _, _, wall = drain_once(one, run, backlog, "local1")
    return FILES * ROWS_PER_FILE / wall


def run_drain(run) -> None:
    import mqtt_streamr_spark.streaming.pipeline as pipeline

    t = time.time()
    backlog = write_backlog(run)
    run.t_start += time.time() - t  # input generation is not set-up
    spark = start_spark(run)
    progress = ProgressLog(spark)
    for k in range(WARM_DRAINS):
        drain_once(spark, run, backlog, f"warm{k}")
    run.e2e["setup_s"] = time.time() - run.t_start
    log(f"set-up done: {run.e2e['setup_s']:.1f} s")
    timers = [CallTimer(pipeline, "transform_to_json")] if run.trace else []
    drains, walls = [], []
    # whole drains while that brings the measured time closer to
    # ``run.seconds`` (at least one)
    while not walls or sum(walls) + median(walls) / 2 < run.seconds:
        tag = f"d{len(walls)}"
        bridge, q, wall = drain_once(spark, run, backlog, tag)
        walls.append(wall)
        drains.append((tag, bridge, q))
    for t in timers:
        t.restore()
    n_total = FILES * ROWS_PER_FILE
    run.e2e["throughput_per_s"] = n_total * len(walls) / sum(walls)
    run.info["drain_s"] = walls
    run.attempted = (n_total - len(range(0, n_total, MALFORMED_EVERY))) \
        * len(drains)
    run.failed = sum(
        check_drain(run, spark, backlog, tag, bridge, i == len(drains) - 1)
        for i, (tag, bridge, _) in enumerate(drains))
    if run.trace:
        time.sleep(0.5)  # let the listener bus deliver the last progress
        events = [e for _, _, q in drains for e in progress.of(str(q.runId))]
        stream_layers(run, spark, [e for e in events if e["numInputRows"]],
                      events)
        run.layer["transform.build_ms"] = (
            median(c[0] for c in timers[0].calls) * 1000.0)
        src = pipeline.replay_source(
            spark, backlog, streaming=True, malformed_every=MALFORMED_EVERY,
            max_files_per_trigger=FILES_PER_TRIGGER)
        bridge = _bridge(run, "plan")
        t = time.perf_counter()
        bridge.plan(src)
        run.layer["bridge.plan_ms"] = (time.perf_counter() - t) * 1000.0
        counts = [b.logger.report() for _, b, _ in drains]
        run.layer["logger.success"] = sum(c[0] for c in counts)
        run.layer["logger.errors"] = sum(c[1] for c in counts)
        layer_prefixes(run, spark, backlog)
        run.layer["drain.local1_throughput_per_s"] = (
            local1_throughput(run, spark, backlog))
