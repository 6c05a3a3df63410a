"""``wire_closed``: MiniBroker -> ``mqtt`` source -> ``StreamingBridge`` ->
``publish_url`` back to the broker, driven by ``loadgen.py`` from its own
process as a closed loop with a fixed number of messages in flight."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from common import (
    BENCH_DIR,
    CallTimer,
    ProgressLog,
    log,
    median,
    parse_ts,
    pct,
    start_spark,
    stream_layers,
)
from registry import registry_layers

# batch durations settle within ~15 s of the first message
WARMUP_S = 15.0
# the window is two run lengths: at --seconds 10 it holds ~25 cycles of
# ~0.8 s, and over MIN_CYCLES even when a cycle takes 1.5 s
WINDOW_RUNS = 2
TAIL_S = 1.0  # the window's last batches run under load, not the drain tail
MIN_CYCLES = 10
TRANSFORM = ('{"id": event_id, "u": user_id, '
             '"kind": $uppercase(event_type), "v2": value * 2}')


def run_wire(run) -> None:
    out = run.path("receipts.npz")
    window = WINDOW_RUNS * run.seconds
    gen = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"),
         "--seed", str(run.seed),
         "--seconds", str(WARMUP_S + window + TAIL_S), "--out", out],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        _run(run, gen, out, window)
    finally:
        try:
            gen.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
            gen.stdin.close()
        except OSError:
            pass  # already exited
        try:
            gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()


def _send(gen, cmd: str) -> None:
    gen.stdin.write(json.dumps({"cmd": cmd}) + "\n")
    gen.stdin.flush()


def _recv(gen, key: str):
    line = gen.stdout.readline()
    if not line:
        raise RuntimeError("load generator exited early")
    return json.loads(line)[key]


def _run(run, gen, out, window: float) -> None:
    import mqtt_streamr_spark.streaming.pipeline as pipeline
    import mqtt_streamr_spark.streaming.publish as publish
    from mqtt_streamr_spark.sources.mqtt import register_mqtt_source
    from mqtt_streamr_spark.streaming.stats import IntervalLogger

    # the generator builds its seeded messages while the session starts
    spark = start_spark(run)
    url = _recv(gen, "url")
    register_mqtt_source(spark)
    progress = ProgressLog(spark)
    spec = pipeline.PipelineSpec(
        transform=TRANSFORM, stream_id_template="/s$topic", topic_levels=2,
        dead_letter_dir=run.path("dead"), publish_url=url,
        log_interval=3600.0)
    logger = IntervalLogger(3600.0, sink=log)
    bridge = pipeline.StreamingBridge(spec, logger=logger)
    timers = []
    if run.trace:
        timers = [CallTimer(pipeline, "transform_to_json"),
                  CallTimer(publish, "publish_partitioned")]
        plan = CallTimer(bridge, "plan")
        timers.append(plan)
    source = (spark.readStream.format("mqtt").option("url", url)
              .option("topics", "/events/#").load())
    q = bridge.start(source, checkpoint_dir=run.path("ckpt"),
                     trigger_available_now=False)
    rid = str(q.runId)
    try:
        # start the loop once the first (empty) batch has run: the source
        # has subscribed and the cold first batch is behind us
        deadline = time.time() + 120
        while not progress.of(rid) and time.time() < deadline:
            time.sleep(0.05)
        _send(gen, "go")
        t_meas = _recv(gen, "t0") + WARMUP_S
        log("loop started")
        summary = _recv(gen, "summary")
        t_end = time.time()
        # every published message must reach a batch before the dead-letter
        # and counter checks
        deadline = time.time() + 30
        while time.time() < deadline and sum(
                e["numInputRows"] for e in progress.of(rid)) \
                < summary["published"]:
            time.sleep(0.1)
    finally:
        q.stop()
        for t in timers:
            t.restore()
    run.e2e["setup_s"] = t_meas - run.t_start

    r = np.load(out)
    sent, valid = r["sent"], r["valid"]
    # a lost message counts as delivered no earlier than the generator's
    # final wait ended
    recv_all = np.where(np.isnan(r["recv_at"]), t_end, r["recv_at"])
    recv_at = recv_all[valid]
    batches = [e for e in progress.of(rid) if e["numInputRows"]]
    starts = np.array([parse_ts(e["timestamp"]) for e in batches])
    # whole cycles only: receipts belong to the last batch that started
    # before they arrived, and the window runs from the first batch that
    # starts in it to the last one
    in_win = np.flatnonzero((starts >= t_meas) & (starts < t_meas + window))
    cycles = len(in_win) - 1
    run.check(f"window holds >= {MIN_CYCLES} batch cycles",
              cycles >= MIN_CYCLES, cycles)
    if cycles < 1:
        raise RuntimeError(f"no whole batch cycle in the window: {cycles}")
    a, b = in_win[0], in_win[-1]
    bidx = np.searchsorted(starts, recv_at, side="right") - 1
    n_msgs = int(((bidx >= a) & (bidx < b)).sum())
    run.e2e["throughput_per_s"] = n_msgs / (starts[b] - starts[a])
    run.info["window"] = {"cycles": cycles, "messages": n_msgs,
                          "seconds": float(starts[b] - starts[a])}
    # latency at this concurrency, for the traced run: messages of one
    # batch share their fate, so the samples are batches
    win = valid & (sent >= starts[a]) & (sent < starts[b])
    lat_ms = (recv_all[win] - sent[win]) * 1000.0
    lat_b = np.searchsorted(starts, recv_all[win], side="right") - 1
    for qq in (50, 90):
        v = pct(lat_ms, qq)
        run.info[f"latency_p{qq}"] = {
            "value_ms": v, "messages": len(lat_ms),
            "batches_beyond": len(set(lat_b[lat_ms > v].tolist()))}
        run.layer[f"wire.latency_ms.p{qq}"] = v

    # outputs: every valid message exactly once on its expected topic with
    # the expected transform output; every malformed one dead-lettered
    n_dead = spark.read.parquet(run.path("dead")).count()
    n_ok, n_err = logger.report()
    run.attempted = summary["valid"]
    run.failed = summary["missing"] + summary["duplicated"]
    run.check("delivered exactly once",
              summary["delivered_once"] == summary["valid"], summary)
    run.check("outputs equal the reference transform",
              summary["wrong"] == 0, summary)
    run.check("dead letters equal malformed", n_dead == summary["malformed"],
              (n_dead, summary["malformed"]))
    run.check("logger success equals deliveries",
              n_ok == summary["delivered_once"] and n_err == 0, (n_ok, n_err))
    run.check("transform backend is compiled",
              bridge.transform_backend == "compiled", bridge.transform_backend)
    run.check("the generator did not run out of messages",
              not summary["exhausted"], summary)
    run.info["gen"] = summary
    run.info["batch_ms"] = [e["durationMs"]["triggerExecution"]
                            for e in batches]

    if run.trace:
        stream_layers(run, spark, batches[a:b], progress.of(rid))
        tf, pub = timers[0], timers[1]
        run.layer["bridge.plan_ms"] = plan.calls[0][0] * 1000.0
        run.layer["transform.build_ms"] = tf.calls[0][0] * 1000.0
        run.layer["publish.call_ms.p50"] = (
            median(c[0] * 1000.0 for c in pub.calls))
        run.layer["publish.rows_ok"] = (
            sum(c[1][0] for c in pub.calls))
        run.layer["publish.rows_err"] = (
            sum(c[1][1] for c in pub.calls))
        run.layer["logger.success"] = n_ok
        run.layer["logger.errors"] = n_err
        registry_layers(run, spark, progress)
    run.layer["gen.stall_max_ms"] = summary["gen_stall_max_ms"]
    run.layer["gen.cpu_s"] = summary["gen_cpu_s"]
