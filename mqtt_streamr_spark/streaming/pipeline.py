"""The streaming bridge: the reference's whole runtime re-expressed as one
Structured Streaming pipeline.

Reference dataflow (bin/mqtt-streamr.js:144-200, SURVEY.md §3.2):
    message -> JSON.parse (drop invalid) -> jsonata transform -> derive
    stream id -> memoized stream creation -> publish -> success/error count.

Engine dataflow (one micro-batch):
    source df [topic, payload, arrival_ts]
      -> try_parse_json + invalid-drop (dead-letter optional)
      -> compiled/interpreted JSONata transform
      -> stream_id Column (truncation + template / fixed id)
      -> foreachBatch: partitioned write (or publish), whose observed
         metrics carry the counts and the routed keys for the memoized
         per-key stream init
      -> IntervalLogger success/error counts.

Scale notes: the hot path is pure Column work (codegen). The sink write is
``partitionBy(stream_id)`` — Spark's dynamic partition write fans out to any
number of streams in one job, instead of the reference's one-awaited-publish
-per-message. The per-key creation memo is a driver-side dict exactly like
the reference's ``streamCreateFutures`` (bin:10) — O(distinct streams), not
O(messages); a TTL would bound it for unbounded key spaces (documented
upgrade over the reference, which never evicts either).
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import streaming as S

from mqtt_streamr_spark.operators.routing import stream_id_from_template
from mqtt_streamr_spark.streaming.stats import IntervalLogger
from mqtt_streamr_spark.streaming.transform import transform_to_json


@dataclass
class PipelineSpec:
    """CLI-options analog (bin/mqtt-streamr.js:12-68). Three required options
    there (bin:67); here the source/sink take their place. Defaults mirror
    the reference where one exists."""

    topics: list[str] = field(default_factory=list)
    transform: str | None = None                      # bin:48-51
    transform_mode: str = "auto"
    # optional declared message schema (DDL) -> typed fast path (engine
    # extension; the reference is schemaless-only). The sentinel "infer"
    # derives the DDL from the first planned batch's payloads
    # (transform.infer_message_schema) and then pins it for the rest of
    # the pipeline's life — sample once, declared contract thereafter.
    message_schema: str | None = None
    stream_id: str | None = None                      # bin:40-42 fixed bypass
    stream_id_template: str = "/$topic"               # bin:36-39 default
    topic_levels: int | None = None                   # bin:43-47
    dry_run: bool = False                             # bin:62-66
    verbose: bool = False                             # bin:26-30
    log_interval: float = 60.0                        # bin:52-56
    public: bool = False                              # bin:31-35 ACL analog
    dead_letter_dir: str | None = None                # engine upgrade
    sink_format: str = "parquet"
    sink_dir: str | None = None
    # network egress (bin:191-198 parity): publish each routed message
    # to this MQTT broker (stream_id -> topic, message -> payload)
    # INSTEAD of the file sink; success/error counters then reflect
    # publish outcomes, exactly as the reference's do. QoS-0
    # at-most-once (see streaming/publish.py for the contract).
    publish_url: str | None = None
    # registry bounds (engine upgrade — SURVEY §7 hard-part 6): the
    # reference's memo map (bin:10) grows unbounded with routing-key
    # cardinality; None/None keeps that parity, set either to bound
    # driver memory at high-cardinality routing
    registry_max_size: int | None = None
    registry_ttl_seconds: float | None = None
    # per-batch stream auto-create (bin:168-184 parity). True collects
    # each micro-batch's distinct routed keys in the write's (or
    # publish's) observed metrics — no Spark job of its own, a
    # keys-cardinality set carried back with the action — and runs the
    # memoized registry init for them. Set False when streams are
    # provisioned externally (the sink itself needs no per-key init —
    # partitioned writes create directories on demand), which drops the
    # key set and the init (r7, SURVEY hard-part 6 follow-up).
    autocreate_streams: bool = True
    # strict JSON completeness (r8, reference parity): JSON.parse
    # (bin:149-155) rejects payloads with content after the first JSON
    # value; Spark's try_parse_json silently truncates them instead.
    # True (default) adds the JVM-side completeness scan
    # (operators.parsing.strict_json_complete) so such payloads are
    # invalid-dropped like the reference does; False keeps the raw
    # Spark leniency (first value wins, tail ignored).
    strict_parse: bool = True

    def validate(self) -> None:
        if not self.dry_run and self.sink_dir is None \
                and self.publish_url is None:
            raise ValueError(
                "sink_dir or publish_url is required unless dry_run")
        if self.stream_id is None and "$topic" not in self.stream_id_template \
                and self.topic_levels:
            # harmless, but signals misconfiguration: truncation configured
            # yet the template ignores the topic entirely
            pass


class StreamRegistry:
    """Memoized per-stream sink initialization — the engine analog of
    ``streamCreateFutures`` + ``getOrCreateStream`` (bin:10,168-184):
    the first record routed to a stream id triggers creation exactly once,
    concurrent batches await the same in-flight creation.

    The reference's memo map is unbounded and never evicted (bin:10) —
    fine for its topic cardinalities, a driver-memory leak at 100× routing
    keys. ``max_size`` (LRU) and ``ttl_seconds`` (idle expiry) bound it;
    both default off for reference parity. Eviction is safe because
    creation is IDEMPOTENT (a re-routed record just re-runs the
    create-if-absent init), so the memo is a cache, not a ledger."""

    def __init__(self, public_default: bool = False,
                 max_size: int | None = None,
                 ttl_seconds: float | None = None,
                 clock=None):
        import time
        from collections import OrderedDict

        if max_size is not None and max_size < 1:
            raise ValueError(f"max_size must be >= 1, got {max_size}")
        self._lock = threading.Lock()
        self._streams: "OrderedDict[str, dict]" = OrderedDict()
        self._last_used: dict[str, float] = {}
        self._clock = clock or time.monotonic
        self.max_size = max_size
        self.ttl_seconds = ttl_seconds
        self.public_default = public_default

    def _evict_locked(self, now: float) -> None:
        if self.ttl_seconds is not None:
            dead = [k for k, t in self._last_used.items()
                    if now - t > self.ttl_seconds]
            for k in dead:
                del self._streams[k]
                del self._last_used[k]
        if self.max_size is not None:
            while len(self._streams) > self.max_size:
                k, _ = self._streams.popitem(last=False)  # LRU head
                del self._last_used[k]

    def get_or_create(self, stream_id: str) -> dict:
        now = self._clock()
        with self._lock:
            meta = self._streams.get(stream_id)
            if meta is None:
                meta = {"id": stream_id, "public_read": False}
                self._streams[stream_id] = meta
            else:
                self._streams.move_to_end(stream_id)  # mark recently used
            self._last_used[stream_id] = now
            self._evict_locked(now)
        # ACL grant outside the lock, idempotent (bin:173-181 semantics)
        if self.public_default and not meta["public_read"]:
            meta["public_read"] = True
        return meta

    @property
    def stream_ids(self) -> list[str]:
        with self._lock:
            return sorted(self._streams)


class StreamingBridge:
    """Build + run the pipeline. Source contract: a streaming DataFrame with
    ``topic STRING, payload STRING`` (arrival_ts added if absent)."""

    def __init__(self, spec: PipelineSpec, logger: IntervalLogger | None = None):
        spec.validate()
        self.spec = spec
        self.logger = logger or IntervalLogger(spec.log_interval)
        self.registry = StreamRegistry(
            public_default=spec.public,
            max_size=spec.registry_max_size,
            ttl_seconds=spec.registry_ttl_seconds,
        )
        self.transform_backend: str | None = None

    # --- plan construction (all Column work; no Python in the hot path) ---

    def plan(self, source: DataFrame) -> DataFrame:
        df = source
        if "arrival_ts" not in df.columns:
            df = df.withColumn("arrival_ts", F.current_timestamp())

        # subscription filter (bin:130-138): the MQTT source already gets
        # broker-side matching; for replay/batch sources the same MQTT
        # wildcard semantics apply client-side
        if self.spec.topics:
            from mqtt_streamr_spark.operators.routing import topic_matches

            match = topic_matches(F.col("topic"), self.spec.topics[0])
            for pat in self.spec.topics[1:]:
                match = match | topic_matches(F.col("topic"), pat)
            df = df.filter(match)

        # parse + invalid-drop (bin:149-155): record both streams.
        # try_parse_json validates the leading value's structure; the
        # strict completeness scan rejects trailing content, which
        # try_parse_json silently truncates (JSON.parse parity, r8).
        # The compiled transform reads this same variant, so each payload
        # is parsed once: referenced twice, `parsed` stays in its own
        # Project instead of being inlined into both uses
        df = df.withColumn("parsed", F.try_parse_json("payload"))
        valid = F.col("parsed").isNotNull()
        if self.spec.strict_parse:
            from mqtt_streamr_spark.operators.parsing import (
                strict_json_complete,
            )

            valid = valid & strict_json_complete(F.col("payload"))
        df = df.withColumn("is_valid", valid)

        # transform (bin:157-159)
        if self.spec.transform:
            schema = self.spec.message_schema
            if schema == "infer":
                from mqtt_streamr_spark.streaming.transform import (
                    infer_message_schema,
                )

                if getattr(self, "_inferred_schema", None) is None:
                    if df.isStreaming:
                        # a streaming plan cannot run the sampling action;
                        # infer from a bounded batch read first and pass
                        # the resulting DDL instead
                        raise ValueError(
                            "message_schema='infer' needs a batch source "
                            "to sample; run infer_message_schema over a "
                            "batch/replay read and pass the DDL"
                        )
                    # infer once from this (first-planned) batch, then
                    # pin — later runs reuse the same contract even if
                    # their data would infer differently
                    self._inferred_schema = infer_message_schema(df)
                schema = self._inferred_schema
            out_col, backend = transform_to_json(
                self.spec.transform, F.col("payload"),
                mode=self.spec.transform_mode,
                schema=schema,
                parsed_col=F.col("parsed"),
            )
            self.transform_backend = backend
            df = df.withColumn("message", out_col)
        else:
            df = df.withColumn("message", F.col("payload"))

        # routing (bin:161-166)
        df = df.withColumn(
            "stream_id",
            stream_id_from_template(
                F.col("topic"),
                self.spec.stream_id_template,
                topic_levels=self.spec.topic_levels,
                fixed_stream_id=self.spec.stream_id,
            ),
        )
        return df.select("topic", "payload", "arrival_ts", "is_valid",
                         "stream_id", "message")

    # --- sink -------------------------------------------------------------

    def _write_batch(self, batch: DataFrame, batch_id: int) -> None:
        spec = self.spec
        batch = batch.persist()  # reused by count + write + dead-letter
        try:
            self._write_batch_inner(batch, batch_id)
        finally:
            batch.unpersist()

    def _write_batch_inner(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        spec = self.spec
        # a valid-JSON row whose transform evaluated to NULL is treated as a
        # FAILED transform: error-counted, never published, dead-lettered.
        # Two divergences from the reference, both deliberate:
        #   1. In the reference, transform.evaluate (bin:158) sits OUTSIDE
        #      the publish try/catch (bin:189-198), so a throwing transform
        #      crashes the async handler UNCOUNTED. Counting it as an error
        #      is the strictly-more-observable behavior.
        #   2. NULL conflates "transform threw" with "legitimately evaluated
        #      to undefined" (e.g. `payload.optional_field` on a row lacking
        #      the field). The reference would publish `undefined` as-is;
        #      we cannot represent undefined in a sink column, so both are
        #      dropped+counted here. Users who need undefined-passthrough
        #      should have the transform emit an explicit sentinel object.
        has_tf = spec.transform is not None
        ok_cond = F.col("is_valid") & (
            F.col("message").isNotNull() if has_tf else F.lit(True)
        )
        tf_failed_cond = F.col("is_valid") & F.col("message").isNull()

        # success/transform-error counts and the routed keys ride the
        # WRITE (or publish) job via observe() — no count or distinct-keys
        # job of their own; the sample/dead-letter actions below
        # deliberately use the UN-observed plan so a limit() can't
        # populate the observation with partial counts
        collect_keys = (not spec.dry_run and spec.autocreate_streams
                        and spec.stream_id is None)
        metrics = [
            F.sum(ok_cond.cast("long")).alias("n_ok"),
            F.sum(tf_failed_cond.cast("long")).alias("n_tf_err"),
        ]
        if collect_keys:
            # collect_set skips the NULLs of rows that are not published
            metrics.append(F.collect_set(
                F.when(ok_cond, F.col("stream_id"))).alias("keys"))
        obs = Observation()
        observed = batch.observe(obs, *metrics)
        valid = observed.filter(ok_cond)

        # invalid-JSON drop is counted nowhere in the reference (only
        # console-logged, bin:153); dead-letter is our upgrade, and failed
        # transforms dead-letter alongside: every unpublished row, in one
        # scan of the batch (is_valid is never NULL, so ~ok_cond is exact)
        if spec.dead_letter_dir:
            (batch.filter(~ok_cond).select("topic", "payload", "arrival_ts")
             .write.mode("append").format(spec.sink_format)
             .save(spec.dead_letter_dir))

        if spec.verbose:
            sample = batch.filter(ok_cond).select("topic", "stream_id")
            for row in sample.limit(20).collect():
                prefix = "DRY-RUN: " if spec.dry_run else ""
                print(f"{prefix}{row['topic']} -> {row['stream_id']}")

        try:
            if not spec.dry_run:
                if spec.autocreate_streams and spec.stream_id is not None:
                    # fixed stream: the one key is known statically
                    self.registry.get_or_create(spec.stream_id)
                if spec.publish_url is not None:
                    # network egress (bin:191-198): publish each routed
                    # message; counters reflect PUBLISH outcomes, exactly
                    # as the reference's streamr.publish().then/.catch do
                    from mqtt_streamr_spark.streaming.publish import (
                        publish_partitioned,
                    )

                    n_ok, n_pub_err = publish_partitioned(
                        valid.select("stream_id", "message"),
                        spec.publish_url,
                    )
                    got = obs.get  # populated by the publish action
                    n_tf = int(got["n_tf_err"] or 0) + n_pub_err
                else:
                    # idempotent per-batch write: each micro-batch owns the
                    # batch_id=N partition and OVERWRITES it, so a batch
                    # replayed after a crash lands on the same data instead
                    # of appending duplicates -> effectively-once end-to-end
                    # (upgrade over the reference's at-most-once, bin:132).
                    # r12 negative result: a REBALANCE-on-stream_id hint
                    # before this write (guide §6 small-files pattern; the
                    # dynamic-partition writer emits tasks x streams files
                    # per batch) measured NEUTRAL-to-worse on the replay
                    # drain (warm addBatch 4.5 -> 5.5 s) — local file
                    # commits are cheap and the added shuffle is not.
                    # Reverted; at cluster scale with object-store commits
                    # the hint belongs here, gated on a sink-format knob.
                    (valid.select("stream_id", "message", "arrival_ts")
                     .write.mode("overwrite").partitionBy("stream_id")
                     .format(spec.sink_format)
                     .save(os.path.join(spec.sink_dir,
                                        f"batch_id={batch_id}")))
                    got = obs.get  # populated by the write job
                    n_ok = int(got["n_ok"] or 0)
                    n_tf = int(got["n_tf_err"] or 0)
                if collect_keys:
                    # memoized per-key init (bin:168-184). It runs after
                    # the action whose metrics carry the keys; the memo
                    # has no external side effect, so the order is not
                    # observable
                    for key in got["keys"]:
                        self.registry.get_or_create(key)
            else:
                # dry run: no write job to observe; both counts in ONE
                # aggregate action instead of two separate count() jobs
                row = batch.agg(
                    F.sum(ok_cond.cast("long")).alias("n_ok"),
                    F.sum(tf_failed_cond.cast("long")).alias("n_tf"),
                ).collect()[0]
                n_ok = int(row["n_ok"] or 0)
                n_tf = int(row["n_tf"] or 0) if has_tf else 0
            self.logger.success_increment(n_ok)
            if n_tf:
                self.logger.error_increment(n_tf)
        except Exception:
            # whole batch counts as errors (bin:196-198 analog). NOTE: a
            # foreachBatch RETRY of this batch also counts its rows again —
            # counters reflect attempts (as the reference's do); the
            # idempotent per-batch sink keeps the DATA effectively-once.
            # batch is persisted, so this count mostly reads cache; its own
            # failure must not mask the original exception
            try:
                n_attempt = batch.filter(ok_cond).count()
            except Exception:
                n_attempt = 0
            self.logger.error_increment(n_attempt)
            raise

    # --- run --------------------------------------------------------------

    def start(self, source: DataFrame, *, checkpoint_dir: str,
              trigger_available_now: bool = True) -> S.StreamingQuery:
        planned = self.plan(source)
        writer = (
            planned.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_batch(self, source: DataFrame) -> None:
        """Run the same plan in batch mode (replay testing / backfill)."""
        self._write_batch(self.plan(source), -1)

    # --- distributed stats (engine extension; Logger parity is driver-side)

    def stats_stream(self, planned: DataFrame, interval: str = "60 seconds"
                     ) -> DataFrame:
        """Event/processing-time tumbling success-vs-error counts as a
        streaming aggregation (update mode), the distributed twin of
        IntervalLogger."""
        return (
            planned.withColumn(
                "outcome",
                F.when(F.col("is_valid"), "success").otherwise("error"),
            )
            .withWatermark("arrival_ts", "0 seconds")
            .groupBy(F.window("arrival_ts", interval), F.col("outcome"))
            .count()
        )


def replay_source(spark: SparkSession, events_path: str,
                  streaming: bool = True,
                  malformed_every: int | None = None,
                  split_files: int | None = None,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Deterministic test double for the MQTT source (SURVEY.md §5.3):
    replays the events table as (topic, payload) messages with
    ``topic = /events/<event_type>/u<user_id%10>``. ``malformed_every``
    corrupts every Nth payload to exercise the invalid-drop path.

    ``split_files=N`` slices the replay into N parquet files (by
    ``event_id % N``, deterministic) and caps the reader at one file per
    trigger, so a run produces N genuine micro-batches — without it, a
    single-file availableNow drain is ONE batch and "cross-batch" state
    never actually crosses a batch. ``max_files_per_trigger`` applies the
    same reader cap to a caller-prepared DIRECTORY of replay files (the
    file-stream source takes them oldest-mtime-first, one batch each —
    how the sentinel-sealed append drains sequence their batches)."""
    # the events parquet has shipped as TIMESTAMP(NANOS) in some data
    # generations; nanosAsLong lets the scan read that layout (as int64)
    # and is inert for µs layouts. ts never reaches the payload, so no
    # conversion is needed here (see tables.load for the dtype branch).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if streaming:
        # the file source needs a directory of its own; link the single
        # parquet into a scratch dir (testdata itself is read-only)
        if events_path.endswith(".parquet"):
            # deterministic scratch dir so a checkpointed query can restart
            # against the same recorded source path
            import glob
            import hashlib
            import shutil as _sh
            import tempfile

            tag = hashlib.sha1(
                f"{events_path}|{split_files or 1}".encode()
            ).hexdigest()[:12]
            d = os.path.join(tempfile.gettempdir(), f"replay_{tag}")
            os.makedirs(d, exist_ok=True)
            if not split_files:
                link = os.path.join(d, "events.parquet")
                if not os.path.exists(link):
                    os.symlink(events_path, link)
            elif len(glob.glob(os.path.join(d, "slice_*.parquet"))) \
                    != split_files:
                full = spark.read.parquet(events_path)
                for i in range(split_files):
                    tmp_i = os.path.join(d, f"_build_{i}")
                    (full.filter(F.pmod("event_id", F.lit(split_files)) == i)
                     .coalesce(1).write.mode("overwrite").parquet(tmp_i))
                    part = glob.glob(os.path.join(tmp_i, "part-*.parquet"))[0]
                    os.replace(part, os.path.join(d, f"slice_{i}.parquet"))
                    _sh.rmtree(tmp_i, ignore_errors=True)
            src_dir = d
        else:
            src_dir = events_path
        schema = spark.read.parquet(events_path).schema
        reader = spark.readStream.schema(schema)
        if split_files:
            reader = reader.option("maxFilesPerTrigger", 1)
        elif max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger)
        base = reader.parquet(src_dir)
    else:
        base = spark.read.parquet(events_path)
    from mqtt_streamr_spark.operators.routing import synthetic_event_topic
    from mqtt_streamr_spark.tables import normalize_events_ts

    df = (
        normalize_events_ts(base)
        .withColumn(
            "topic", synthetic_event_topic("event_type", "user_id")
        )
        .withColumn(
            "payload",
            F.to_json(F.struct(
                "event_id", "user_id", "event_type", "value", "props",
                # event time rides in the payload (µs-exact, castable back
                # to timestamp) so event-time streaming ops — watermarks,
                # dropDuplicatesWithinWatermark, stream-stream interval
                # joins — have a real event clock to run on
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("ts"),
            )),
        )
    )
    if malformed_every:
        df = df.withColumn(
            "payload",
            F.when(
                F.col("event_id") % malformed_every == 0,
                F.expr("substring(payload, 1, length(payload) - 1)"),
            ).otherwise(F.col("payload")),
        )
    return df.select("topic", "payload")
