"""Topic-based routing operators — Column-native ports of the reference's
stream-id derivation (semantic parity, Spark execution).

Reference semantics (cited, not copied):
- ``truncateTopic(topic, levels)`` — /root/reference/bin/mqtt-streamr.js:99-106:
  if ``levels > 0``, keep the first ``levels+1`` '/'-separated parts (so a
  leading '/' makes part[0] the empty string: '/a/b' @ levels=1 -> '/a');
  otherwise return the topic unchanged.
- stream-id template — bin/mqtt-streamr.js:166: JS ``String.replace`` of the
  pattern '$topic', which substitutes the FIRST occurrence only; default
  template '/$topic' (bin:37).
- fixed stream bypass — bin/mqtt-streamr.js:161-163: ``--stream-id`` routes
  every record to one constant stream.

All of these are pure Column expressions: they constant-fold when the inputs
are literals (single-stream mode folds to ``lit``), run inside whole-stage
codegen, and never touch Python at execution time — at 100 TB the routing
column costs a string op per row, no UDF, no shuffle.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column


def truncate_topic(topic: Column | str, levels: int | None) -> Column:
    """Keep the first ``levels+1`` '/'-separated parts of ``topic``.

    Parity cases (from the reference, bin:99-106):
    - '/a/b/c' @ levels=1 -> '/a'   (leading '/' yields empty part[0])
    - 'a/b/c'  @ levels=1 -> 'a/b'
    - any topic @ levels=0 or None -> unchanged
    """
    topic = F.col(topic) if isinstance(topic, str) else topic
    if not levels or levels <= 0:
        return topic
    # everything before the (levels+1)-th '/' (the whole topic when it has
    # fewer): JS split/slice/join, without building a per-row array
    return F.substring_index(topic, "/", levels + 1)


def stream_id_from_template(
    topic: Column | str,
    template: str = "/$topic",
    topic_levels: int | None = None,
    fixed_stream_id: str | None = None,
) -> Column:
    """Derive the routing key column.

    - ``fixed_stream_id`` set -> constant column (bin:161-163 bypass).
    - template without '$topic' -> constant column (single-stream mode,
      README.md:51-52) — Catalyst sees a literal, zero per-row work.
    - otherwise substitute the FIRST '$topic' occurrence only (JS
      ``String.replace`` with a string pattern, bin:166); later occurrences
      stay literal.
    """
    if fixed_stream_id is not None:
        return F.lit(fixed_stream_id)
    idx = template.find("$topic")
    if idx < 0:
        return F.lit(template)
    prefix, suffix = template[:idx], template[idx + len("$topic"):]
    truncated = truncate_topic(topic, topic_levels)
    return F.concat(F.lit(prefix), truncated, F.lit(suffix))


def mqtt_wildcard_to_regex(pattern: str) -> str:
    """Translate an MQTT topic filter to a Java/RE2-safe regex string.

    The reference delegates wildcard matching to the broker
    (bin/mqtt-streamr.js:130-138 just subscribes); for file-replay testing the
    engine needs the same matching client-side. MQTT-3.1.1 rules:
    '+' matches exactly one level (which may be empty), '#' matches the
    remaining levels including the parent level itself, and must be last.
    """
    parts = pattern.split("/")
    out: list[str] = []
    for i, part in enumerate(parts):
        if part == "#":
            if i != len(parts) - 1:
                raise ValueError(f"'#' must be the last level: {pattern!r}")
            if out:
                # 'a/#' matches 'a' and 'a/...': make the preceding '/' optional
                return "^" + "/".join(out) + "(/.*)?$"
            return "^.*$"
        if part == "+":
            out.append("[^/]*")
        elif "+" in part or "#" in part:
            raise ValueError(f"wildcard must occupy a whole level: {pattern!r}")
        else:
            out.append(re.escape(part))
    return "^" + "/".join(out) + "$"


def topic_matches(topic: Column | str, pattern: str) -> Column:
    """Boolean Column: does ``topic`` match the MQTT filter ``pattern``."""
    topic = F.col(topic) if isinstance(topic, str) else topic
    return topic.rlike(mqtt_wildcard_to_regex(pattern))


def synthetic_event_topic(event_type: Column | str,
                          user_id: Column | str) -> Column:
    """Topic synthesized from the events table —
    ``/events/<event_type>/u<user_id % 10>`` (the replay-source contract,
    FIXTURES.md §1.1). The ONE definition shared by the batch event
    queries and the streaming replay source, so the two can never route on
    different topic shapes."""
    et = F.col(event_type) if isinstance(event_type, str) else event_type
    uid = F.col(user_id) if isinstance(user_id, str) else user_id
    return F.concat(
        F.lit("/events/"), et, F.lit("/u"), (uid % 10).cast("string")
    )
