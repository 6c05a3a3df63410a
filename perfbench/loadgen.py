"""Closed-loop MQTT load generator for the ``wire_closed`` workload.

Runs in its own process so that the broker double's threads and the
publishing loop never compete with the bridge's Python process for its
interpreter lock. It holds the ``MiniBroker``, one publishing connection
and one subscribing connection, and talks to its parent over stdin/stdout
with one JSON object per line:

    -> {"url": "mqtt://127.0.0.1:<port>"}           broker is listening
    <- {"cmd": "go"}                                 bridge is starting
    -> {"t0": <wall time the loop started>}
       ... closed loop for --seconds, then waits for every valid message ...
    -> {"summary": {...}}                            results written
    <- {"cmd": "quit"}                               broker closes

The loop keeps ``IN_FLIGHT`` valid messages published but not yet received
back: each receipt lets the next message go out. Malformed messages never
come back, so they are sent between valid ones without taking a slot. The
system under test sets the pace, so the receipt rate is its throughput at
that concurrency. Usage:

    python3 perfbench/loadgen.py --seed 1 --seconds 30 --out results.npz
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from mqtt_streamr_spark.sources.minibroker import (  # noqa: E402
    MiniBroker,
    SocketMqttClient,
)

SOURCE_TOPICS = "/events/#"
SINK_TOPICS = "/s/#"
IN_FLIGHT = 250         # valid messages sent and not yet received back
MAX_RATE = 3000.0       # messages built per second of loop: the supply cap
MALFORMED_SHARE = 0.02  # payloads truncated by one character
TAIL_TIMEOUT_S = 30.0   # wait for the last valid messages after the loop


def _send(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _recv() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("parent closed the control pipe")
    return json.loads(line)


def build_messages(seed: int, n: int
                   ) -> tuple[list[str], list[str], np.ndarray, list]:
    """Topics, payloads, malformed mask and expected outputs for ``n``
    seeded ``events`` rows; a malformed payload is its JSON truncated by
    one character."""
    rng = np.random.default_rng([seed, 2])
    rows = gen.events(rng, n).to_pylist()
    bad = rng.random(n) < MALFORMED_SHARE
    topics, payloads, expected = [], [], []
    for row, is_bad in zip(rows, bad):
        p = gen.event_payload(row)
        topics.append(f"/events/{row['event_type']}/u{row['user_id'] % 10}")
        payloads.append(p[:-1] if is_bad else p)
        expected.append(None if is_bad else (
            f"/s/events/{row['event_type']}",
            gen.transform_reference(json.loads(p))))
    return topics, payloads, bad, expected


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    n = int(MAX_RATE * args.seconds)
    topics, payloads, bad, expected = build_messages(args.seed, n)
    broker = MiniBroker()
    sub = pub = None
    try:
        sub = SocketMqttClient(broker.url, topics=[SINK_TOPICS])
        pub = SocketMqttClient(broker.url, topics=[])
        _send({"url": broker.url, "topics": SOURCE_TOPICS})
        if _recv().get("cmd") != "go":
            raise SystemExit("expected go")
        # QoS 0 drops messages published before the bridge's source has
        # subscribed: wait for its connection (ours are the first two)
        deadline = time.time() + 60
        while broker.n_connects < 3 and time.time() < deadline:
            time.sleep(0.01)
        time.sleep(0.3)  # the source subscribes right after connecting
        cpu0 = time.process_time()
        t0 = time.time()
        _send({"t0": t0})
        t_stop = t0 + args.seconds
        sent = np.full(n, np.nan)
        receipts: list[tuple[str, str, float]] = []
        i = n_sent_valid = 0
        # the longest pass of the loop: how long a freed slot could wait
        # for the generator
        t_prev, stall = t0, 0.0
        while time.time() < t_stop and i < n:
            now = time.time()
            stall, t_prev = max(stall, now - t_prev), now
            receipts.extend((t, p, r.timestamp()) for t, p, r in sub.drain())
            if bad[i] or n_sent_valid - len(receipts) < IN_FLIGHT:
                sent[i] = time.time()
                pub.publish(topics[i], payloads[i])
                n_sent_valid += not bad[i]
                i += 1
            else:
                time.sleep(0.001)
        exhausted = i == n
        # only the messages sent count from here on
        n, bad, expected, sent = i, bad[:i], expected[:i], sent[:i]
        n_valid = int((~bad).sum())
        deadline = time.time() + TAIL_TIMEOUT_S
        while len(receipts) < n_valid and time.time() < deadline:
            time.sleep(0.05)
            receipts.extend((t, p, r.timestamp()) for t, p, r in sub.drain())
        time.sleep(0.3)  # late duplicates still count
        receipts.extend((t, p, r.timestamp()) for t, p, r in sub.drain())
        cpu_s = time.process_time() - cpu0

        recv_at = np.full(n, np.nan)
        n_recv = np.zeros(n, np.int64)
        wrong = 0
        for topic, payload, at in receipts:
            try:
                msg = json.loads(payload)
                k = msg["id"]
            except (ValueError, TypeError, KeyError):
                wrong += 1
                continue
            if not isinstance(k, int) or not 0 <= k < n:
                wrong += 1
                continue
            n_recv[k] += 1
            recv_at[k] = at if np.isnan(recv_at[k]) else min(recv_at[k], at)
            exp = expected[k]
            if exp is None or topic != exp[0] or msg != exp[1]:
                wrong += 1
        valid = ~bad
        np.savez(args.out, sent=sent, recv_at=recv_at, valid=valid,
                 n_recv=n_recv)
        _send({"summary": {
            "published": n,
            "malformed": int(bad.sum()),
            "valid": n_valid,
            "delivered_once": int(((n_recv == 1) & valid).sum()),
            "missing": int(((n_recv == 0) & valid).sum()),
            "duplicated": int((n_recv > 1).sum()),
            "wrong": wrong,
            "exhausted": bool(exhausted),
            "gen_stall_max_ms": stall * 1000.0,
            "gen_cpu_s": cpu_s,
        }})
        _recv()  # quit: the bridge no longer needs the broker
    finally:
        for c in (sub, pub):
            if c is not None:
                c.close()
        broker.close()


if __name__ == "__main__":
    main()
