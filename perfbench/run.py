"""Benchmark entry point: runs one workload in this process and prints one
JSON result line.

    python3 perfbench/run.py --workload wire_closed --seed 1 --seconds 10 \
        --trace 0

Workloads (see README.md for why each exists):

- ``wire_closed``: a closed loop with 250 valid messages in flight over MQTT
  through the bridge and back.
- ``bridge_drain``: closed-loop drains of a seeded backlog through the
  bridge into the partitioned sink.

Both report their set-up time and messages per second. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same workload with
per-layer instrumentation and prints the per-layer metrics (the traced
``wire_closed`` run also times 14 registry queries).
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
everything else goes to stderr. The exit code is non-zero, and no result is
printed, when the run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)
# each workload's module and entry function
RUNNERS = {"wire_closed": ("wire", "run_wire"),
           "bridge_drain": ("drain", "run_drain")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import mqtt_streamr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}",
              file=sys.stderr)
        return 2

    import common

    # BENCHMARK.json gives every metric's name and unit; a traced run
    # reports 0 for a layer its workload does not exercise
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run = common.Run(args.workload, args.seed, args.seconds,
                     bool(args.trace), T_START)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            module, fn = RUNNERS[args.workload]
            getattr(importlib.import_module(module), fn)(run)
            common.log("workload done")
            common.host_stamps(run, run.spark)
            noise = {k: v for k, v in run.layer.items()
                     if k.startswith(("host.", "gen."))}
            common.log(json.dumps({"checks": run.checks, "info": run.info,
                                   "noise": noise}))
    finally:
        if run.spark is not None:
            common.stop_spark(run.spark)
        run.cleanup()

    if args.trace:
        for name, value in run.e2e.items():
            run.layer[f"traced.{name}"] = value
        metrics = {m["name"]: (run.layer.get(m["name"], 0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (run.e2e[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    result = {
        "correct": all(run.checks.values()) and run.failed == 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {n: {"value": float(v), "unit": u}
                    for n, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
