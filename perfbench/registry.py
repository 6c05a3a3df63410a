"""Registry layers for the traced ``wire_closed`` run: a cold pass and one
timed warm pass over a fixed list of registry queries, each built and then
executed to the ``noop`` sink, then checked against its DuckDB oracle.

The registry is not a workload of its own: a run of it takes about as long
as the two bridge workloads together (a cold pass of about twice the warm
one, and the oracle check), and the benchmark's whole schedule of runs must
fit a fixed time budget. ``bench.py`` times all 218 registry queries."""

from __future__ import annotations

import time
import traceback

import gen
from common import log

QUERY_NAMES = (
    "q1_pricing_summary",
    "q21_suppliers_kept_waiting",
    "jsonata_descendants_bare",
    "jsonata_descendants_variant",
    "jsonata_groupby_typed",
    "jsonata_interpreted_fallback",
    "events_type_cooccurrence_lift",
    "dedup_duplicate_clusters",
    "events_ewma_per_user",
    "dedup_minhash_lsh_pairs",
    "text_winnowing_fingerprints",
    "sim_ann_ivf",
    "streaming_stream_stream_join",
    "streaming_dedup_within_watermark",
)


def _pass(spark, sf_dir: str, progress) -> list[dict]:
    """Build and execute every query once, each build and execution in its
    own job group."""
    from mqtt_streamr_spark.queries import QUERIES

    sc = spark.sparkContext
    rows = []
    for name in QUERY_NAMES:
        cursor = len(progress.events)
        group = f"build-{name}-{time.monotonic_ns()}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"exec-{name}-{time.monotonic_ns()}", name)
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query is counted, not fatal
            log(f"{name} raised:\n{traceback.format_exc()}")
            rows.append({"name": name, "error": True, "cursor": cursor})
            continue
        t2 = time.perf_counter()
        rows.append({"name": name, "df": df, "build_s": t1 - t0,
                     "exec_s": t2 - t1, "cursor": cursor, "group": group,
                     "error": False})
    sc.setLocalProperty("spark.jobGroup.id", None)
    return rows


def _build_jobs(sc, progress, row: dict, next_cursor: int) -> int:
    """Jobs run while ``row``'s query was being built: its own job group
    plus the run groups of streaming queries it drained meanwhile."""
    tracker = sc.statusTracker()
    n = len(tracker.getJobIdsForGroup(row["group"]))
    runs = {e["runId"] for e in progress.events[row["cursor"]:next_cursor]}
    return n + sum(len(tracker.getJobIdsForGroup(r)) for r in runs)


def check_oracles(run, rows: list[dict], sf_dir: str) -> int:
    """Compare each query's rows with its DuckDB oracle, order-insensitive;
    returns the number of mismatches."""
    import duckdb
    import pandas as pd

    from mqtt_streamr_spark.queries import ORACLES
    from mqtt_streamr_spark.tables import TABLES
    from tests.test_correctness import normalize

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        bad = 0
        for row in rows:
            name = row["name"]
            if row["error"]:
                continue  # already counted as failed
            try:
                got = normalize(row["df"].toPandas())
                want = normalize(con.execute(ORACLES[name]).df())
                if list(got.columns) != list(want.columns) \
                        or len(got) != len(want) or len(want) == 0:
                    raise AssertionError(
                        f"{list(got.columns)}x{len(got)} vs "
                        f"{list(want.columns)}x{len(want)}")
                pd.testing.assert_frame_equal(
                    got, want, check_dtype=False, check_exact=False,
                    rtol=1e-9, atol=1e-9)
            except AssertionError as e:
                bad += 1
                run.check(f"oracle:{name}", False, str(e)[:300])
        return bad
    finally:
        con.close()


def registry_layers(run, spark, progress) -> None:
    """Per-query build and execution times and build-time jobs of the warm
    pass, state-store commit time, and the pass's queries per second; fails
    the run's checks when a query raises or differs from its oracle."""
    import mqtt_streamr_spark.queries  # noqa: F401  (registers queries)

    sf_dir = gen.write_tables(run.seed, run.path("data"))
    _pass(spark, sf_dir, progress)  # cold pass: warm-up
    t = time.perf_counter()
    rows = _pass(spark, sf_dir, progress)
    wall = time.perf_counter() - t
    raised = sum(r["error"] for r in rows)
    bad = check_oracles(run, rows, sf_dir)
    run.check("registry: no query raised", raised == 0, f"{raised} raised")
    run.check("registry: rows match the DuckDB oracles", bad == 0,
              f"{bad} differ")
    run.layer["registry.throughput_per_s"] = (len(rows) - raised) / wall
    sc = spark.sparkContext
    time.sleep(0.5)  # let the listener bus deliver the last progress
    for i, row in enumerate(rows):
        if row["error"]:
            continue
        nxt = rows[i + 1]["cursor"] if i + 1 < len(rows) \
            else len(progress.events)
        for m in ("build_s", "exec_s"):
            run.layer[f"query.{row['name']}.{m}"] = row[m]
        run.layer[f"query.{row['name']}.build_jobs"] = _build_jobs(
            sc, progress, row, nxt)
    for m in ("build_s", "exec_s", "build_jobs"):
        run.layer[f"registry.{m}"] = sum(
            run.layer.get(f"query.{n}.{m}", 0) for n in QUERY_NAMES)
    commits = [so.get("commitTimeMs", 0)
               for e in progress.events[rows[0]["cursor"]:]
               for so in e.get("stateOperators", [])]
    run.layer["state.commit_ms"] = float(sum(commits))
    log(f"registry warm pass {wall:.1f} s")
