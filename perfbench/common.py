"""Process set-up shared by the workloads: a run directory inside the
checkout, the Spark session, a progress listener, and summary helpers."""

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# one core count for every run, so runs on hosts with more cores compare
CPUS = min(4, os.cpu_count() or 1)


class Run:
    """One benchmark process: its scratch directory, its clocks and the
    metrics it will report."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 t_start: float):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.t_start = t_start
        self.dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)
        # everything Spark, its Python workers and the package write goes
        # under the run directory, never to the system temp dir
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        # Spark's Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory 2g --driver-java-options "
            f"'-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData' pyspark-shell")
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # spark-submit's launcher JVM would write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
            o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                        "-XX:-UsePerfData") if o)
        # metric values by name; the units are in BENCHMARK.json
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        self.spark = None
        self.steal0 = (time.time(), cpu_steal_s())
        log(f"{workload} seed {seed}: start")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks[name] = bool(ok)
        if not ok:
            log(f"CHECK FAILED: {name}: {detail}")

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def start_spark(run, master: str | None = None,
                shuffle_partitions: int | None = None):
    """Start the package's Spark session for ``run`` (kept as
    ``run.spark``); the first start is timed as ``session.start_s``."""
    from mqtt_streamr_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{run.workload}", master=master,
        shuffle_partitions=shuffle_partitions, extra_conf={
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    run.layer.setdefault("session.start_s", time.perf_counter() - t)
    log(f"session started ({master or 'default master'})")
    run.spark = spark
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class ProgressLog:
    """Every ``StreamingQueryProgress`` of the session, as parsed JSON.
    (``query.recentProgress`` keeps only the last 100 batches.)"""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        self.events = events

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def of(self, run_id: str) -> list[dict]:
        return [e for e in self.events if e.get("runId") == run_id]


def parse_ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return float(xs[k])


def stream_layers(run, spark, window: list[dict], events: list[dict]
                  ) -> None:
    """Phase times and sizes of the micro-batches in ``window``, and the
    jobs per batch over all ``events`` (jobs run in each query's run
    group, so they cannot be split by window)."""
    dur = [e["durationMs"] for e in window]
    for phase in ("latestOffset", "queryPlanning", "walCommit",
                  "commitOffsets"):
        run.layer[f"stream.{phase}_ms.p50"] = (
            median(d.get(phase, 0) for d in dur))
    for phase in ("addBatch", "triggerExecution"):
        xs = [d.get(phase, 0) for d in dur]
        run.layer[f"stream.{phase}_ms.p50"] = median(xs)
        run.layer[f"stream.{phase}_ms.p90"] = pct(xs, 90)
    rows = [e["numInputRows"] for e in window]
    run.layer["stream.batches"] = len(window)
    run.layer["stream.rows_per_batch.p50"] = median(rows)
    run.layer["stream.rows_per_batch.max"] = max(rows, default=0)
    tracker = spark.sparkContext.statusTracker()
    n_jobs = sum(len(tracker.getJobIdsForGroup(r))
                 for r in {e["runId"] for e in events})
    run.layer["bridge.jobs_per_batch"] = n_jobs / max(len(events), 1)


def cpu_steal_s() -> float:
    """CPU seconds, summed over CPUs, that the hypervisor ran something
    else while this host had work (``steal`` in ``/proc/stat``; 0 where
    that is missing)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_stamps(run, spark) -> None:
    """Host-noise stamps, recorded with every run but never gated: the
    share of CPU time stolen by the hypervisor since the run started, the
    registry bench's fsync and pandas-UDF round-trip probes and the load
    average."""
    from bench import _fsync_sentinel_ms, _python_worker_sentinel

    t0, steal0 = run.steal0
    run.layer["host.steal_pct"] = 100.0 * (cpu_steal_s() - steal0) / (
        (time.time() - t0) * (os.cpu_count() or 1))
    run.layer["host.fsync_ms"] = _fsync_sentinel_ms()
    run.layer["host.udf_roundtrip_ms"] = (
        _python_worker_sentinel(spark) * 1000.0)
    run.layer["host.loadavg_1m"] = os.getloadavg()[0]


class CallTimer:
    """Wraps ``module.name`` so each call's wall time and result are
    recorded; ``restore`` puts the original back."""

    def __init__(self, module, name: str):
        self.module, self.name = module, name
        self.orig = getattr(module, name)
        self.calls: list[tuple[float, object]] = []

        def wrapped(*a, **kw):
            t = time.perf_counter()
            out = self.orig(*a, **kw)
            self.calls.append((time.perf_counter() - t, out))
            return out

        setattr(module, name, wrapped)

    def restore(self) -> None:
        setattr(self.module, self.name, self.orig)
