"""Per-run context: one temp root, one Spark session, and the stop
order that leaves no process behind.

The run root (under ``.perfbench_runs/`` in the checkout) holds the
feed, tables, views, checkpoint, ``SPARK_LOCAL_DIRS``, the event log
and ``TMPDIR``. ``prepare_env`` must run before the package is first
imported: ``silver.SILVER_CACHE_ROOT`` is derived from
``tempfile.gettempdir()`` at import, and pointing it into the run root
makes every cold pass pay its own silver and artifact builds.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import tempfile
import time

from procs import TreeSampler, leftover_processes, stop_group

#: JVM heap: small enough to share the machine, large enough for sf0.01.
HEAP = "2g"


def prepare_env(root: str, checkout: str, cores: int) -> None:
    for d in ("tmp", "spark-local", "eventlog", "work"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Python workers are started by the JVM and import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if checkout not in sys.path:
        sys.path.insert(0, checkout)


class Run:
    """Everything one benchmark invocation owns."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 cores: int, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.root = root
        self.work = os.path.join(root, "work")
        self.eventlog = os.path.join(root, "eventlog")
        self.t0 = time.monotonic()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.query = None
        self.generator: subprocess.Popen | None = None
        self.sampler = TreeSampler()
        self.stamps = None
        self.tracer = None
        #: (traced?, latency) of each unit of work inside the window;
        #: a traced run compares the two halves for the tracing overhead
        self.samples: list[tuple[bool, float]] = []
        self.cpu_busy_share = 0.0
        self._window: tuple[float, float] | None = None
        #: live_tail's stamped logs, for its per-layer metrics
        self.live: dict | None = None

    def window_begin(self) -> None:
        self.set_stage("window")
        self._window = (time.monotonic(), self.sampler.cpu_total())

    def window_end(self) -> None:
        """Close the measured window: CPU busy share of all cores."""
        t0, cpu0 = self._window
        dt = time.monotonic() - t0
        self.cpu_busy_share = (self.sampler.cpu_total() - cpu0) / (dt * self.cores) if dt > 0 else 0.0
        self.set_stage("after")

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def set_tracing(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.active = on

    def set_stage(self, stage: str) -> None:
        """Label the spans recorded from now on (setup, cold, window,
        overhead); the per-layer metrics read each from its stage."""
        if self.tracer is not None:
            self.tracer.stage = stage

    @contextlib.contextmanager
    def phase(self, i: int):
        """One pass of the window. In a traced run odd passes are
        traced and even ones are not, so both halves see the same
        warm-up state; outside a traced run this does nothing."""
        self.set_tracing(i % 2 == 1)
        try:
            yield
        finally:
            self.set_tracing(False)

    def query_call(self, name: str, build, collect: bool):
        """Build, plan and run one registered query: ``toPandas`` when
        ``collect``, else the noop sink. A failure counts as a failed
        operation and returns None."""
        tr = self.tracer if self.tracing else None

        def span(what):
            return tr.span(what, query=name) if tr else contextlib.nullcontext()

        try:
            with span("query.call"):
                with span("query.plan_build"):
                    df = build()
                if tr:
                    with span("query.planning"):
                        df._jdf.queryExecution().executedPlan()
                with span("query.exec"):
                    if collect:
                        return df.toPandas()
                    df.write.format("noop").mode("overwrite").save()
                    return None
        except Exception as exc:  # noqa: BLE001 — one failed query is one failed op
            self.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.monotonic() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def start_spark(self):
        from starknet_indexer_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.eventlog
            # one plain JSON-lines file the report can read
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark("perfbench", **conf)
        return self.spark

    def start_generator(self, plan_path: str, log_path: str) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.generator = subprocess.Popen(
            [sys.executable, os.path.join(here, "gen.py"), plan_path, log_path],
            start_new_session=True,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
        )

    def close(self) -> list[str]:
        """Stop everything this run started, in dependency order, then
        check that no descendant process is left. Returns the problems
        found; each step runs even if an earlier one failed."""
        problems: list[str] = []

        def step(what, fn):
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 — keep stopping the rest
                problems.append(f"{what}: {type(exc).__name__}: {exc}"[:300])

        if self.query is not None:
            step("stop streaming query", self.query.stop)
        if self.generator is not None:
            step("stop generator", lambda: stop_group(self.generator))
        for patch in (self.stamps, self.tracer):  # reverse install order
            if patch is not None:
                step("restore wrappers", patch.restore)
        if self.spark is not None:
            step("stop spark", self._stop_spark)
        self.sampler.stop()
        left = leftover_processes()
        problems += [f"process left running: {p}" for p in left]
        return problems

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=20)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)


def remove_root(root: str) -> None:
    for _ in range(3):
        shutil.rmtree(root, ignore_errors=True)
        if not os.path.exists(root):
            return
        time.sleep(0.2)
