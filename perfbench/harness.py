"""Run scaffolding shared by the workloads: Spark session lifecycle,
repeated set-up, the timed loop, result assembly and statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from perfbench.spans import Tracer

SETUP_REPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def now() -> tuple[float, float]:
    """A start mark for ``busy_since``: (wall clock, stolen seconds)."""
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return (time.perf_counter(),
            steal_ticks / os.sysconf("SC_CLK_TCK") / os.cpu_count())


def busy_since(start: tuple[float, float]) -> float:
    """Wall seconds since ``start`` less the time the hypervisor took from
    the machine's CPUs meanwhile (steal in /proc/stat, per CPU). On a
    shared VM steal comes and goes with other tenants' load; subtracting
    it keeps that load out of the timings."""
    wall, stolen = now()
    return (wall - start[0]) - (stolen - start[1])


def reset_peak_rss(pid: int | str) -> None:
    """Restart a process's peak-RSS counter (VmHWM) from its current RSS
    (Linux: "5" to /proc/<pid>/clear_refs)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Run:
    """State of one benchmark run: args, session, checks and metrics."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    work: str
    spark: object = None
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, list[float]] = field(default_factory=dict)
    launch_s: float = 0.0
    unit_s: float = 0.0
    peak_mb: list[float] = field(default_factory=list)

    # -- session ---------------------------------------------------------
    def confs(self) -> dict[str, str]:
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the program's default (32) is sized for a 32-core box; use
            # its own rule of thumb, 2x the cores Spark runs on
            "spark.sql.shuffle.partitions": str(2 * nproc()),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap: peak RSS then follows what the run
            # touches, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        }

    def launch(self) -> None:
        """Start the session (JVM launch, timed) and run one action."""
        from automated_review_analysis_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{nproc()}]",
                               extra_confs=self.confs())
        self.launch_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, self.trace, f"{self.workload}"
                             f"-{self.seed}")
        self.spark.range(1).count()

    def setup(self, prepare: Callable[["Run"], dict[str, float]]) -> None:
        """Run ``prepare`` (generate inputs, warm up) SETUP_REPS times in
        the launched session; it returns its phase timings. Records the
        median of each and of the totals as ``setup_s``."""
        totals: list[float] = []
        phases: dict[str, list[float]] = {}
        for _ in range(SETUP_REPS):
            t0 = now()
            got = prepare(self)
            totals.append(busy_since(t0))
            for k, v in got.items():
                phases.setdefault(k, []).append(v)
        self.put("setup_s", median(totals), "s")
        for k, vs in phases.items():
            self.layer(k, median(vs))
        self.layer("session.get_spark.wall_s", self.launch_s)

    def _pids(self) -> list[int | str]:
        """This process and the driver JVM."""
        proc = getattr(getattr(self.spark.sparkContext, "_gateway", None),
                       "proc", None)
        return ["self"] + ([proc.pid] if proc is not None else [])

    @contextmanager
    def timed(self):
        """A timed part of the current unit: its busy seconds add to the
        unit's time, and the peak RSS of this process plus the driver JVM
        while it runs is sampled. The peak counters restart at its start,
        so input generation and output checks, which run outside timed
        parts, stay out of ``peak_rss_mb``."""
        pids = self._pids()
        for pid in pids:
            reset_peak_rss(pid)
        t0 = now()
        yield
        self.unit_s += busy_since(t0)
        self.peak_mb.append(sum(peak_rss_kb(p) for p in pids) / 1024.0)

    def measure(self, unit: Callable[[int], None]) -> None:
        """Run ``unit(i)``, whose timed parts are ``with run.timed():``
        blocks, once; then again only while the elapsed time plus the
        last unit's time stays within ``seconds``. Records the median
        unit time as ``work_s`` (``trace.work_s`` when traced) and the
        highest sampled peak RSS as ``peak_rss_mb``."""
        start = time.perf_counter()
        units: list[float] = []
        while not units or (time.perf_counter() - start + units[-1]
                            <= self.seconds):
            self.unit_s = 0.0
            unit(len(units))
            units.append(self.unit_s)
        if self.trace:
            self.layer("trace.work_s", median(units))
        else:
            self.put("work_s", median(units), "s")
        self.put("peak_rss_mb", max(self.peak_mb), "MB")

    # -- results ------------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failing one is recorded, never dropped."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def layer_spans(self) -> None:
        """Fold resolved spans into per-layer samples keyed by span name."""
        for sp in self.tracer.resolve():
            self.layer(f"{sp.name}.wall_s", sp.wall_s)
            for k, v in sp.counters.items():
                self.layer(f"{sp.name}.{k}", v)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                if proc.poll() is None:
                    proc.terminate()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def run_workload(run: Run, modules) -> None:
    """Set up every module's inputs (``prepare``, phase timings summed),
    then measure a unit that runs each module's unit (from its ``units``
    context) in turn."""
    def prepare(r: Run) -> dict[str, float]:
        phases: dict[str, float] = {}
        for m in modules:
            for k, v in m.prepare(r).items():
                phases[k] = phases.get(k, 0.0) + v
        return phases

    run.setup(prepare)
    with ExitStack() as stack:
        fns = [stack.enter_context(m.units(run)) for m in modules]
        run.measure(lambda i: [f(i) for f in fns])


COMMON_LAYERS = ("session.get_spark.wall_s",
                 "setup.generate_inputs.wall_s", "setup.warmup.wall_s",
                 "trace.work_s")


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last in ("mb", "shuffle_mb"):
        return "MB"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


def layer_values(run: "Run", names: list[str]
                 ) -> dict[str, tuple[float, str]]:
    """Median of each named per-layer sample list (plus the layers every
    workload records), with its unit; a layer never sampled reads 0."""
    return {k: (median(run.layers.get(k, [0.0])), unit_of(k))
            for k in [*names, *COMMON_LAYERS]}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str) -> tuple[int, float]:
    """(parquet files, MB) under ``path``."""
    n, size = 0, 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / 1e6
