"""One benchmark run: isolated directories, Spark session lifecycle,
repeated cold set-up, timed passes with output checks, and the
figures that come out of them.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from perfbench.metrics import cpu_seconds, descendants, timing_summary, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
# timed cold set-ups per run, after the untimed launch; setup_s is
# their median
SETUP_REPS = 5
# untimed, checked passes after the set-ups. A pass on a fresh session
# runs slower, and the JIT compiler is busy through the first two; the
# measured passes run at a steady speed after three
WARMUP_PASSES = 3
DRIVER_MEM = "2g"
YOUNG_GEN = "768m"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, t_start: float) -> None:
        self.workload_name = workload
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.run_dir = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}-{time.time_ns()}")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.local_dir = os.path.join(self.run_dir, "spark-local")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        for d in (self.tmp_dir, self.local_dir, self.event_dir):
            os.makedirs(d)
        self.tracer = None
        if trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(workload)
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_walls: dict[str, list[float]] = {}
        self.cur = None  # the running pass's {"pass", "wall", "cpu"}
        self.warmups: list[dict] = []  # warm-up passes, checked but not measured
        self.gc_s = 0.0  # the JVM's GC seconds at the end of the last pass
        self.check_s = 0.0
        self.rss_split: dict[str, float] = {}

    # -------------------------------------------------------- isolation
    def isolate(self) -> None:
        """Pin cores and memory, and keep every file the engine, Spark
        and the JVM write inside this run's directory."""
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["TMPDIR"] = self.tmp_dir
        # no hsperfdata files under /tmp from the launcher or driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}"
        import tempfile

        tempfile.tempdir = None

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.local_dir,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed young generation keeps the JVM's peak RSS from
            # depending on when adaptive sizing happens to grow the heap
            "spark.driver.extraJavaOptions": f"-Xmn{YOUNG_GEN} -XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}",
        }
        if self.tracer is not None:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                }
            )
        return conf

    # ---------------------------------------------------------- session
    def start_session(self) -> float:
        from dvmax_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.workload_name}", extra_conf=self._conf())
        elapsed = time.perf_counter() - t0
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return elapsed

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started."""
        self.stop_session()
        kids = descendants(os.getpid())
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while True:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
            time.sleep(0.1)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def pids(self) -> list[int]:
        me = os.getpid()
        return [me, *descendants(me)]

    # ------------------------------------------------------------ spans
    def span(self, name: str, layer: str):
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    @contextlib.contextmanager
    def _traced(self):
        if self.tracer is None:
            yield
            return
        self.tracer.active = True
        try:
            yield
        finally:
            self.tracer.active = False

    # -------------------------------------------------------------- ops
    def op(self, name: str, fn, check=None):
        """Run one timed operation, then check its output untimed.
        An operation that raises or fails its check counts as failed."""
        self.attempted += 1
        cpu0 = cpu_seconds(self.pids())
        t0 = time.perf_counter()
        ok, out = True, None
        with self._traced(), self.span(name, "op"):
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                ok = False
        wall = time.perf_counter() - t0
        self.cur["wall"] += wall
        self.cur["cpu"] += cpu_seconds(self.pids()) - cpu0
        self.op_walls.setdefault(name, []).append(wall)
        if ok and check is not None:
            t1 = time.perf_counter()
            try:
                ok = bool(check(out))
            except Exception:  # noqa: BLE001 - a check that raises is a failed check
                traceback.print_exc()
                ok = False
            self.check_s += time.perf_counter() - t1
        if not ok:
            self.failed += 1
            self.failures.append(name)
            print(f"perfbench: operation {name} failed", file=sys.stderr)
        return out

    # ------------------------------------------------------------- run
    def jvm_stats(self) -> tuple[float, float]:
        """(cumulative GC seconds, heap used MB) of the driver JVM."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return gc_ms / 1000.0, heap / 2**20

    def setup(self, wl) -> dict:
        """A launch, SETUP_REPS timed cold set-ups, then WARMUP_PASSES
        warm-up passes. The launch starts the first Spark session (JVM
        launch included) and builds the workload's state once, untimed.
        Each timed set-up restarts the Spark session and rebuilds the
        state from empty directories; the last one's state is kept. The
        warm-up passes run on it; their outputs are checked, but they
        are not measured."""
        walls, session_s = [], []
        launch_s = 0.0
        prev = None
        for r in range(SETUP_REPS + 1):
            rep_dir = os.path.join(self.run_dir, f"rep{r}")
            os.makedirs(rep_dir)
            if r:
                self.stop_session()
                shutil.rmtree(prev, ignore_errors=True)
            os.environ["DVMAX_SPARK_CACHE"] = os.path.join(rep_dir, "cache")
            if self.tracer is not None:
                self.tracer.pass_id = f"setup{r}"
            t0 = time.perf_counter()
            session_s.append(self.start_session())
            with self._traced():
                wl.setup(self, rep_dir)
            if r:
                walls.append(time.perf_counter() - t0)
            else:
                launch_s = time.perf_counter() - self.t_start
            if self.tracer is not None:
                self.tracer.collect_counts(self.spark)
            prev = rep_dir
        wl.after_setup(self)
        self.gc_s, _ = self.jvm_stats()
        self.warmups = [self.run_pass(wl, i) for i in range(WARMUP_PASSES)]
        return {"launch_s": launch_s, "setup_walls": walls, "session_start_s": session_s}

    def run_pass(self, wl, pass_no: int) -> dict:
        if self.tracer is not None:
            self.tracer.pass_id = pass_no
        self.cur = {"pass": pass_no, "wall": 0.0, "cpu": 0.0}
        extra = wl.run_pass(self, pass_no)
        gc, heap = self.jvm_stats()
        self.cur.update(extra, **{"jvm.gc_s": gc - self.gc_s, "jvm.heap_used_mb": heap})
        self.gc_s = gc
        if self.tracer is not None:
            self.tracer.collect_counts(self.spark)
        return self.cur

    def measure(self, wl) -> list[dict]:
        """Warm passes until their timed regions add up to ``seconds``.
        Every pass's outputs are checked and returned."""
        self.op_walls.clear()
        passes: list[dict] = []
        while not passes or sum(p["wall"] for p in passes) < self.seconds:
            passes.append(self.run_pass(wl, WARMUP_PASSES + len(passes)))
        return passes

    def probe(self) -> float:
        """bench.py's load sentinel: fixed pure-JVM work, timed after
        one untimed run that compiles it."""

        def once() -> float:
            t0 = time.perf_counter()
            self.spark.range(0, 1_000_000_000, 1, 32).selectExpr("sum(id) AS s").write.format(
                "noop"
            ).mode("overwrite").save()
            return time.perf_counter() - t0

        once()
        return once()

    def peak_rss_mb(self) -> float:
        self.rss_split = {"jvm": vm_hwm_mb([self.jvm_pid]), "python": vm_hwm_mb([os.getpid()])}
        return vm_hwm_mb(self.pids())

    def op_summary(self) -> dict:
        return {name: timing_summary(w) for name, w in self.op_walls.items()}


def pass_figures(passes: list[dict]) -> dict:
    walls = [p["wall"] for p in passes]
    return {
        "pass_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu"] for p in passes),
        "pass_timing": timing_summary(walls),
    }
