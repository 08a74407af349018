"""Shared machinery: the engine's lifecycle, tracing, statistics, the
sensor-pipeline helpers the workloads share, and the result line.

The benchmark drives the engine only through its public functions. Every
file it writes (inputs, outputs, Spark local dirs, JVM temp files) lives in
a work directory inside the checkout, removed at exit; traces go to
``.perfbench_traces/`` beside it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import gen


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path
    t_process_start: float
    tracer: "Tracer"
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)
    generation_s: float = 0.0
    generation_cpu_s: float = 0.0

    @contextmanager
    def generating(self):
        """Input generation: its wall and CPU time stay out of the set-up."""
        t0, c0 = time.time(), time.process_time()
        try:
            yield
        finally:
            self.generation_s += time.time() - t0
            self.generation_cpu_s += time.process_time() - c0

    @contextmanager
    def phase(self, name: str):
        """Wall time of one stage of the run, reported in the notes."""
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.time() - t0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans (id, name, start, end, parent, op) and the writer
    that dumps them as JSON lines when the run ends.

    A disabled tracer records nothing: the untraced run pays one branch
    per span. Spans nest through a stack, so a span's parent is the span
    open around it when it started; ``op`` names the operation (file,
    ETL run, query) the span belongs to.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = rec["start"] + (time.perf_counter() - t0)

    def add(self, name: str, start: float, end: float, op: str | None = None) -> None:
        """Record a span measured elsewhere (from progress events or the
        feeder's log)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "op": op, "start": start, "end": end})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------- statistics


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default), q in [0, 1]."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """Samples strictly above the q-th percentile of n samples."""
    return max(0, n - math.floor((n - 1) * q) - 1)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def describe_latency(label: str, values: list[float]) -> str:
    n = len(values)
    return (f"{label}: n={n} p50={pct(values, 0.5):.4f}s ({beyond(n, 0.5)} beyond) "
            f"p90={pct(values, 0.9):.4f}s ({beyond(n, 0.9)} beyond)")


# ------------------------------------------------------------------ process


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_stat(path: str) -> tuple[str, list[str]]:
    """(name, the fields after it) of one /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


#: HotSpot's JIT compiler threads (``C1 CompilerThre``, ``C2 CompilerThre``;
#: Linux truncates thread names to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU seconds the engine uses: this Python process, every thread of
    the driver JVM except its JIT compilers, and every process the JVM
    started (PySpark's Python workers), read from /proc.

    CPU time is what the metrics compare, not wall time, because this VM
    shares its host: the hypervisor steals 0-20% of its CPU time, shifting
    over minutes, and wall times follow the steal (NOTES.md) while stolen
    time is charged to no process. Busy neighbours still make each CPU
    second do less (shared cores and caches), so CPU time moves with them
    too, but by a third as much. The JIT compilers are left out because
    how much of their warm-up lands in a measured window depends on
    timing, not on the work in it.

    ``sample()`` returns one reading per thread or process; ``since(a, b)``
    sums what each used between two readings. A JVM thread that ends
    between them drops its share of that window: Spark's pool threads end
    only after a minute idle.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tck = os.sysconf("SC_CLK_TCK")

    def _children(self) -> list[int]:
        parent: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    ppid = int(_proc_stat(f"/proc/{entry}/stat")[1][1])
                except (OSError, ValueError, IndexError):
                    continue  # the process ended while being listed
                parent.setdefault(ppid, []).append(int(entry))
        out, todo = [], list(parent.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += parent.get(pid, ())
        return out

    def sample(self) -> dict[tuple, float]:
        reading: dict[tuple, float] = {}
        fields = _proc_stat(f"/proc/{os.getpid()}/stat")[1]
        reading[("python",)] = (int(fields[11]) + int(fields[12])) / self.tck
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                name, fields = _proc_stat(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except OSError:
                continue
            if not name.startswith(JIT_THREADS):
                reading[("jvm", int(tid))] = (int(fields[11]) + int(fields[12])) / self.tck
        for pid in self._children():
            try:
                fields = _proc_stat(f"/proc/{pid}/stat")[1]
            except OSError:
                continue
            # utime, stime and the reaped children's cutime, cstime
            reading[("child", pid)] = sum(int(v) for v in fields[11:15]) / self.tck
        return reading

    @staticmethod
    def since(before: dict[tuple, float], after: dict[tuple, float]) -> float:
        return sum(v - before.get(k, 0.0) for k, v in after.items())


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole VM since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the VM's CPU time stolen by the host since ``since``."""
    stolen, total = host_ticks()
    return (stolen - since[0]) / max(1, total - since[1])


def prepare_environment(work: Path) -> None:
    """Point every temporary location of Python, Spark and the JVMs
    into the work directory. Must run before pyspark is imported."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # A determinism-sweep override left in the environment would silently
    # reconfigure the engine under test.
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    tempfile.tempdir = str(tmp)


class Engine:
    """Owns the SparkSession and the JVM behind it.

    Spark runs ``local[n]`` with n the CPUs this process may use, so
    ``taskset -c 0`` gives the single-thread baseline.
    """

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None
        self._proc = None
        self.cpu: CpuMeter | None = None
        self.cpus = len(os.sched_getaffinity(0))

    def start(self):
        from iot_data_pipeline_spark.session import build_session

        self.spark = build_session(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.cpu = CpuMeter(self.jvm_pid())
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop Spark, shut the gateway and wait for the JVM to exit."""
        if self.spark is not None:
            from iot_data_pipeline_spark.transient import release_transient_caches

            release_transient_caches()
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 -- the gateway may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- subprocess.TimeoutExpired
                self._proc.kill()
                self._proc.wait(timeout=30)


def peak_rss_mb(engine: Engine) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(engine.jvm_pid())


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """Spark jobs and tasks run under one job group, from the status
    tracker."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    n_tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            n_tasks += stage.numTasks if stage else 0
    return len(job_ids), n_tasks


def noop(df) -> None:
    """Execute a frame fully without writing (Spark's ``noop`` sink)."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str, suffix: str) -> list[str]:
    """Data files under ``path``, skipping ``_``/``.`` metadata dirs."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(root, f) for f in files if f.endswith(suffix)]
    return out


def remove(path) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------- the sensor pipeline setup


def transform_config(dead_letter: str | None = None):
    from iot_data_pipeline_spark.pipeline import PipelineConfig

    return PipelineConfig(temperature_threshold=gen.THRESHOLD, dead_letter_path=dead_letter)


def dim_frame(spark):
    return spark.createDataFrame(
        gen.dim_location_rows(), "device_id string, location_id string"
    )


def warm_transform(spark, raw: str, dim) -> None:
    """The set-up's warm-up operation for the sensor workloads: parse,
    split and transform a small JSONL file into the noop sink."""
    from iot_data_pipeline_spark.pipeline import transform_sensor
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt
    from iot_data_pipeline_spark.transient import release_transient_caches

    good, _ = split_corrupt(read_jsonl(spark, raw))
    noop(transform_sensor(good, transform_config(), dim))
    release_transient_caches()


def timed_setup(ctx: RunContext, engine: Engine, register):
    """Run the workload's set-up: build the session, then
    ``register(spark)`` (views, dimension frames and one warm-up
    operation), which returns the state the workload uses.

    The set-up is measured as the engine's CPU time (``CpuMeter``) from
    process start, so imports, JVM launch and first-time class loading
    are in it; the CPU time spent making inputs (``ctx.generating()``) is
    not. Its wall time from process start, inputs excluded, is printed as
    the ``setup_wall`` phase. Returns (set-up CPU seconds, session-build
    wall seconds, state).
    """
    ctx.phases["generate"] = ctx.generation_s
    t0 = time.time()
    with ctx.tracer.span("session.build", op="setup"):
        spark = engine.start()
    build_s = time.time() - t0
    with ctx.tracer.span("setup.register", op="setup"):
        state = register(spark)
    end = time.time()
    ctx.phases["setup_wall"] = end - ctx.t_process_start - ctx.generation_s
    setup_cpu_s = CpuMeter.since({}, engine.cpu.sample()) - ctx.generation_cpu_s
    return setup_cpu_s, build_s, state


def end_to_end(setup_s: float, engine: Engine, cpu_s_per_op: float) -> dict[str, float]:
    """The end-to-end metrics every workload reports."""
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(engine),
        "cpu_s_per_op": cpu_s_per_op,
    }


def emit(ctx: RunContext, metrics: dict[str, tuple[float, str]], notes: list[str]) -> None:
    """Print the notes, every metric by name and unit, and, last, the
    result line."""
    for line in notes:
        print(line)
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in ctx.phases.items()))
    for p in ctx.problems:
        print(f"FAILED: {p}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    correct = ctx.failed == 0 and ctx.attempted > 0
    print(f"correct = {correct} ({ctx.failed} of {ctx.attempted} operations failed)")
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
