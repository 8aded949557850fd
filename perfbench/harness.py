"""Run-scoped plumbing: the work directory, the Spark session and its
set-up, run context, CPU and memory readings and shutdown of every
process the run started."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import time
from dataclasses import dataclass, field

#: local mode runs driver and executors in one JVM; 2g holds every
#: workload's inputs and state with room to spare and leaves the rest of
#: the machine to the Python workers and other tenants
DRIVER_MEMORY = "2g"
SETUP_REPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark run: where it writes and how it reaches Spark."""

    root: str  # checkout root
    workload: str
    seed: int
    seconds: float
    work: str = ""
    spark: object = None
    jvm_pid: int = 0
    context: dict = field(default_factory=dict)

    def __post_init__(self):
        self.work = os.path.join(
            self.root, ".perfbench_work", f"{self.workload}-{self.seed}-{os.getpid()}"
        )
        os.makedirs(self.work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def prepare_environment(work: str) -> None:
    """Size the driver heap, and point every temp-file location Python,
    Spark and the JVM use at the run's work directory, so the run writes
    nowhere else. Runs before the JVM starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM the launch starts, the launcher's included: temp files in
    # the work directory, and no hsperfdata files under /tmp. The JIT
    # stops at C1: with C2, compilation still took 1-4 CPU seconds of
    # every behov batch 25 s into a run and the batch CPU fell from 10 to
    # 6 s over the measured window; with C1 it is done within the warm-up
    # and a batch's CPU stays within about 10% across the window.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    )
    tempfile.tempdir = None


def build(run: Run):
    """Start (or restart) the session and run one small job, so the
    session is ready for work when this returns."""
    from rapids_and_rivers_spark import build_session

    if run.spark is not None:
        run.spark.stop()
    n = nproc()
    tmp = run.path("tmp")
    run.spark = build_session(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    run.spark.range(1000).selectExpr("sum(id)").collect()
    run.jvm_pid = run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return run.spark


def set_up(run: Run, stage, tracer) -> list[float]:
    """Set up ``SETUP_REPS`` times (session start + warm-up job + input
    staging into a fresh directory) and return each set-up's seconds.
    Only the first set-up launches the JVM; the later ones restart the
    session in it. The last set-up's session and inputs are the ones the
    run measures."""
    totals = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            build(run)
        # a fresh directory per set-up: catalog helpers cache frames per
        # (session, input directory), and a stopped session's frames
        # must never be found again
        inputs = run.path(f"inputs{rep}")
        with tracer.span("sources.stage"):
            stage(run.spark, inputs)
        totals.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(run.path(f"inputs{rep - 1}"), ignore_errors=True)
    return totals


def record_context(run: Run) -> None:
    import pyspark

    n = nproc()
    run.context.update(
        workload=run.workload,
        seed=run.seed,
        nproc=n,
        master=f"local[{n}]",
        pyspark=pyspark.__version__,
        loadavg_start=list(os.getloadavg()),
    )


def finish_context(run: Run) -> None:
    run.context["loadavg_end"] = list(os.getloadavg())
    if run.spark is not None:
        run.context["driver_memory"] = run.spark.sparkContext.getConf().get(
            "spark.driver.memory"
        )


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds (user + system) the engine has used so far: the driver
    JVM, the Python workers it forks (with those it has reaped) and this
    process. CPU time leaves out the time a thread waits for a core, so
    it moves far less than wall time when other work shares the machine.
    The generator, a child of this process, is not counted."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime (stat fields 14-17)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def peak_rss_mb(run: Run) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{run.jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def shut_down(run: Run) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
