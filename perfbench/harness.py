"""Process environment, Spark session, Spark job counting, memory and
result printing shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from tracing import check_metric_name

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "1g"
# Task slots of the local[n] session: on a VM of a few vCPUs this keeps
# the run's busy threads (tasks, JIT and GC, the Python driver and its
# UDF workers) near the vCPU count.
SPARK_CPUS = 2
# rows of the calibration job (see calibrate)
CALIB_ROWS = 50_000


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: str) -> None:
    """Everything the run creates lives under ``work`` inside the
    checkout: Spark local dirs, temp files of library code, the JVM's
    temp dir. Python workers need the checkout on PYTHONPATH to import
    the library (otherwise ``ModuleNotFoundError`` in executors)."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CPUS, host_cpus()))
    # one thread each for Arrow's CPU pool and OpenBLAS (UDF workers)
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    # pandas deprecation chatter from Arrow-batched UDF workers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str):
    from automated_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # heap committed and touched up front (-Xms = driver memory):
            # G1 then does not grow it in steps whose timing varies run
            # to run, and peak_rss_mb does not track how far it grew
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it:
    the gateway JVM exits when its stdin closes (and its Python workers
    with it), but on its own only after this process has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Jobs:
    """Spark job/stage/task counts from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def group(self, group: str | None) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def tasks(self, job_ids: list[int]) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    n += st.numTasks
        return n


class Workload:
    """A workload's work directory, seed and Spark session. The session
    is bound after set-up: set-up needs no Spark, and running it before
    the JVM starts keeps the JVM's start-up work from disturbing it."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = self.jobs = None
        # set while measuring: every op is preceded by a calibration
        self.calibrating = False

    def setup_warm(self) -> None:
        """Untimed set-up before the timed ones: pays one-off imports and
        cold caches."""
        self.setup(0)

    def before_spark(self) -> None:
        """Untimed work that needs no Spark and may overlap the JVM's
        start."""

    def bind(self, spark) -> None:
        self.spark, self.jobs = spark, Jobs(spark)

    def before_op(self, res) -> None:
        """Called right before each timed operation: while measuring,
        a calibration sample into ``res``."""
        if self.calibrating:
            res.calibration(calibrate(self.spark))


def jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — memory metric degrades to Python only
        return None


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    kb = vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid is not None:
        kb += vm_hwm_kb(pid)
    return kb / 1024.0


class Stopwatch:
    """Wall time of one operation (starts at ``t0``, lasts ``wall``) and
    the CPU time this process spent in it (``cpu``, all its threads)."""

    def __enter__(self):
        self.cpu0 = time.process_time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = time.process_time() - self.cpu0
        return False


def calibrate(spark) -> Stopwatch:
    """One run of a fixed Spark job that uses none of the library: a
    pandas UDF over ``spark.range`` and a grouped aggregate collected to
    the driver, the same mix of job scheduling, Python workers and a
    shuffle as the workloads' operations, in the same process tree. Its
    time tracks how fast the host runs that tree at the moment."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    with Stopwatch() as watch:
        rows = (
            spark.range(0, CALIB_ROWS, numPartitions=SPARK_CPUS)
            .select((F.col("id") % 101).alias("k"), plus_one("id").alias("v"))
            .groupBy("k").agg(F.sum("v").alias("v"))
            .collect()
        )
    if sum(r["v"] for r in rows) != CALIB_ROWS * (CALIB_ROWS + 1) // 2:
        raise AssertionError("calibration job returned a wrong sum")
    return watch


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result line: the last line of stdout."""
    body = {}
    for name, (value, unit) in metrics.items():
        check_metric_name(name)
        body[name] = {"value": float(value), "unit": unit}
    sys.stdout.flush()
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": body,
    }), flush=True)


def remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)
