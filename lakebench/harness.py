"""Process environment, session lifetime, host facts and statistics shared by
the workloads.

Everything a run writes stays under ``WORK`` inside the checkout: Spark's
local dirs, the JVM's and Python's temp files, the lakes, the generated
tables and the result records.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark"
# The package defaults to a 48g driver; 1g is enough for every workload
# here and keeps the runs small on a shared host.
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Point every process this run starts at the checkout: Python workers
    import the package from ``ROOT``, and Spark, the JVM and Python keep
    their scratch files under ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session() -> tuple[object, dict[str, float]]:
    """Import the package and start its session the way a scheduled job
    does. Returns the session and the two set-up phases in seconds."""
    t0 = time.perf_counter()
    __import__(f"{PACKAGE}.runner")
    __import__(f"{PACKAGE}.plans.registry")
    session = __import__(f"{PACKAGE}.session", fromlist=["get_spark"])
    t1 = time.perf_counter()
    spark = session.get_spark("lakebench")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "start_s": t2 - t1}


def _descendants(pid: int) -> set[int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out: set[int] = set()
    frontier = [pid]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in out:
                out.add(child)
                frontier.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it started
    (the driver JVM, the Python worker daemon and its workers, and the
    workers the daemon has reaped). Stolen time is not in it."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for pid in _descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / hz


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def stop_session(spark, timeout_s: float = 30.0) -> int:
    """Stop Spark, end the driver JVM and wait until every process it
    started (the JVM, the Python worker daemon and its workers) has exited.
    Returns how many had to be killed after ``timeout_s``: a leak."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    tree = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    leaked = [p for p in tree if _alive(p)]
    for p in leaked:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    return len(leaked)


# ---------------------------------------------------------------------------
# host facts


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def calibrate() -> float:
    """Seconds for a fixed single-threaded loop: a slower reading means a
    slower or busier core, not a slower program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


class HostFacts:
    def __init__(self) -> None:
        self.tick_hz = os.sysconf("SC_CLK_TCK")
        self.steal0 = _steal_ticks()
        self.calib0 = calibrate()

    def finish(self) -> dict:
        return {
            "nproc": nproc(),
            "steal_s": (_steal_ticks() - self.steal0) / self.tick_hz,
            "calibration_s": [self.calib0, calibrate()],
            "loadavg": os.getloadavg(),
        }


# ---------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))

