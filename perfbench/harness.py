"""Process plumbing shared by the workloads: the scratch directory, the
Spark environment, fresh-JVM session builds, memory and byte accounting."""

from __future__ import annotations

import os
import resource
import shlex
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def configure_env(run_dir: str, event_log_dir: str | None) -> None:
    """Point every scratch write of Spark, the JVM and Python at
    ``run_dir`` and size local parallelism to this machine.  Static
    confs (event log, local dirs, JVM options) travel in
    ``PYSPARK_SUBMIT_ARGS`` because they must be set before the JVM
    starts; the program's own ``session.get_spark`` builds the session."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # get_spark's default 8g driver heap grows lazily, so peak memory
    # varied by a third between identical runs; 2g bounds it and suits a
    # box whose memory is shared.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_log_dir
        confs["spark.eventLog.compress"] = "false"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution), read from
    the kernel so that interpreter start and imports are counted."""
    with open("/proc/self/stat") as fh:
        # Field 22 (starttime, in clock ticks since boot); the command name
        # in field 2 may hold spaces, so count from its closing parenthesis.
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Sessions:
    """Builds the session through the program's ``get_spark`` on a fresh
    JVM, times the build, and tears session and JVM down."""

    def __init__(self):
        self.spark = None
        self.build_s: float | None = None
        self.ready_at_s: float | None = None

    def build(self):
        """``build_s`` is the ``get_spark`` call; ``ready_at_s`` the time
        from process start until it returned."""
        from advanced_elb_logs_etl_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        self.build_s = time.perf_counter() - t0
        self.ready_at_s = process_age_s()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to
        exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None



def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(file count, total bytes) of the data files under ``path`` whose
    names end with ``suffix``; hidden and ``_``-prefixed side files
    (``.crc``, ``_SUCCESS``) are skipped."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
