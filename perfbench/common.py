"""Shared pieces of the benchmark: environment pinning, the Spark session's
life cycle, medians and memory readings."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import tempfile

def cpus() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MB (``VmHWM``), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine so far, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def _cpu_ticks_of(pid: int, children: bool) -> int:
    """utime + stime of ``pid`` (plus cutime + cstime, its reaped children,
    if ``children``), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in v[11:15 if children else 13])


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, parents before their children."""
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            kids = [int(x) for x in f.read().split()]
    except OSError:
        return out
    for k in kids:
        out += [k] + descendants(k)
    return out


def sut_cpu_s(spark) -> float:
    """CPU seconds the system under test has used so far: this process
    (the Spark driver and the engine's ingest HTTP server, not the load
    generator it starts) plus its JVM and the JVM's Python workers.  Time the hypervisor
    steals from the machine is not charged to a process, so on a shared host
    this reads far steadier than wall time."""
    jvm = jvm_process(spark)
    ticks = _cpu_ticks_of(os.getpid(), children=False)
    if jvm is not None:
        ticks += sum(_cpu_ticks_of(p, children=True)
                     for p in [jvm.pid] + descendants(jvm.pid))
    return ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(workdir: str, data_dir: str) -> dict:
    """Pin everything the session reads from the environment, and keep every
    file the run writes (temp files, Spark's local dirs) inside ``workdir``.
    Must run before the JVM starts."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_SF_DIR": data_dir,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files under /tmp from the JVMs Spark launches
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o),
        # Python workers import the engine the same way the driver does
        "PYTHONPATH": os.pathsep.join(
            p for p in (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def start_session(app: str, workdir: str):
    """The engine's session (``killrweather_spark.session.get_session``) with
    the protobuf runtime that transformWithState queries need, Spark's
    scratch space and warehouse inside ``workdir``, and no progress bars."""
    from killrweather_spark.streaming.protobuf_shim import enable_vendored_protobuf

    enable_vendored_protobuf()
    from killrweather_spark.session import get_session

    tmp = os.environ["TMPDIR"]
    return get_session(
        app_name=app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def jvm_process(spark) -> subprocess.Popen | None:
    gateway = spark.sparkContext._gateway
    return getattr(gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def stamp(spark, seed: int, env: dict) -> dict:
    """What a reader needs to compare two results."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cpus": cpus(),
        "seed": seed,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
    }
