"""Start the driver JVM from a class-data-sharing archive.

A driver JVM loads over ten thousand Spark/Scala classes from the jars.  A
JDK AppCDS dynamic archive holds those classes pre-parsed; a JVM started
with ``-XX:SharedArchiveFile`` maps it instead of loading each class.
``get_or_create`` keeps one such archive per Java build, Spark version and
jars directory under ``cache_dir()``:

- hit: the archive is passed in front of the caller's
  ``spark.driver.extraJavaOptions``;
- miss: the session starts as the caller asked, with nothing added, and a
  background process (``dump``, at idle CPU priority, one per archive at a
  time) runs a short session of its own in a JVM started with
  ``-XX:ArchiveClassesAtExit=<key>.<pid>.part``.  The part is renamed to
  ``<key>.jsa`` only after that JVM exited with status 0 and logged the
  finished dump: on JDK 17 a truncated archive makes the JVM abort at start.
  The session that missed never runs in dump mode, so its speed and its
  exit do not depend on the dump.

JDK 17 neither dumps nor maps an archive while a non-empty directory is on
the classpath, and Spark always puts ``$SPARK_CONF_DIR`` there.  When that
directory holds only ``*.template`` files (what a Spark distribution ships)
the dump and every mapping launch point ``SPARK_CONF_DIR`` at an empty
directory in the cache, which changes nothing Spark reads.  In every other
case the session starts without the archive and one ``logging`` line gives
the reason.

The JVM's CDS log goes to ``<key>.<pid>.{map,dump}.log`` next to the
archive, not to standard output, where scripts read their results.  A
failed dump keeps its log as ``<key>.failed.log``; sessions start without
the archive until that file is deleted.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import logging
import os
import re
import shutil
import subprocess
import sys
from collections.abc import Iterator
from dataclasses import dataclass, field

import pyspark
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

JAVA_OPTIONS = "spark.driver.extraJavaOptions"

# <key>.<pid>.part (a dump in progress), <key>.<pid>.tmp (its scratch
# directory), <key>.<pid>.dump.log and <key>.<pid>.map.log (the JVM's CDS
# log), where pid is the Python process
_PID_FILE = re.compile(r"^\w+\.(\d+)\.(part|tmp|dump\.log|map\.log)$")

# JDK 17's reasons for not using an archive it opened (``fail_continue``)
_REASON = re.compile(r"UseSharedSpaces: (.*)")


def cache_dir() -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/killrweather_spark/cds``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "killrweather_spark", "cds")


def archive_key(java: str, java_version: str, spark_version: str, jars: list[str]) -> str:
    """Name of the archive for one Java build, Spark version and jars
    listing (order-free)."""
    text = "\n".join([java, java_version, spark_version, *sorted(jars)])
    return hashlib.sha256(text.encode()).hexdigest()[:20]


def _java() -> tuple[str, str]:
    """(realpath, runtime version) of the ``java`` that spark-submit runs:
    ``$JAVA_HOME/bin/java``, else the one on ``PATH``.  The version is the
    JDK's ``release`` file entry, empty when the file is missing."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"
    java = os.path.realpath(java)
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    try:
        with open(release) as f:
            for line in f:
                if line.startswith("JAVA_RUNTIME_VERSION="):
                    return java, line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return java, ""


def _jars(spark_home: str) -> list[str]:
    """``$SPARK_HOME/jars`` as name:size:mtime entries, so a jar replaced
    under the same name changes the key too."""
    jars = os.path.join(spark_home, "jars")
    out = []
    with contextlib.suppress(OSError):
        for name in os.listdir(jars):
            st = os.stat(os.path.join(jars, name))
            out.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return out


def _non_template(conf_dir: str) -> str | None:
    """The first entry of ``conf_dir`` that is not a ``*.template`` file,
    None when there is none (or no directory)."""
    try:
        names = sorted(os.listdir(conf_dir))
    except FileNotFoundError:
        return None
    return next((n for n in names if not n.endswith(".template")), None)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        with contextlib.suppress(OSError):
            os.remove(path)


def _sweep(cds: str) -> None:
    """Remove the parts, scratch directories and logs of processes that are
    gone (a dump killed mid-way, a session's unread log)."""
    for name in os.listdir(cds):
        m = _PID_FILE.match(name)
        if m and not _alive(int(m.group(1))):
            _remove(os.path.join(cds, name))


def _dumping(lock: str) -> bool:
    """Whether a dump process holds ``lock`` (the kernel drops the lock when
    that process dies, however it dies)."""
    with open(lock, "a") as f:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return True
    return False


def refusal(cds_log: str) -> str | None:
    """None when the JVM's CDS log shows the top (dynamic) archive mapped,
    else why it was not used.  A failed attempt at one address followed by
    a mapping at another is a use, not a refusal."""
    mapped = ("Mapped dynamic region" in cds_log
              and "The top archive failed to load" not in cds_log
              and "Unable to map shared spaces" not in cds_log)
    if mapped:
        return None
    m = _REASON.search(cds_log)
    return m.group(1) if m else "the top archive was not mapped"


@dataclass
class Launch:
    """How to start the driver JVM: on a hit the merged
    ``extraJavaOptions``, the environment for the launch and the CDS log;
    on a miss nothing (``java_options`` None) but the archive to dump."""

    archive: str
    java_options: str | None = None
    env: dict[str, str] = field(default_factory=dict)
    log: str | None = None


def plan(caller_options: str | None) -> Launch | None:
    """The archive launch for the next driver JVM, or None to start it as
    the caller asked and dump nothing: when a gateway is running already
    (no JVM starts), when another process is dumping the archive, or with
    one logged reason when the archive cannot be used."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    blocker = _non_template(conf_dir)
    if blocker is not None:
        log.warning("driver JVM starts without class-data archive: %s holds %s, and a "
                    "non-empty directory on the classpath disables the archive",
                    conf_dir, blocker)
        return None
    cds = cache_dir()
    empty_conf = os.path.join(cds, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cds, os.W_OK):
            raise PermissionError(f"{cds} is not writable")
        if os.listdir(empty_conf):
            raise OSError(f"{empty_conf} is not empty")
        java, java_version = _java()
        key = archive_key(java, java_version, pyspark.__version__, _jars(spark_home))
        _sweep(cds)
        dumping = _dumping(os.path.join(cds, f"{key}.lock"))
    except OSError as e:
        log.warning("driver JVM starts without class-data archive: cache %s unusable (%s)",
                    cds, e)
        return None
    archive = os.path.join(cds, f"{key}.jsa")
    if os.path.isfile(archive):
        cds_log = os.path.join(cds, f"{key}.{os.getpid()}.map.log")
        log.info("driver JVM maps class-data archive %s", archive)
        ours = [
            f"-XX:SharedArchiveFile={archive}",
            f"-Xlog:cds*=info:file={cds_log}:uptime,level,tags:filecount=0",
            "-Xlog:all=warning,cds*=off:stdout",  # the JVM default, minus CDS
        ]
        return Launch(
            archive,
            java_options=" ".join(ours + ([caller_options] if caller_options else [])),
            env={"SPARK_CONF_DIR": empty_conf},
            log=cds_log,
        )
    failed = os.path.join(cds, f"{key}.failed.log")
    if os.path.exists(failed):
        log.warning("driver JVM starts without class-data archive: its dump failed "
                    "(log in %s; delete that file to dump again)", failed)
        return None
    if dumping:
        log.info("driver JVM starts without class-data archive: %s is being dumped", archive)
        return None
    log.info("driver JVM starts without class-data archive; a background process dumps %s",
             archive)
    return Launch(archive)


def _check_mapped(launch: Launch) -> None:
    """Turn a refusal in the JVM's CDS log into one warning.  The archive
    stays: a refusal comes from this launch (a classpath or heap setting
    that differs from the dump's), and the next launch may map it."""
    try:
        with open(launch.log) as f:
            text = f.read()
        os.remove(launch.log)
    except OSError:
        return
    reason = refusal(text)
    if reason is not None:
        log.warning("driver JVM refused class-data archive %s (%s); started without it",
                    launch.archive, reason)


def _start_dump(archive: str) -> None:
    """Start ``dump(archive)`` in a background process.  A short-lived
    intermediate process starts it, so that it is no child of this one; it
    stays in this process's session, where its idle CPU priority ranks it
    below this process's work (a new session would be scheduled as a peer
    group), and it holds none of our standard streams, so a caller that
    reads this process's output never waits for it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    subprocess.run(
        [sys.executable, "-c", "import subprocess, sys; subprocess.Popen(sys.argv[1:])",
         sys.executable, "-c",
         "import sys; from killrweather_spark.jvm_archive import dump; dump(sys.argv[1])",
         archive],
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        cwd=os.path.dirname(archive), env=env, check=False)


def publish(returncode: int, part: str, cds_log: str, archive: str) -> bool:
    """Rename a dump's part to the archive if its JVM exited with 0 and
    logged the finished dump, and remove other keys' files; else remove the
    part and keep the log as ``<key>.failed.log``."""
    try:
        with open(cds_log) as f:
            written = "Written dynamic archive" in f.read()
    except OSError:
        written = False
    base = archive[:-len(".jsa")]
    if returncode != 0 or not written:
        _remove(part)
        with contextlib.suppress(OSError):
            os.replace(cds_log, f"{base}.failed.log")
        return False
    os.replace(part, archive)
    _remove(cds_log)
    cds, key = os.path.split(base)
    for name in os.listdir(cds):
        if name.endswith((".jsa", ".lock", ".failed.log")) and not name.startswith(key + "."):
            _remove(os.path.join(cds, name))
    return True


def _exercise(spark: SparkSession, scratch: str) -> None:
    """What engine sessions run first, so that the dump holds their
    classes: SQL with shuffles, joins, a window and codegen, a parquet round
    trip, Arrow transfers both ways, a Python UDF, and the ingest pipeline's
    three streaming queries over one upload."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from killrweather_spark.streaming.pipeline import (
        parsed_observations,
        start_daily_temp_rollup,
        start_ingest,
    )

    table = os.path.join(scratch, "table")
    spark.range(4000).selectExpr("id % 13 AS k", "id AS v", "cast(id AS string) AS s") \
        .write.parquet(table)
    t = spark.read.parquet(table)
    agg = t.groupBy("k").agg(F.sum("v").alias("sv"), F.countDistinct("s").alias("n"))
    w = Window.partitionBy("k").orderBy(F.desc("v"))
    (t.join(agg, "k").withColumn("r", F.row_number().over(w)).where("r <= 2")
     .join(F.broadcast(spark.range(5).withColumnRenamed("id", "k")), "k")
     .orderBy("k", "r").collect())
    spark.createDataFrame(agg.toPandas()).count()
    t.select(F.udf(len, "int")("s").alias("n")).agg(F.sum("n")).collect()
    t.createOrReplaceTempView("t")
    spark.sql("SELECT k, percentile_approx(v, 0.5), collect_set(s % 3) FROM t "
              "GROUP BY k HAVING count(*) > 1").collect()

    staging = os.path.join(scratch, "staging")
    os.makedirs(staging)
    with open(os.path.join(staging, "0.csv"), "w") as f:
        f.write("724940:23234,2008,01,01,00,11.7,-0.6,1023.8,50,7.2,2,0.5,1.0\n"
                "725030:14732,2008,01,01,00,3.3,-5.0,1010.1,270,4.1,4,0.0,0.0\n")
    obs = parsed_observations(spark.readStream.option("maxFilesPerTrigger", 1).text(staging))
    out = {n: os.path.join(scratch, n) for n in ("raw", "precip", "temp", "ckpt")}
    trig = {"availableNow": True}
    queries = [*start_ingest(obs, out["raw"], out["precip"], out["ckpt"], trigger=trig),
               start_daily_temp_rollup(obs, out["temp"], out["ckpt"], trigger=trig)]
    for q in queries:
        q.awaitTermination()


def dump(archive: str) -> None:
    """The background dump process that ``get_or_create`` starts on a miss:
    at idle CPU priority and one per archive at a time (``<key>.lock``), run
    ``_exercise`` in a session whose JVM writes the archive at exit, then
    ``publish`` it.  The process's output and the JVM's go to the dump log."""
    with contextlib.suppress(AttributeError, OSError):
        os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    cds = os.path.dirname(archive)
    base = archive[:-len(".jsa")]
    lock = open(f"{base}.lock", "a")  # held until this process exits
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        return  # another process is dumping it
    if os.path.exists(archive):
        return
    stem = f"{base}.{os.getpid()}"
    part, cds_log, scratch = f"{stem}.part", f"{stem}.dump.log", f"{stem}.tmp"
    fd = os.open(cds_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    os.makedirs(scratch)
    os.chdir(scratch)
    os.environ.update(SPARK_CONF_DIR=os.path.join(cds, "conf"), SPARK_LOCAL_DIRS=scratch,
                      TMPDIR=scratch)
    from killrweather_spark.session import session_builder

    # the archive holds classes, not compiled code: C1 alone (about a third
    # less CPU than tiered C2) and a small heap serve the dump as well
    builder = (session_builder("killrweather_spark-cds-dump", master="local[2]")
               .config("spark.driver.memory", "512m")
               .config(JAVA_OPTIONS, f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=info "
                                     f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={scratch}"))
    proc = None
    try:
        spark = builder.getOrCreate()
        proc = spark.sparkContext._gateway.proc
        _exercise(spark, scratch)
        spark.stop()
        # the gateway exits when its stdin closes, and the JVM writes the
        # archive as it exits: on 4 cores about 17 k classes, 180 MB, 13 s.
        # No timeout: at idle priority a busy host may hold the dump back
        # for long, and a killed dump would count as a failed one
        proc.stdin.close()
        proc.wait()
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        publish(proc.returncode if proc else -1, part, cds_log, archive)
        os.chdir(cds)
        _remove(scratch)


@contextlib.contextmanager
def _environ(env: dict[str, str]) -> Iterator[None]:
    prior = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def get_or_create(builder: SparkSession.Builder, caller_options: str | None) -> SparkSession:
    """``builder.getOrCreate()`` with the driver JVM started from the
    class-data archive when one can be used, or the archive's dump started
    in the background on a miss (see the module docstring).
    ``caller_options`` are the ``extraJavaOptions`` already set on
    ``builder``; they are kept after the archive's own."""
    launch = plan(caller_options)
    if launch is None:
        return builder.getOrCreate()
    if launch.java_options is None:
        spark = builder.getOrCreate()
        try:
            _start_dump(launch.archive)
        except OSError as e:
            log.warning("class-data archive dump not started: %s", e)
        return spark
    try:
        with _environ(launch.env):
            spark = builder.config(JAVA_OPTIONS, launch.java_options).getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # a damaged archive aborts the JVM: remove it, so that the next
        # session dumps a new one
        _remove(launch.archive)
        log.warning("driver JVM exited at start from class-data archive %s (removed); "
                    "starting it without the archive", launch.archive)
        return builder.config(JAVA_OPTIONS, caller_options or "").getOrCreate()
    _check_mapped(launch)
    return spark
