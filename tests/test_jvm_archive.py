"""The driver JVM's class-data-sharing archive (``killrweather_spark/jvm_archive.py``).

The decision tests run without a JVM: they read ``plan``'s launch for a
cache in ``tmp_path``, and ``session.default_java_options`` for the
collector.  The last test starts fresh interpreters with their own cache:
the first session starts plain and its JVM is killed, the background dump
publishes the archive anyway, the next session maps it and gives the same
answer, a caller's collector is kept, and a damaged archive still lets a
session start.  Every session runs the parallel collector unless its caller
picks another.
"""

from __future__ import annotations

import fcntl
import json
import logging
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError

from killrweather_spark import jvm_archive, session

ROOT = Path(__file__).resolve().parents[1]
CALLER = "-Djava.io.tmpdir=/tmp/x -Xms1g"


@pytest.fixture
def cds(tmp_path, monkeypatch) -> Path:
    """A fresh cache and a template-only conf dir, with no gateway running."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path / "cache" / "killrweather_spark" / "cds"


def _records(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records if r.name == jvm_archive.__name__
            and r.levelno >= logging.WARNING]


def test_archive_key_tracks_java_and_jars():
    jars = ["spark-core_2.13-4.1.2.jar:1:2", "scala-library-2.13.16.jar:3:4"]
    key = jvm_archive.archive_key("/jdk17/bin/java", "17.0.20", "4.1.2", jars)
    assert key == jvm_archive.archive_key("/jdk17/bin/java", "17.0.20", "4.1.2", jars[::-1])
    assert key != jvm_archive.archive_key("/jdk21/bin/java", "17.0.20", "4.1.2", jars)
    assert key != jvm_archive.archive_key("/jdk17/bin/java", "17.0.20", "4.1.2", jars[:1])
    assert key != jvm_archive.archive_key("/jdk17/bin/java", "17.0.20", "4.1.2",
                                          [jars[0], "scala-library-2.13.16.jar:3:5"])


def test_a_miss_starts_as_asked_and_dumps_elsewhere(cds, caplog):
    launch = jvm_archive.plan(CALLER)
    assert launch.java_options is None  # get_or_create keeps the caller's options
    assert launch.env == {}
    assert Path(launch.archive).parent == cds
    assert os.listdir(cds / "conf") == []
    assert _records(caplog) == []


def test_hit_maps_the_published_archive(cds):
    archive = Path(jvm_archive.plan(None).archive)
    archive.write_bytes(b"")
    launch = jvm_archive.plan(CALLER)
    opts = launch.java_options.split()
    assert opts[0] == f"-XX:SharedArchiveFile={archive}"
    assert launch.java_options.endswith(" " + CALLER)
    assert opts[1] == f"-Xlog:cds*=info:file={launch.log}:uptime,level,tags:filecount=0"
    assert launch.log == f"{str(archive)[:-len('.jsa')]}.{os.getpid()}.map.log"
    assert jvm_archive.plan(None).java_options.split()[-1] == "-Xlog:all=warning,cds*=off:stdout"
    # JDK 17 will not map with a non-empty directory on the classpath
    assert launch.env == {"SPARK_CONF_DIR": str(cds / "conf")}


def test_a_real_conf_file_means_no_archive_and_one_line(cds, tmp_path, caplog):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert jvm_archive.plan(CALLER) is None
    (line,) = _records(caplog)
    assert "spark-defaults.conf" in line


def test_an_unwritable_cache_means_no_archive_and_one_line(cds, tmp_path, monkeypatch,
                                                           caplog):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert jvm_archive.plan(CALLER) is None
    (line,) = _records(caplog)
    assert "unusable" in line


def test_a_running_gateway_changes_nothing(cds, monkeypatch, caplog):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert jvm_archive.plan(CALLER) is None
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "25333")  # spark-submit's JVM
    assert jvm_archive.plan(CALLER) is None
    assert _records(caplog) == []
    assert not cds.exists()


def test_a_running_dump_is_not_started_twice(cds, caplog):
    key = Path(jvm_archive.plan(None).archive).stem
    with open(cds / f"{key}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        assert jvm_archive.plan(CALLER) is None
    assert jvm_archive.plan(CALLER).java_options is None
    assert _records(caplog) == []


def test_leftovers_of_dead_processes_are_swept(cds):
    key = Path(jvm_archive.plan(None).archive).stem
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    leftover = cds / f"{key}.{int(dead.stdout)}.part"
    leftover.write_bytes(b"\0" * 16)
    scratch = cds / f"{key}.{int(dead.stdout)}.tmp"
    (scratch / "spark-local").mkdir(parents=True)
    live = cds / f"{key}.1.dump.log"  # pid 1 is alive
    live.write_text("")
    assert jvm_archive.plan(None).java_options is None
    assert not leftover.exists()
    assert not scratch.exists()
    assert live.exists()


@pytest.mark.parametrize(
    "place", ["extraJavaOptions", "spark-defaults.conf", *session.JAVA_OPTIONS_VARIABLES])
def test_a_collector_selected_elsewhere_is_kept(cds, tmp_path, monkeypatch, place):
    for var in session.JAVA_OPTIONS_VARIABLES:
        monkeypatch.delenv(var, raising=False)
    # perfbench's JAVA_TOOL_OPTIONS, a collector tuning flag and the
    # executor's options select no driver collector
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData")
    defaults = tmp_path / "conf" / "spark-defaults.conf"
    defaults.write_text("spark.executor.memory 2g\n")
    assert session.default_java_options(f"{CALLER} -XX:+UseGCOverheadLimit") == \
        session.GC_OPTION == "-XX:+UseParallelGC"
    caller = CALLER
    if place == "extraJavaOptions":
        caller = f"{CALLER} -XX:+UseG1GC"
    elif place == "spark-defaults.conf":
        defaults.write_text("spark.driver.extraJavaOptions -XX:+UseG1GC\n")
    else:
        monkeypatch.setenv(place, f"{os.environ.get(place, '')} -XX:+UseG1GC".strip())
    # a second selection stops the JVM: "Multiple garbage collectors selected"
    assert session.default_java_options(caller) is None


def test_an_administrators_default_java_options_stay_whole(cds, tmp_path):
    (tmp_path / "conf" / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions -Dsite=1\n")
    assert session.default_java_options(CALLER) is None


_MAPPED = ("[0.018s][info][cds] Mapped dynamic region #0 at base 0x7f184ebca000 top "
           "0x7f18520d0000 (ReadWrite)\n")
_LOGS = {
    "mapped": "[0.010s][info][cds] Opened archive x.jsa.\n" + _MAPPED,
    # the first address was taken; the archive mapped at another one
    "relocated": "[0.009s][info][cds] UseSharedSpaces: Unable to map ReadWrite shared space "
                 "at 0x0000000800000000\n"
                 "[0.009s][info][cds] Try to map archive(s) at an alternative address\n"
                 + _MAPPED,
    "bad magic number": "[0.006s][info][cds] UseSharedSpaces: The shared archive file has a "
                        "bad magic number.\n"
                        "[0.006s][info][cds] UseSharedSpaces: Unable to map shared spaces\n",
    "shared class paths mismatch": _MAPPED +
        "[0.111s][info][cds] UseSharedSpaces: shared class paths mismatch (hint: enable "
        "-Xlog:class+path=info to diagnose the failure)\n"
        "[0.118s][warning][cds,dynamic] Unable to use shared archive. The top archive failed "
        "to load: x.jsa\n",
}


@pytest.mark.parametrize("case", list(_LOGS))
def test_only_an_unmapped_top_archive_is_a_refusal(cds, caplog, case):
    archive = Path(jvm_archive.plan(None).archive)
    archive.write_bytes(b"")
    launch = jvm_archive.plan(None)
    Path(launch.log).write_text(_LOGS[case])
    jvm_archive._check_mapped(launch)
    lines = _records(caplog)
    if case in ("mapped", "relocated"):
        assert lines == []
    else:
        (line,) = lines
        assert case in line
    assert archive.exists()  # the refusal was this launch's; the next may map it
    assert not os.path.exists(launch.log)


@pytest.mark.parametrize(
    ("returncode", "log_text", "published"),
    [(0, "[24.8s][info][cds,dynamic] Written dynamic archive 0x8 - 0x9\n", True),
     (0, "[9.1s][info][cds] Dumping shared data\n", False),
     (-9, "[24.8s][info][cds,dynamic] Written dynamic archive 0x8 - 0x9\n", False)])
def test_only_a_finished_dump_of_a_clean_exit_is_published(cds, caplog, returncode,
                                                           log_text, published):
    archive = jvm_archive.plan(None).archive
    stem = f"{archive[:-len('.jsa')]}.{os.getpid()}"
    Path(f"{stem}.part").write_bytes(b"\0" * 16)
    Path(f"{stem}.dump.log").write_text(log_text)
    stale = cds / "0123456789abcdef0123.jsa"
    stale.write_bytes(b"")
    assert jvm_archive.publish(returncode, f"{stem}.part", f"{stem}.dump.log",
                               archive) == published
    assert os.path.exists(archive) == published
    assert not os.path.exists(f"{stem}.part")
    assert not os.path.exists(f"{stem}.dump.log")
    assert stale.exists() != published  # a new archive replaces stale keys
    # a failed dump is not retried by every session: one line names its log
    failed = f"{archive[:-len('.jsa')]}.failed.log"
    assert (jvm_archive.plan(None) is None) != published
    assert os.path.exists(failed) != published
    if published:
        assert _records(caplog) == []
    else:
        (line,) = _records(caplog)
        assert failed in line


class _Builder:
    """A session builder whose JVM exits at start while its options hold one
    of ``failing``; ``getOrCreate`` returns the options it started with."""

    def __init__(self, *failing: str):
        self.failing = failing
        self.options = ""

    def config(self, key: str, value: str) -> _Builder:
        assert key == jvm_archive.JAVA_OPTIONS
        self.options = value
        return self

    def getOrCreate(self) -> str:
        if any(f in self.options for f in self.failing):
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED",
                                      messageParameters={})
        return self.options


@pytest.fixture
def mapped_launch(cds, monkeypatch) -> jvm_archive.Launch:
    """A hit: ``plan`` offers an existing archive."""
    cds.mkdir(parents=True)
    archive = cds / "0123456789abcdef0123.jsa"
    archive.write_bytes(b"")
    launch = jvm_archive.Launch(str(archive), f"-XX:SharedArchiveFile={archive} {CALLER}")
    monkeypatch.setattr(jvm_archive, "plan", lambda caller: launch)
    return launch


def test_an_archive_that_stops_the_jvm_is_removed(mapped_launch, caplog):
    got = jvm_archive.get_or_create(_Builder("SharedArchiveFile"), CALLER)
    assert got == CALLER  # started plain, with the caller's options
    assert not os.path.exists(mapped_launch.archive)
    (line,) = _records(caplog)
    assert "exited at start from class-data archive" in line


def test_an_archive_is_kept_when_the_plain_start_fails_too(mapped_launch):
    with pytest.raises(PySparkRuntimeError):
        jvm_archive.get_or_create(_Builder("-Xms1g"), CALLER)
    assert os.path.exists(mapped_launch.archive)


_CHILD = r"""
import json, os, signal, sys
from killrweather_spark.session import get_session

spark = get_session(master="local[2]", extra_conf={
    "spark.driver.extraJavaOptions": sys.argv[2], "spark.ui.showConsoleProgress": "false"})
mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
args = list(mf.getRuntimeMXBean().getInputArguments())
gcs = sorted(gc.getName() for gc in mf.getGarbageCollectorMXBeans())
answer = spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
print(json.dumps({"args": args, "gcs": gcs, "answer": [list(r) for r in answer]}),
      file=sys.__stderr__)
if sys.argv[1] == "kill":  # the session's JVM and interpreter die without a clean exit
    sys.__stderr__.flush()
    os.kill(spark.sparkContext._gateway.proc.pid, signal.SIGKILL)
    os._exit(0)
"""


PARALLEL = ["PS MarkSweep", "PS Scavenge"]  # the MXBeans of -XX:+UseParallelGC


def _child(tmp_path: Path, mode: str, caller: str = "-Dkw.caller=1") -> tuple[dict, str]:
    env = {k: v for k, v in os.environ.items() if k not in session.JAVA_OPTIONS_VARIABLES}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_CONF_DIR=str(tmp_path / "conf"), SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]))
    r = subprocess.run([sys.executable, "-c", _CHILD, mode, caller], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    result = next(json.loads(line) for line in r.stderr.splitlines() if line.startswith("{"))
    assert "[cds" not in r.stdout  # the JVM's CDS log stays off standard output
    return result, r.stderr


def _await_dump(cds: Path, timeout_s: float = 300) -> list[str]:
    """The cache's listing once the background dump has finished."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        names = sorted(p.name for p in cds.iterdir())
        if not any(n.endswith((".part", ".tmp", ".dump.log")) for n in names) and \
                any(n.endswith((".jsa", ".failed.log")) for n in names):
            return names
        time.sleep(1)
    raise AssertionError(f"no archive after {timeout_s} s: {sorted(os.listdir(cds))}")


def test_fresh_sessions_dump_then_map_the_archive(tmp_path):
    (tmp_path / "conf").mkdir()
    cds = tmp_path / "cache" / "killrweather_spark" / "cds"

    first, err = _child(tmp_path, "kill")
    assert not any(a.startswith("-XX:") and "Archive" in a for a in first["args"])
    assert "class-data archive" not in err
    assert first["gcs"] == PARALLEL
    names = _await_dump(cds)
    (archive,) = cds.glob("*.jsa")
    assert names == sorted(["conf", archive.name, f"{archive.stem}.lock"])

    mapped, err = _child(tmp_path, "plain")
    assert "class-data archive" not in err
    args = mapped["args"]
    assert f"-XX:SharedArchiveFile={archive}" in args
    assert args.index("-Dkw.caller=1") > args.index(f"-XX:SharedArchiveFile={archive}")
    assert mapped["answer"] == first["answer"]
    assert mapped["gcs"] == PARALLEL

    # a caller's collector replaces the default, and the archive still maps
    g1, err = _child(tmp_path, "plain", "-Dkw.caller=1 -XX:+UseG1GC")
    assert "class-data archive" not in err
    assert f"-XX:SharedArchiveFile={archive}" in g1["args"]
    assert session.GC_OPTION not in g1["args"]
    assert g1["gcs"] == ["G1 Old Generation", "G1 Young Generation"]
    assert g1["answer"] == first["answer"]

    # a damaged archive aborts the JVM: the session starts without it
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        f.truncate(archive.stat().st_size // 2)
    damaged, err = _child(tmp_path, "plain")
    assert "exited at start from class-data archive" in err
    assert not any("SharedArchiveFile" in a for a in damaged["args"])
    assert damaged["gcs"] == PARALLEL
    assert damaged["answer"] == first["answer"]
    assert not archive.exists()
