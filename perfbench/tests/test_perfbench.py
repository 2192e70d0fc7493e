"""The benchmark's own tests: generator determinism, the median, metric
names against BENCHMARK.json, and a short smoke run of each workload (each
starts a Spark session, so this file is slow).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


# -- generator ---------------------------------------------------------------

def test_uploads_same_seed_same_bytes():
    a = gen.ingest_uploads(7, 50, 30)
    assert a == gen.ingest_uploads(7, 50, 30)
    assert a != gen.ingest_uploads(8, 50, 30)


def test_upload_lines_follow_raw_csv_schema():
    from killrweather_spark.model.schemas import RAW_WEATHER_CSV_FIELDS

    assert gen.FIELDS == [n for n, _t in RAW_WEATHER_CSV_FIELDS]
    for line in gen.ingest_uploads(3, 20, 5)[0].decode().splitlines():
        fields = line.split(",")
        assert len(fields) == 13
        for (_name, typ), value in zip(RAW_WEATHER_CSV_FIELDS, fields):
            if typ.typeName() == "integer":
                int(value)
            elif typ.typeName() == "double":
                float(value)


def test_every_reading_is_delivered_once_some_late():
    n_st, n_up = 40, 60
    uploads = gen.ingest_uploads(5, n_st, n_up)
    keys, late = [], 0
    for u, body in enumerate(uploads):
        for line in body.decode().splitlines():
            f = line.split(",")
            keys.append(tuple(f[:5]))
            at = datetime(*(int(x) for x in f[1:5]))
            late += (at - gen.INGEST_START) / timedelta(hours=1) < u
    assert len(keys) == len(set(keys)) == n_st * n_up
    assert 0.02 < late / len(keys) < 0.08
    months = {line.split(",")[2] for body in uploads for line in body.decode().splitlines()}
    assert months == {"01", "02"}  # the period crosses a month boundary


def test_registry_tables_same_seed_same_bytes(tmp_path):
    gen.registry_tables(3, str(tmp_path / "a"), scale=0.001)
    gen.registry_tables(3, str(tmp_path / "b"), scale=0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        f"{t}.parquet" for t in ("region nation customer supplier part orders "
                                 "lineitem events documents embeddings").split())


# -- statistics --------------------------------------------------------------

def test_median_of_even_and_odd_samples():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- metric names ------------------------------------------------------------

def test_metric_names_match_benchmark_json():
    import ingest
    import registry

    assert [m["name"] for m in BENCH["end_to_end"]] == [
        "setup_s", "cpu_ms", "peak_rss_mb"]
    per_layer = [m["name"] for m in BENCH["per_layer"]]
    declared = (["latency_ms", "session.start_s", "trace.samples",
                 "trace.overhead.latency_ms", "trace.overhead.cpu_ms"]
                + ingest.LAYER_METRICS + registry.LAYER_METRICS)
    assert sorted(per_layer) == sorted(declared)
    assert len(set(per_layer)) == len(per_layer)
    assert [w["name"] for w in BENCH["workloads"]] == ["ingest", "registry"]


# -- runs ----------------------------------------------------------------------

def _run(cwd: str, workload: str, trace: int, seconds: int = 1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240)


@pytest.mark.parametrize("workload", ["ingest", "registry"])
def test_smoke_traced_run(workload):
    """A short traced run: untraced and traced phases, checks, every
    per-layer metric of BENCHMARK.json, and a span file."""
    p = _run(ROOT, workload, trace=1)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in BENCH["per_layer"]]
    assert res["metrics"]["session.start_s"]["value"] > 0
    assert os.path.exists(os.path.join(BENCH_DIR, ".work", "traces",
                                       f"{workload}-1.jsonl"))


def test_untraced_run_reports_end_to_end_metrics():
    p = _run(ROOT, "registry", trace=0)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert list(res["metrics"]) == [m["name"] for m in BENCH["end_to_end"]]
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(str(tmp_path), "ingest", trace=0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
