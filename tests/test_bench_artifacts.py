"""Pins for bench.py's artifact selection (no Spark session needed).

Round-13 postmortem: the driver's 8-core scaling leg overwrote
``bench_out.json`` and landed as ``BENCH_r14_full.json``, so round 14's
drift gate would have baselined 32-core numbers against an 8-core run.
The fixes pinned here: every artifact carries a ``cpus`` stamp, the
baseline selector skips artifacts recorded at a different core count,
and ``--vs-artifact`` refuses them loudly.  The harness's one timing
loop, ``best_of``, is pinned here too, on fake clock readings.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


def _write(p: Path, **payload) -> None:
    base = {
        "metric": "headline_query_wall_time",
        "unit": "sec",
        "queries": {"daily_stats": 1.0},
        "value": 1.0,
        "sf": 0.1,
    }
    base.update(payload)
    p.write_text(json.dumps(base))


def test_prior_bench_skips_cross_cpu_artifacts(tmp_path, monkeypatch):
    """A same-SF artifact stamped with a different core count must never
    be selected as the comparison baseline; the selector falls through to
    the next candidate (legacy artifacts without the stamp still match)."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path / "bench_out.json", cpus=8,
           queries={"daily_stats": 9.9})
    _write(tmp_path / "BENCH_r13_full.json", cpus=bench.BENCH_CPUS,
           queries={"daily_stats": 1.5})
    got = bench._prior_bench(0.1)
    assert got is not None
    name, q = got[0], got[1]
    assert name == "BENCH_r13_full.json"
    assert q == {"daily_stats": 1.5}


def test_prior_bench_accepts_legacy_unstamped_artifact(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path / "bench_out.json", queries={"daily_stats": 2.5})
    got = bench._prior_bench(0.1)
    assert got is not None and got[0] == "bench_out.json"


def test_vs_artifact_refuses_cross_cpu(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    p = tmp_path / "BENCH_r13_c8.json"
    _write(p, cpus=bench.BENCH_CPUS + 1)
    with pytest.raises(SystemExit, match="cross-cpu"):
        bench._prior_bench(0.1, artifact=str(p))


def test_quarantined_run_is_silent_and_never_a_baseline(tmp_path, monkeypatch, capsys):
    """A misnamed round artifact still warns; a ``_cN`` quarantined run is
    left out without a warning, even when it is the only same-SF,
    same-cores candidate."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    _write(tmp_path / "BENCH_r13_sf01_full.json", sf=0.01, cpus=bench.BENCH_CPUS)
    _write(tmp_path / "BENCH_r13_c8.json", cpus=bench.BENCH_CPUS)
    assert bench._prior_bench(0.1) is None
    err = capsys.readouterr().err
    assert "BENCH_r13_sf01_full.json" in err
    assert "BENCH_r13_c8.json" not in err


def test_repo_artifacts_are_not_the_8core_run():
    """The quarantine itself: the round-13 8-core scaling leg must never
    masquerade as a round artifact again.  Neither the rolling
    bench_out.json nor any BENCH_r14+ artifact may equal the
    BENCH_r13_c8.json query map, and the round-pinned artifacts, whose
    writes are gated on the main run's core count, must carry a full-core
    cpus stamp.  bench_out.json is every run's own record, stamped with
    that run's cores, so a scaling leg may leave it at 8."""
    c8 = json.loads((ROOT / "BENCH_r13_c8.json").read_text())
    c8_queries = (c8.get("parsed") or c8)["queries"]
    pinned = list(ROOT.glob("BENCH_r1[4-9]*_full.json"))
    for p in [ROOT / "bench_out.json", *pinned]:
        d = json.loads(p.read_text())
        assert d["queries"] != c8_queries, p.name
        if p in pinned:
            assert d.get("cpus", 32) == 32, (p.name, d.get("cpus"))


def test_shuffle_width_is_input_size_derived(tmp_path, monkeypatch):
    """r14: the initial shuffle width tracks the bench data directory's
    size (one partition per SHUFFLE_TARGET_MB, floor 4, cap 4x slots)
    and falls back to the core count when no data dir is in the env."""
    import importlib

    import killrweather_spark.session as S

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    importlib.reload(S)
    assert S._derived_shuffle_partitions(32) == 32  # no env: core count

    d = tmp_path / "sfX"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"\0" * (40 << 20))  # 40 MiB
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(d))
    importlib.reload(S)
    assert S._derived_shuffle_partitions(32) == 3 + 1 == 4  # floor hit via 40//16+1
    (d / "u.parquet").write_bytes(b"\0" * (400 << 20))  # +400 MiB
    assert S._derived_shuffle_partitions(32) == (440 << 20) // (16 << 20) + 1
    # cap: 4x slots
    assert S._derived_shuffle_partitions(2) == 8


def test_shuffle_width_size_sum_stops_at_the_cap(tmp_path, monkeypatch):
    """The input-size sum stops once it reaches the 4x-slots cap: on a
    directory-style table of many files only the files up to the cap are
    stat'ed, and the width equals the full walk's answer."""
    import importlib

    import killrweather_spark.session as S

    d = tmp_path / "sfX"
    table = d / "big.parquet"
    table.mkdir(parents=True)
    n_files = 200
    for i in range(n_files):
        with open(table / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(8 << 20)  # sparse: 8 MiB apparent size, no data blocks
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(d))
    importlib.reload(S)
    real_stat = os.stat
    calls = []

    def counting_stat(path, *a, **kw):
        calls.append(path)
        return real_stat(path, *a, **kw)

    monkeypatch.setattr(os, "stat", counting_stat)
    # cap at cpus=1: 4 x 16 MiB = 64 MiB, reached after 8 of the 200 files
    assert S._derived_shuffle_partitions(1) == 4
    file_stats = [p for p in calls if str(p).endswith(".parquet") and "part-" in str(p)]
    assert len(file_stats) == 8
    assert len(calls) < 20
    # a wide cap still walks everything: 200 x 8 MiB / 16 MiB + 1
    assert S._derived_shuffle_partitions(32) == n_files * 8 // 16 + 1


def test_round_artifact_gated_on_main_run_cpus(tmp_path, monkeypatch, capsys):
    """The round-pinned artifact is written only when this run's core count
    equals the main run's (the cpus stamp of the newest stamped
    BENCH_r*_full.json, else 32), never inferred from the host's core
    count, and every skip says so on stderr."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "BENCH_CPUS", 32)
    # no stamped round artifact yet: the main run is the default 32 cores
    assert bench._main_run_cpus() == 32
    assert bench._round_artifact_name(15, 0.1) == "BENCH_r15_full.json"
    assert bench._round_artifact_name(15, 1.0) == "BENCH_r15_sf1_full.json"
    assert capsys.readouterr().err == ""
    assert bench._round_artifact_name(None, 0.1) is None
    assert "round artifact skipped" in capsys.readouterr().err
    assert bench._round_artifact_name(15, 0.01) is None
    assert "round artifact skipped" in capsys.readouterr().err
    # a scaling leg (8 cores) writes no round artifact
    monkeypatch.setattr(bench, "BENCH_CPUS", 8)
    assert bench._round_artifact_name(15, 0.1) is None
    assert "cpus 8 is not the main run's 32" in capsys.readouterr().err
    # the newest stamped round artifact sets the main count; unstamped
    # legacy artifacts are passed over
    _write(tmp_path / "BENCH_r13_full.json", cpus=8)
    _write(tmp_path / "BENCH_r14_full.json")
    assert bench._main_run_cpus() == 8
    assert bench._round_artifact_name(15, 0.1) == "BENCH_r15_full.json"
    _write(tmp_path / "BENCH_r14_sf1_full.json", cpus=32)
    assert bench._main_run_cpus() == 32


def test_repo_main_run_is_32_cores():
    """The repo's own round artifacts name 32 cores as the main run, so a
    default bench run (SPARK_GRAFT_CPUS unset) writes the round artifact
    and an 8-core scaling leg does not."""
    assert bench._main_run_cpus() == 32


def _fake_clock(monkeypatch, durations):
    """Make bench.best_of read ``durations`` (seconds per call) from
    perf_counter: each run reads 0.0 before and its duration after the
    timed function.  Returns that function and the list of its calls."""
    readings = [t for d in durations for t in (0.0, d)]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: readings.pop(0))
    calls: list[None] = []
    return lambda: calls.append(None), calls


@pytest.mark.parametrize("runs", [1, 2, 3])
def test_best_of_up_to_three_runs_is_the_minimum(monkeypatch, runs):
    """The plateau stop cannot fire before run 3, so runs <= 3 makes
    exactly ``runs`` calls and returns their minimum, whatever the order."""
    for durations in ([5.0, 4.9, 4.8], [1.0, 2.0, 3.0], [2.0, 1.0, 1.5]):
        fn, calls = _fake_clock(monkeypatch, durations[:runs])
        assert bench.best_of(fn, runs) == min(durations[:runs])
        assert len(calls) == runs


def test_best_of_stops_after_two_runs_without_a_10pct_gain(monkeypatch):
    # run 2 is a 10% gain; runs 3 and 4 each miss 0.9 x best = 0.81
    fn, calls = _fake_clock(monkeypatch, [1.0, 0.9, 0.85, 0.82, 0.1, 0.1, 0.1])
    assert bench.best_of(fn, 7) == 0.82
    assert len(calls) == 4


def test_best_of_gain_resets_the_strike_count(monkeypatch):
    # strike (run 2), gain resets (run 3), strike (run 4), gain (run 5),
    # then two strikes in a row end the loop at run 7
    fn, calls = _fake_clock(monkeypatch, [1.0, 0.95, 0.5, 0.49, 0.3, 0.29, 0.28])
    assert bench.best_of(fn, 7) == 0.28
    assert len(calls) == 7
    fn, calls = _fake_clock(monkeypatch, [1.0, 0.95, 0.5, 0.49, 0.48, 0.1, 0.1])
    assert bench.best_of(fn, 7) == 0.48
    assert len(calls) == 5
