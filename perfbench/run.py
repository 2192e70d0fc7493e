"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,registry} --seed N
                             --seconds S --trace {0,1}

Runs one workload in this (fresh) process against the engine in the
checkout, checks its outputs, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``).  Exits 1 when an output is wrong.

Everything the run writes stays under ``perfbench/.work/``; the traced run
keeps its span file there (``traces/<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the engine under test: the checkout's package
WORKLOADS = ("ingest", "registry")
DEADLINE_S = 170.0  # the run is abandoned (exit 3) rather than overrun 180 s


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, workdir: str, data_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.data_dir = data_dir
        self.spark = None
        self.tracer = None
        self.session_s: float | None = None
        self.setup_s: float | None = None
        self.rss_mb: float | None = None
        self.steal_share: float | None = None
        self.rss_split: dict[str, float] = {}

    def mark_setup_done(self) -> None:
        """Call just before the first timed operation."""
        from common import cpu_ticks

        self.setup_s = time.perf_counter() - T_PROCESS
        self._ticks = cpu_ticks()

    def mark_timed_done(self) -> None:
        """Call right after the untraced timed phase: peak RSS of this
        process plus its JVM, before the output checks allocate anything;
        and the share of the machine's CPU time the hypervisor took away
        (steal) during the phase, for reading the result."""
        from common import cpu_ticks, jvm_process, vm_hwm_mb

        busy, steal = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.steal_share = steal / max(1, busy + steal)
        jvm = jvm_process(self.spark)
        self.rss_split = {"python_mb": vm_hwm_mb(os.getpid()),
                          "jvm_mb": vm_hwm_mb(jvm.pid) if jvm else 0.0}
        self.rss_mb = sum(self.rss_split.values())


def _watchdog() -> None:
    """Kill every process this run started, then leave with code 3."""
    from common import descendants

    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    sys.stderr.write(f"perfbench: run exceeded {DEADLINE_S:.0f} s, abandoned\n")
    os._exit(3)


def _metrics(bench: dict, ctx: Context, res: dict) -> dict:
    if not ctx.trace:
        e2e = {"setup_s": ctx.setup_s, "peak_rss_mb": ctx.rss_mb, **res["phases"][0]}
        return {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                for m in bench["end_to_end"]}
    plain, traced = res["phases"]
    layers = dict(res.get("layers", {}))
    layers["latency_ms"] = plain["latency_ms"]
    layers["session.start_s"] = ctx.session_s
    layers["trace.samples"] = traced["samples"]
    for k in ("latency_ms", "cpu_ms"):
        layers[f"trace.overhead.{k}"] = traced[k] / plain[k]
    unknown = set(layers) - {m["name"] for m in bench["per_layer"]}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not run did no work: it reads 0
    return {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
            for m in bench["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(workdir, "data")
    os.makedirs(data_dir, exist_ok=True)
    try:
        return _run(args, bench, workdir, data_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, bench: dict, workdir: str, data_dir: str) -> int:
    from common import pin_environment, start_session, stamp, stop_session

    env = pin_environment(workdir, data_dir)
    # the JVM and the Python workers inherit stdout: point it at stderr so
    # the result stays the last line of the real standard output
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS), _watchdog)
    timer.daemon = True
    timer.start()

    import importlib

    from tracing import Tracer

    workload = importlib.import_module(args.workload)
    ctx = Context(args, workdir, data_dir)
    ctx.tracer = Tracer(enabled=False)
    workload.prepare(ctx)  # inputs first: the session sizes itself from them
    t0 = time.perf_counter()
    ctx.spark = start_session(f"perfbench-{args.workload}", workdir)
    ctx.session_s = time.perf_counter() - t0
    try:
        info = stamp(ctx.spark, args.seed, env)
        res = workload.run(ctx)
    finally:
        stop_session(ctx.spark)
    timer.cancel()

    check = res["check"]
    metrics = _metrics(bench, ctx, res)
    if ctx.trace:
        traces = os.path.join(HERE, ".work", "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    sys.stderr.write(json.dumps({"workload": args.workload, **info, **ctx.rss_split,
                                 "steal_share": ctx.steal_share,
                                 "timed_values": [ph.get("values") for ph in res["phases"]],
                                 "failure_causes": check["causes"]}) + "\n")
    result_out.write(json.dumps({
        "correct": bool(check["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(check["failed"]),
        "metrics": metrics,
    }) + "\n")
    result_out.flush()
    return 0 if check["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
