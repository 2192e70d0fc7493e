"""``ingest``: HTTP uploads drained by the three streaming queries.

Closed loop.  The load generator (its own process) POSTs the run's uploads to
``IngestHttpServer`` on one connection, one at a time; then the ``raw``,
``precip`` and ``daily_temp`` queries (``start_ingest`` +
``start_daily_temp_rollup`` over ``parsed_observations``) drain them one
upload per microbatch (``maxFilesPerTrigger=1``, ``availableNow``).  An
upload is committed when the slowest of the three queries has committed its
batch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb

from common import median, sut_cpu_s
from gen import FIELDS, ingest_uploads

N_STATIONS = 1000
# the JIT is still compiling the batch path for the first few batches: they
# run about twice as long as the tenth, so they are drained before timing
WARM_UPLOADS = 3
UPLOADS_PER_SECOND = 0.35  # sized so a run drains for about --seconds
QUERIES = ("raw", "precip", "daily_temp")

LAYER_METRICS = [
    "streaming.http_ingest.post_ms_p50",
    *[f"streaming.{q}.{m}" for q in QUERIES for m in (
        "trigger_ms_p50", "add_batch_ms_p50", "planning_ms_p50",
        "offsets_ms_p50", "commit_ms_p50")],
    *[f"streaming.{q}.{m}" for q in ("precip", "daily_temp") for m in (
        "state_rows", "state_mb", "state_commit_ms_p50")],
    "sources.sinks.files_written",
    "sources.sinks.mb_written",
]


class _Client:
    """The load generator process, fed one range of uploads per line."""

    def __init__(self, port: int, uploads: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "loadgen.py"),
             "--port", str(port), "--uploads", uploads],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def post(self, first: int, end: int) -> list[list]:
        self.proc.stdin.write(f"{first} {end}\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("ingest load generator exited")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)


def _start_queries(ctx, paths: dict) -> dict:
    from killrweather_spark.streaming.pipeline import (
        parsed_observations,
        start_daily_temp_rollup,
        start_ingest,
    )

    lines = ctx.spark.readStream.option("maxFilesPerTrigger", 1).text(paths["staging"])
    obs = parsed_observations(lines)
    trig = {"availableNow": True}
    with ctx.tracer.span("streaming.start_ingest"):
        raw_q, precip_q = start_ingest(obs, paths["raw"], paths["precip"],
                                       paths["ckpt"], trigger=trig)
    with ctx.tracer.span("streaming.start_daily_temp_rollup"):
        temp_q = start_daily_temp_rollup(obs, paths["temp"], paths["ckpt"], trigger=trig)
    return {"raw": raw_q, "precip": precip_q, "daily_temp": temp_q}


def _drain(ctx, paths: dict) -> dict[str, list[dict]]:
    """Run the three queries until the staged uploads are consumed; returns
    each query's progress for batches that read input."""
    qs = _start_queries(ctx, paths)
    for q in qs.values():
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{q.name or q.id}: {q.exception()}")
    return {k: [p for p in (json.loads(x.json) for x in q.recentProgress)
                if p["numInputRows"] > 0] for k, q in qs.items()}


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _phase(ctx, paths, client, first: int, n: int) -> dict:
    """POST uploads [first, first+n), then drain them; the timed unit."""
    cpu0 = sut_cpu_s(ctx.spark)
    with ctx.tracer.span("loadgen.post"):
        posts = client.post(first, first + n)
    with ctx.tracer.span("streaming.drain"):
        progress = _drain(ctx, paths)
    commit = [max(progress[q][b]["durationMs"]["triggerExecution"] for q in QUERIES)
              for b in range(min(len(v) for v in progress.values()))]
    return {"posts": posts, "progress": progress, "commit_ms": commit,
            "cpu_s": sut_cpu_s(ctx.spark) - cpu0}


def prepare(ctx) -> None:
    ctx.uploads = os.path.join(ctx.data_dir, "uploads")
    os.makedirs(ctx.uploads)
    n_total = WARM_UPLOADS + _timed_uploads(ctx) * (2 if ctx.trace else 1)
    # one spare upload takes the late rows whose delivery falls past the run
    for u, body in enumerate(ingest_uploads(ctx.seed, N_STATIONS, n_total + 1)):
        with open(os.path.join(ctx.uploads, f"u{u:05d}.csv"), "wb") as f:
            f.write(body)


def _timed_uploads(ctx) -> int:
    return max(4, round(ctx.seconds * UPLOADS_PER_SECOND))


def run(ctx) -> dict:
    from killrweather_spark.streaming.http_ingest import IngestHttpServer

    n_timed = _timed_uploads(ctx)
    paths = {k: os.path.join(ctx.workdir, k)
             for k in ("staging", "raw", "precip", "temp", "ckpt")}
    paths["uploads"] = ctx.uploads
    server = IngestHttpServer(paths["staging"]).start()
    client = _Client(server.port, paths["uploads"])
    listener = None
    try:
        warm = _phase(ctx, paths, client, 0, WARM_UPLOADS)
        ctx.mark_setup_done()
        phases = [_phase(ctx, paths, client, WARM_UPLOADS, n_timed)]
        ctx.mark_timed_done()
        if ctx.trace:
            from tracing import ProgressListener

            listener = ProgressListener()
            ctx.spark.streams.addListener(listener)
            before = _files(ctx.workdir)
            ctx.tracer.enabled = True
            phases.append(_phase(ctx, paths, client, WARM_UPLOADS + n_timed, n_timed))
            ctx.tracer.enabled = False
            time.sleep(0.5)  # let the listener bus deliver the last events
            written = {p: s for p, s in _files(ctx.workdir).items() if p not in before}
    finally:
        client.close()
        server.stop()

    n_posted = WARM_UPLOADS + n_timed * len(phases)
    posts = warm["posts"] + [p for ph in phases for p in ph["posts"]]
    check = check_outputs(paths, n_posted, posts)
    out = {
        "check": check,
        "attempted": n_posted,
        "phases": [_e2e(ph) for ph in phases],
    }
    if listener is not None:
        out["layers"] = _layers(ctx.tracer, phases[1], listener.snapshot(), written)
    return out


def _e2e(ph: dict) -> dict:
    c = ph["commit_ms"]
    return {"latency_ms": median(c), "cpu_ms": ph["cpu_s"] * 1000.0 / len(c),
            "samples": len(c), "values": c}


def _layers(tracer, ph: dict, events: list[dict], written: dict[str, int]) -> dict:
    """Per-layer metrics from the listener's progress events, which also
    become one span per microbatch."""
    from tracing import epoch

    out = {"streaming.http_ingest.post_ms_p50": median([p[1] for p in ph["posts"]])}
    for q in QUERIES:
        runs = {p["runId"] for p in ph["progress"][q]}
        evs = [e for e in events if e["runId"] in runs and e["numInputRows"] > 0]
        for e in evs:
            start = epoch(e["timestamp"])
            tracer.add(f"streaming.{q}.batch", start,
                       start + e["durationMs"]["triggerExecution"] / 1000.0,
                       batch=e["batchId"], rows=e["numInputRows"])
        dur = [e["durationMs"] for e in evs]

        def p50(*keys):
            return median([sum(d.get(k, 0) for k in keys) for d in dur])

        out[f"streaming.{q}.trigger_ms_p50"] = p50("triggerExecution")
        out[f"streaming.{q}.add_batch_ms_p50"] = p50("addBatch")
        out[f"streaming.{q}.planning_ms_p50"] = p50("queryPlanning")
        out[f"streaming.{q}.offsets_ms_p50"] = p50("latestOffset", "getBatch")
        out[f"streaming.{q}.commit_ms_p50"] = p50("walCommit", "commitOffsets")
        if q != "raw":
            ops = [e["stateOperators"][0] for e in evs if e["stateOperators"]]
            out[f"streaming.{q}.state_rows"] = ops[-1]["numRowsTotal"]
            out[f"streaming.{q}.state_mb"] = ops[-1]["memoryUsedBytes"] / 2**20
            out[f"streaming.{q}.state_commit_ms_p50"] = median(
                [o["commitTimeMs"] for o in ops])
    out["sources.sinks.files_written"] = len(written)
    out["sources.sinks.mb_written"] = sum(written.values()) / 2**20
    return out


def check_outputs(paths: dict, n_posted: int, posts: list[list]) -> dict:
    """The raw table and both tiers against DuckDB over the posted uploads.
    Tier formulas follow the inventory's fixed-point oracles (``daily_stats``
    and ``_DAILY_SUM_SQL`` shapes)."""
    files = [os.path.join(paths["uploads"], f"u{u:05d}.csv") for u in range(n_posted)]
    cols = ", ".join(f"'{f}': '{t}'" for f, t in zip(FIELDS, (
        "VARCHAR", "INT", "INT", "INT", "INT", "DOUBLE", "DOUBLE", "DOUBLE",
        "INT", "DOUBLE", "INT", "DOUBLE", "DOUBLE")))
    con = duckdb.connect()
    con.execute(f"CREATE TABLE up AS SELECT * FROM read_csv({files!r}, header=false, "
                f"columns={{{cols}}})")

    def tier(path: str) -> str:
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"

    raw_cols = ", ".join(FIELDS)
    raw_diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {raw_cols} FROM up EXCEPT ALL "
        f"SELECT {raw_cols} FROM {tier(paths['raw'])}) UNION ALL "
        f"(SELECT {raw_cols} FROM {tier(paths['raw'])} EXCEPT ALL "
        f"SELECT {raw_cols} FROM up))").fetchone()[0]
    precip_bad = con.execute(f"""
        WITH o AS (SELECT wsid, year, month, day, SUM(one_hour_precip) AS p
                   FROM up GROUP BY ALL),
             s AS (SELECT wsid, year::INT AS year, month::INT AS month, day,
                          precipitation AS p FROM {tier(paths['precip'])})
        SELECT count(*) FROM o FULL OUTER JOIN s USING (wsid, year, month, day)
        WHERE o.p IS NULL OR s.p IS NULL OR abs(o.p - s.p) > 1e-9
    """).fetchone()[0]
    temp_bad = con.execute(f"""
        WITH a AS (SELECT wsid, year, month, day, MAX(temperature) AS high,
                          MIN(temperature) AS low, COUNT(*) AS n,
                          SUM(CAST(ROUND(temperature * 100) AS BIGINT)) AS sx,
                          SUM(CAST(ROUND(temperature * temperature * 100 * 100)
                              AS BIGINT)) AS sxx
                   FROM up GROUP BY ALL),
             o AS (SELECT *, (sx / 100.0) / n AS mean FROM a),
             o2 AS (SELECT *, GREATEST(0.0, (sxx / 10000.0) / n - mean * mean)
                           AS variance FROM o),
             s AS (SELECT wsid, year::INT AS year, month::INT AS month, day, high,
                          low, mean, variance, stdev FROM {tier(paths['temp'])})
        SELECT count(*) FROM o2 FULL OUTER JOIN s USING (wsid, year, month, day)
        WHERE s.high IS NULL OR o2.high IS NULL OR o2.high <> s.high
           OR o2.low <> s.low OR o2.mean <> s.mean OR o2.variance <> s.variance
           OR sqrt(o2.variance) <> s.stdev
    """).fetchone()[0]
    con.close()
    rejected = sum(1 for status, _ in posts if status != 200)
    causes = {k: v for k, v in (("rejected uploads", rejected),
                                ("raw rows differing", raw_diff),
                                ("precip tier keys differing", precip_bad),
                                ("temperature tier keys differing", temp_bad)) if v}
    return {"correct": raw_diff == 0 and precip_bad == 0 and temp_bad == 0,
            "failed": rejected + (n_posted - rejected if raw_diff or precip_bad
                                  or temp_bad else 0),
            "causes": causes}
