"""Seeded synthetic inputs for the benchmark workloads.

Every generator takes the run's ``--seed`` and nothing else that varies, so
the same seed gives the same bytes:

- ISD-lite observation lines: the 13 positional fields of
  ``RAW_WEATHER_CSV_SCHEMA`` (``wsid,year,month,day,hour,temperature,...``);
- ingest uploads: one hour of readings from every station per upload, with a
  seeded share of rows held back and delivered up to two days late;
- the registry's ten testdata tables, shaped like the repository's
  TPC-H-ish fixtures (TESTDATA.md).

Only numpy and pyarrow are used: generation starts no JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIELDS = [
    "wsid", "year", "month", "day", "hour", "temperature", "dewpoint",
    "pressure", "wind_direction", "wind_speed", "sky_condition",
    "one_hour_precip", "six_hour_precip",
]

def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def station_ids(n: int) -> list[str]:
    """``USAF:WBAN``-shaped ids, unique for any n < 100000."""
    return [f"{720000 + 7 * i:06d}:{10000 + 13 * i % 89989:05d}" for i in range(n)]


def observations(seed: int, stream: int, n_stations: int, start: dt.datetime,
                 n_hours: int) -> dict[str, np.ndarray]:
    """Hourly readings for every station, hour-major (all stations of hour 0,
    then hour 1, ...).  Values carry one decimal, as ISD-lite does."""
    rng = _rng(seed, stream)
    n = n_stations * n_hours
    base = _rng(seed, 2).normal(10.0, 8.0, n_stations)  # per-station climate
    h_idx = np.repeat(np.arange(n_hours), n_stations)
    s_idx = np.tile(np.arange(n_stations), n_hours)
    times = [start + dt.timedelta(hours=int(h)) for h in range(n_hours)]
    cal = np.array([[t.year, t.month, t.day, t.hour] for t in times])[h_idx]
    temp = np.round(
        base[s_idx] + 6.0 * np.sin(2 * np.pi * (cal[:, 3] - 9) / 24.0)
        + rng.normal(0.0, 1.5, n), 1,
    )
    wet = rng.random(n) < 0.15
    p1 = np.where(wet, np.round(rng.exponential(1.2, n), 1), 0.0)
    return {
        "wsid": np.array(station_ids(n_stations), dtype=object)[s_idx],
        "year": cal[:, 0], "month": cal[:, 1], "day": cal[:, 2],
        "hour": cal[:, 3],
        "temperature": temp,
        "dewpoint": np.round(temp - np.abs(rng.normal(4.0, 2.0, n)), 1),
        "pressure": np.round(rng.normal(1013.0, 8.0, n), 1),
        "wind_direction": rng.integers(0, 360, n),
        "wind_speed": np.round(np.abs(rng.normal(4.0, 3.0, n)), 1),
        "sky_condition": rng.integers(0, 20, n),
        "one_hour_precip": p1,
        "six_hour_precip": np.round(p1 * rng.uniform(1.0, 4.0, n), 1),
    }


def csv_lines(obs: dict[str, np.ndarray], rows) -> bytes:
    """The selected rows as ISD-lite CSV lines (zero-padded calendar fields,
    one decimal on measures)."""
    cols = [obs[f] for f in FIELDS]
    out = []
    for i in rows:
        (w, y, mo, d, h, t, dp, p, wd, ws, sky, p1, p6) = (c[i] for c in cols)
        out.append(
            f"{w},{y},{mo:02d},{d:02d},{h:02d},{t:.1f},{dp:.1f},{p:.1f},"
            f"{wd},{ws:.1f},{sky},{p1:.1f},{p6:.1f}\n"
        )
    return "".join(out).encode()


# -- ingest ------------------------------------------------------------------

INGEST_START = dt.datetime(2024, 1, 31, 21)  # the month turns at upload 3


def ingest_uploads(seed: int, n_stations: int, n_uploads: int,
                   late_share: float = 0.05, max_late_h: int = 48) -> list[bytes]:
    """Upload ``u`` holds hour ``u``'s on-time readings plus the late readings
    whose delivery hour is ``u``; each (station, hour) reading is delivered
    exactly once, so primary keys stay unique."""
    obs = observations(seed, 3, n_stations, INGEST_START, n_uploads)
    rng = _rng(seed, 4)
    n = n_stations * n_uploads
    hour = np.repeat(np.arange(n_uploads), n_stations)
    delay = np.where(rng.random(n) < late_share,
                     rng.integers(1, max_late_h + 1, n), 0)
    deliver = np.minimum(hour + delay, n_uploads - 1)
    order = np.argsort(deliver, kind="stable")
    bounds = np.searchsorted(deliver[order], np.arange(n_uploads + 1))
    return [csv_lines(obs, order[bounds[u]:bounds[u + 1]]) for u in range(n_uploads)]


# -- registry ----------------------------------------------------------------

_WORDS = (
    "a the data table row column key value part line order customer query "
    "scan join agg group sort hash merge filter window stream batch spark "
    "vector big small fast slow"
).split()
_LANGS = ["en"] * 11 + ["de"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["zh"] * 3


def registry_tables(seed: int, out_dir: str, scale: float = 0.01) -> None:
    """The ten testdata tables at ``scale`` (sf), one parquet file each.

    Shapes follow the repository's fixtures: a TPC-H-ish star schema, an
    ``events`` stream over January 2024, short documents over a small
    vocabulary, and 64-dim float32 embeddings with ten labels."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 7)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(200, int(50000 * scale)), max(200, int(50000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
        base = np.datetime64(start, "us")
        return pa.array(base + seconds.astype("timedelta64[us]"), pa.timestamp("us"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    write("customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist(),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"])
    write("part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                               noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400 * 10**6),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * 86400 * 10**6),
    })
    ev_types = np.array(["click", "signup", "error", "view", "purchase"])
    ev_secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": ts(dt.datetime(2024, 1, 1), ev_secs),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), i64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    words = [np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]
             for k in rng.integers(8, 90, n_doc)]
    # near-duplicates: one document in twelve re-edits an earlier one, so the
    # dedup queries have pairs to find (a fixed count: every seed does the
    # same amount of work)
    for i in np.sort(rng.choice(np.arange(1, n_doc), n_doc // 12, replace=False)):
        w = words[int(rng.integers(0, i))].copy()
        edits = rng.random(len(w)) < 0.1
        w[edits] = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(edits.sum()))]
        words[i] = w
    texts = [" ".join(w) for w in words]
    write("documents", {
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)].tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
