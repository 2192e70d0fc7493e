"""Local replica of the driver's DuckDB-oracle compare.

Runs each registered Spark query and its oracle SQL on the same parquet
tables, sorts both results by all columns, and diffs values.  ``compare``
serves ``tests/test_oracle_parity.py`` (one test per registered query) so
dialect/precision bugs surface locally before CORRECTNESS_r{N}.json
does; ``run_all`` sweeps the registry for ``scripts/parity.py`` and the
scale sweep.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


@dataclass
class Diff:
    name: str
    ok: bool
    detail: str = ""
    max_abs_err: float = 0.0
    spark_rows: int = 0
    oracle_rows: int = 0
    messages: list[str] = field(default_factory=list)


def compare(name: str, spark_df, con, sql: str, float_tol: float = 0.0) -> Diff:
    """Compare a Spark DataFrame against DuckDB SQL output.

    ``float_tol=0.0`` = exact match (what the driver's value-hash implies).
    A nonzero tol is only for local debugging to see how close we are.
    """
    # Sort columns by name — the driver's compare sorts columns by name too.
    spark_cols = sorted(spark_df.columns)
    sdf = spark_df.select(*spark_cols)
    srows = [tuple(_norm(v) for v in r) for r in sdf.collect()]

    cur = con.execute(sql)
    raw_cols = [d[0] for d in cur.description]
    ores = cur.fetchall()
    ocols = sorted(raw_cols)
    # reorder oracle rows to sorted-column order
    idx = [raw_cols.index(c) for c in ocols]
    orows = [tuple(_norm(r[i]) for i in idx) for r in ores]

    d = Diff(name=name, ok=True, spark_rows=len(srows), oracle_rows=len(orows))
    if spark_cols != ocols:
        d.ok = False
        d.messages.append(f"schema mismatch: spark={spark_cols} oracle={ocols}")
        return d
    if len(srows) != len(orows):
        d.ok = False
        d.messages.append(f"rowcount mismatch: spark={len(srows)} oracle={len(orows)}")
        return d

    srows.sort(key=_sort_key)
    orows.sort(key=_sort_key)
    n_bad = 0
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a == b:
            continue
        # cell-level compare with float awareness
        row_ok = True
        for ca, cb in zip(a, b):
            if ca == cb:
                continue
            if isinstance(ca, float) and isinstance(cb, float):
                err = abs(ca - cb)
                d.max_abs_err = max(d.max_abs_err, err)
                if err > float_tol:
                    row_ok = False
            else:
                row_ok = False
        if not row_ok:
            n_bad += 1
            if n_bad <= 3:
                d.messages.append(f"row {i}: spark={a} oracle={b}")
    if n_bad:
        d.ok = False
        d.messages.insert(0, f"{n_bad} mismatching rows")
    return d


def run_all(spark, sf_dir: str, names: list[str] | None = None, float_tol: float = 0.0):
    from killrweather_spark.api.inventory import REGISTRY

    con = duck_connection(sf_dir)
    results = []
    for name, spec in REGISTRY.items():
        if names and name not in names:
            continue
        if spec.sql is None:
            continue
        try:
            results.append(compare(name, spec.fn(spark, sf_dir), con, spec.sql, float_tol))
        except Exception as e:  # noqa: BLE001 — harness reports, test asserts
            results.append(Diff(name=name, ok=False, messages=[f"EXC: {e}"]))
    return results
