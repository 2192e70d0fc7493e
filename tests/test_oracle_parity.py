"""Value-exact parity of every SQL-expressible query vs the DuckDB oracle.

This mirrors the driver's CORRECTNESS gate at sf=0.01 (TESTDATA.md): any
failure here would fail the real gate too.
"""

from __future__ import annotations

import pytest

from killrweather_spark.api.inventory import REGISTRY
from tests.conftest import SF01
from tests.oracle_harness import compare, duck_connection


@pytest.fixture(scope="session")
def oracle_sf01():
    # session scope: the registry sweep interleaves this module's tests
    # with test_plans.py's, which would rebuild a module-scoped connection
    # once per query
    con = duck_connection(SF01)
    yield con
    con.close()


def test_all_queries_match_oracle(built_query, oracle_sf01):
    sql = REGISTRY[built_query.name].sql
    if sql is None:
        pytest.skip("no oracle SQL (QuerySpec.sql is None)")
    r = compare(built_query.name, built_query.df, oracle_sf01, sql)
    assert r.ok, (
        f"rows(spark={r.spark_rows}, oracle={r.oracle_rows}) "
        f"max_abs_err={r.max_abs_err!r} :: " + " | ".join(r.messages)
    )


def test_edge_fixture_parity(spark, tmp_path):
    """Latent cross-engine cases the shipped testdata never triggers,
    exercised through the SAME harness: a zero-norm embedding sitting in a
    cluster (must not shift SemDeDup's n_sub/bucketing or crash cosine),
    and a user whose latest pre-cutoff event is a delete (must be absent
    from the CDC snapshot on BOTH engines)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fx = tmp_path / "fixture"
    fx.mkdir()
    for t in ("region nation customer supplier part orders lineitem "
              "documents").split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", fx / f"{t}.parquet")

    # embeddings: 2 clusters incl. one ZERO vector in cluster 0
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 0),   # zero-norm: excluded everywhere
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.95, 0.05, 0.0], 1),
    ]
    pq.write_table(
        pa.table({
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }),
        fx / "embeddings.parquet",
    )

    # events: u1 normal; u2's LATEST pre-cutoff event is a delete ('error');
    # u3 deleted pre-cutoff then re-inserted by the change window; plus a
    # TIED-timestamp pair for u1 (total-order tiebreak must hold)
    import datetime as dt

    def e(eid, ts, uid, typ, val):
        return (eid, dt.datetime(2024, 1, ts[0], ts[1]), uid, typ, float(val), "{}")

    events = [
        e(1, (2, 0), 10, "click", 1.0),
        e(2, (3, 0), 10, "purchase", 2.0),
        e(3, (3, 0), 10, "click", 3.0),       # tied ts with event_id 2
        e(4, (4, 0), 20, "click", 4.0),
        e(5, (5, 0), 20, "error", 0.0),       # u20 deleted pre-cutoff
        e(6, (6, 0), 30, "error", 0.0),       # u30 deleted pre-cutoff...
        e(7, (20, 0), 30, "click", 7.0),      # ...re-inserted in the window
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array([x[0] for x in events], pa.int64()),
            "ts": pa.array([x[1] for x in events],
                           pa.timestamp("us")),
            "user_id": pa.array([x[2] for x in events], pa.int64()),
            "event_type": pa.array([x[3] for x in events]),
            "value": pa.array([x[4] for x in events], pa.float64()),
            "props": pa.array([x[5] for x in events]),
        }),
        fx / "events.parquet",
    )

    con = duck_connection(str(fx))
    # r05 additions: the LSH screen family runs the same doctored table —
    # the zero-norm TRAIN vector (id 2) must fall out of every screen via
    # the cosine_norms exclusion without crashing bucket assembly (a zero
    # vector still gets a bucket: all projections 0 → all '1' bits)
    screens = ("semantic_eval_screen", "semantic_eval_screen_vectorized",
               "semantic_eval_screen_lsh", "semantic_eval_screen_banded")
    # The registered exact screens bake dim=_EMB_DIM (64) into both
    # engines' ragged-vector exclusion, which on this 4-dim fixture would
    # exclude EVERY vector — both sides empty, the zero-norm assertion
    # vacuous.  Re-parameterize the exact pair with the fixture's dim so
    # the exclusion path stays genuinely exercised (ADVICE r07).
    from killrweather_spark.api.inventory import (
        _exact_screen_sql, _SCREEN_THRESHOLD,
    )
    from killrweather_spark.functions.similarity import (
        semantic_screen, semantic_screen_vectorized,
    )
    from killrweather_spark.sources.readers import load_table

    edge_dim = 4
    emb_fx = load_table(spark, str(fx), "embeddings")
    exact_fns = {
        "semantic_eval_screen": semantic_screen,
        "semantic_eval_screen_vectorized": semantic_screen_vectorized,
    }
    for name in ("semantic_dup_candidates", "cosine_topk",
                 "cdc_merge_snapshot", "semantic_screen_recall",
                 "semantic_screen_recall_banded") + screens:
        if name in exact_fns:
            df = exact_fns[name](emb_fx, lambda c: c % 10 == 0,
                                 threshold=_SCREEN_THRESHOLD, dim=edge_dim)
            d = compare(name, df, con, _exact_screen_sql(dim=edge_dim))
        else:
            spec = REGISTRY[name]
            df = spec.fn(spark, str(fx))
            d = compare(name, df, con, spec.sql)
        assert d.ok, (name, d.messages[:3])
        if name in screens:  # zero-norm train never flagged
            rows = df.collect()
            assert rows, f"{name}: edge screen returned no rows (vacuous)"
            assert 2 not in {r.train_id for r in rows}, name

    # the semantics themselves, independent of the oracle:
    snap = {r.user_id: r.last_event_id
            for r in REGISTRY["cdc_merge_snapshot"].fn(spark, str(fx)).collect()}
    assert 20 not in snap          # deleted key absent from the snapshot
    assert snap[30] == 7           # delete then re-insert survives
    assert snap[10] == 3           # tied ts broken by event_id DESC


class _CountingConnection:
    def __init__(self, con):
        self._con, self.executes = con, 0

    def execute(self, sql):
        self.executes += 1
        return self._con.execute(sql)


def test_compare_runs_each_oracle_statement_once(spark):
    """``compare`` reads the oracle's rows and column names from one
    ``execute``; a mismatch still reports the count and the first rows,
    in sorted-column order on both sides."""
    import duckdb

    con = _CountingConnection(duckdb.connect())
    sdf = spark.createDataFrame([(1, 2.5), (2, 3.0)], "b long, a double")
    sql = (
        "SELECT * FROM (VALUES (1, 2.5::DOUBLE), (2, 3.5::DOUBLE)) t(b, a)"
    )
    d = compare("q", sdf, con, sql)
    assert con.executes == 1
    assert not d.ok and (d.spark_rows, d.oracle_rows) == (2, 2)
    assert d.max_abs_err == 0.5
    assert d.messages == [
        "1 mismatching rows",
        "row 1: spark=(3.0, 2) oracle=(3.5, 2)",
    ]
    same = (
        "SELECT * FROM (VALUES (2, 3.0::DOUBLE), (1, 2.5::DOUBLE)) t(b, a)"
    )
    assert compare("q", sdf, con, same).ok
    assert con.executes == 2
