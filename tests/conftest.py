from __future__ import annotations

from dataclasses import dataclass

import pytest
from pyspark.sql import DataFrame

from killrweather_spark.api.inventory import REGISTRY
from killrweather_spark.plans import checks
from killrweather_spark.session import get_session
from killrweather_spark.streaming.protobuf_shim import enable_vendored_protobuf

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

# Must run at import time, BEFORE any SparkSession launches the JVM: the
# gateway snapshots the driver environment, and transformWithStateInPandas
# workers need the shim's PYTHONPATH entry to find google.protobuf.
PROTOBUF_STATUS = enable_vendored_protobuf()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_session(
        app_name="killrweather_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            # static conf: must be set at session creation (catalog tables in
            # the bucketed-layout tests land in a throwaway warehouse)
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@dataclass
class BuiltQuery:
    name: str
    df: DataFrame
    plan: str  # formatted before any action ran on ``df``


@pytest.fixture(scope="session", params=list(REGISTRY))
def built_query(request, spark):
    """One registered query built once at sf0.01 for every gate that
    sweeps the registry (oracle parity, row-Python, unpartitioned window).
    Session scope makes pytest run all of one query's gates back to back,
    then release its frame before the next query is built.

    Building a streaming row drains its whole availableNow stream, so the
    build must leave no streaming query running.  That is checked here,
    not at teardown: pytest tears a session fixture down at the next
    query's setup and would report the leak there."""
    name = request.param
    running = {q.id for q in spark.streams.active}
    df = REGISTRY[name].fn(spark, SF01)
    plan = checks.formatted_plan(df)
    left = [q for q in spark.streams.active if q.id not in running]
    for q in left:
        q.stop()
    assert not left, f"{name} left streams running: {[q.name for q in left]}"
    yield BuiltQuery(name, df, plan)
