"""Constant frames stay on the JVM.

``spark.createDataFrame(list)`` builds its rows as a Python RDD, and
every plan that reads such a frame re-runs it in Python workers — even
for zero rows.  The engine's constant frames (empty frontier and token
state, the INTERNAL_HOST politeness row, control rows, the projects-dim
policy) are built with ``frontier.literal_frame`` instead.  These tests
pin that each keeps the schema the old ``createDataFrame`` construction
gave it (names, types, nullability) and that no epoch builds a
driver-pickled frame."""

import pytest
from pyspark.sql import SparkSession

from crawler_pyspider_spark.engine import Callback, CrawlEngine, Handler
from crawler_pyspider_spark.functions.urls import INTERNAL_HOST
from crawler_pyspider_spark.operators import frontier as FR

CONTROL_DDL = (
    "url string, project string, priority int, exetime double,"
    " callback string, seq long"
)
POLICY_DDL = "key string, rate double, burst double"
TOKEN_DDL = "host string, tokens double, last_update double"

CRON = Handler(
    callbacks={
        "on_start": Callback(every=1, link_callback="index_page"),
        "index_page": Callback(
            extract_links=True, link_callback="index_page", emit_result=True
        ),
        "_on_message": Callback(emit_result=True),
    }
)


def assert_jvm_only(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan


def old_schema(spark, ddl_or_schema):
    """The schema the pre-JVM construction produced."""
    return spark.createDataFrame([], ddl_or_schema).schema


@pytest.fixture
def engine(spark, small_world, tmp_path):
    return CrawlEngine(
        spark,
        small_world["pages"],
        small_world["robots"],
        small_world["politeness"],
        str(tmp_path / "wh"),
        handler=CRON,
        loop_limit=100000,
        projects={"bench": {"status": "RUNNING", "rate": 1000.0, "burst": 10000.0}},
    )


def test_empty_frames_keep_schema(spark):
    for df, ddl in (
        (FR.empty_frontier(spark), FR.FRONTIER_SCHEMA),
        (FR.empty_token_state(spark), TOKEN_DDL),
    ):
        assert df.schema == old_schema(spark, ddl)
        assert df.count() == 0
        assert_jvm_only(df)


def test_literal_frame_rows_and_nullability(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", StringType(), False), StructField("v", LongType(), True)]
    )
    df = FR.literal_frame(spark, schema, [("a", 1 << 40), ("b", None)])
    assert df.schema == schema
    assert sorted(df.collect()) == [("a", 1 << 40), ("b", None)]
    assert_jvm_only(df)


def test_politeness_internal_row(spark, small_world, engine):
    pol = engine.politeness
    assert pol.schema == small_world["politeness"].schema
    row = pol.filter(pol["key"] == INTERNAL_HOST).collect()
    assert [tuple(r) for r in row] == [(INTERNAL_HOST, 1e9, 1e9)]
    assert_jvm_only(pol)


def test_control_rows_and_project_policy(spark, engine):
    engine.epoch = 0
    engine.send_message("bench", "hi")
    ctl = engine._control_rows(engine.now())
    assert ctl.schema == old_schema(spark, CONTROL_DDL)
    got = sorted(r["callback"] for r in ctl.collect())
    assert got == ["_on_get_info", "_on_message", "on_start"]
    assert_jvm_only(ctl)

    pol = engine._project_policy()
    assert pol.schema == old_schema(spark, POLICY_DDL)
    assert [tuple(r) for r in pol.collect()] == [("bench", 1000.0, 10000.0)]
    assert_jvm_only(pol)


def test_epochs_build_no_driver_pickled_frame(spark, small_world, engine, monkeypatch):
    """Cron, message, projects-dim and status-fold paths all run, and
    none of them reaches ``createDataFrame``."""
    engine.seed(small_world["seeds"])
    engine.send_message("bench", "hi")

    def pickled(*a, **kw):
        raise AssertionError("epoch built a driver-pickled frame")

    monkeypatch.setattr(SparkSession, "createDataFrame", pickled)
    ms = engine.run(3)
    assert ms[0]["selected"] > 0 and ms[0]["fetched_ok"] > 0
    assert all(m["fetch_missing"] == 0 for m in ms)
