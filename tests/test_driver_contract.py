"""Driver-contract robustness: entry()/queries() must work on a session
with DRIVER defaults (ANSI on, mapKeyDedupPolicy EXCEPTION), not only on
our tuned session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


@pytest.fixture()
def hostile_session(spark):
    """Simulate the driver's default session semantics, restore after."""
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.ansi.enabled",
            "spark.sql.mapKeyDedupPolicy",
        )
    }
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    yield spark
    for k, v in prev.items():
        if v is not None:
            spark.conf.set(k, v)


def test_entry_survives_driver_defaults(hostile_session):
    df = entrymod.entry(hostile_session)
    rows = df.collect()
    assert len(rows) > 0
    assert {f.name for f in df.schema} == {
        "data_source", "type_name", "shard_id", "component_count",
    }


def test_every_query_has_stable_schema(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    sf = "/root/testdata/sf0.001"
    for name, fn in qs.items():
        df = fn(spark, sf)
        assert len(df.schema) > 0, name
        # driver-compat: no duplicate column names (hash compare sorts by name)
        names = [f.name for f in df.schema]
        assert len(names) == len(set(names)), name


def test_session_skips_call_site_capture(spark):
    """get_spark turns off PySpark's per-Column call-site capture (a JVM
    origin set/clear and a stack walk on every functions.* call), and an
    analysis error still names the offending column."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(AnalysisException, match="nope"):
        df.select("nope")
