"""Exporter-shape tests (K2-K5) — mirrors the reference's SQL-driver mock
assertions (exporter_metrics_test.go:110-123 exact-parameter checks)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sts_opentelemetry_collector_spark.operators.exporters import (
    METRIC_TYPES,
    dispatch_metrics,
    resources_table,
    with_span_parent_type,
)
from sts_opentelemetry_collector_spark.sources.spans import spans_df


def test_span_parent_type(spark):
    rows = [
        ("t", "s1", "", "CLIENT"),       # no parent -> ROOT
        ("t", "s2", "s1", "SERVER"),     # parent + server kind -> EXTERNAL
        ("t", "s3", "s2", "INTERNAL"),   # parent + internal kind -> INTERNAL
        ("t", "s4", None, "SERVER"),     # null parent -> ROOT
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, span_id string, parent_span_id string, kind string"
    )
    got = {r.span_id: r.span_parent_type for r in with_span_parent_type(df).collect()}
    assert got == {"s1": "ROOT", "s2": "EXTERNAL", "s3": "INTERNAL", "s4": "ROOT"}


def test_resources_table_dedup_and_auth_scope(spark):
    rows = [
        ({"cluster": "prod", "namespace": "web", "x": "1"},),
        ({"x": "1", "namespace": "web", "cluster": "prod"},),  # same content
        ({"cluster": "prod", "namespace": "api"},),
        ({"other": "z"},),
    ]
    df = spark.createDataFrame(rows, "attrs map<string,string>")
    out = resources_table(df).collect()
    assert len(out) == 3  # content-addressed dedup collapses the first two
    by_ns = {tuple(r.auth_scope): r for r in out}
    assert ("prod", "prod/web") in by_ns
    assert ("prod", "prod/api") in by_ns
    assert () in by_ns  # no k8s attrs -> empty scope


def test_metric_dispatch_and_value_coalesce(spark):
    rows = [
        ("m1", "gauge", 1, None),
        ("m2", "sum", None, 2.5),
        ("m3", "histogram", 3, None),
        ("m4", "exp_histogram", None, 4.5),
        ("m5", "summary", 5, None),
        ("m6", "gauge", None, 6.5),
    ]
    df = spark.createDataFrame(
        rows, "metric_name string, metric_type string, int_value long, double_value double"
    ).withColumn("ts", F.current_timestamp()).withColumn(
        "attributes", F.create_map(F.lit("k"), F.lit("v"))
    )
    tables = dispatch_metrics(df)
    assert set(tables) == set(METRIC_TYPES)
    gauge = {r.metric_name: r.value for r in tables["gauge"].collect()}
    assert gauge == {"m1": 1.0, "m6": 6.5}  # int coerced, double passthrough
    assert tables["sum"].first().value == 2.5
    total = sum(t.count() for t in tables.values())
    assert total == 6


def test_service_graph_over_generated_spans(spark):
    # sanity: the exporter projections compose with the span generator
    spans = with_span_parent_type(spans_df(spark, 100))
    kinds = {r.span_parent_type for r in spans.select("span_parent_type").distinct().collect()}
    assert "ROOT" in kinds and "EXTERNAL" in kinds


def test_traces_table_nested_arrays_and_resource_ref(spark):
    """K3: events/links land as parallel arrays (ClickHouse Nested layout)
    and every span's resource_ref joins the content-addressed dim."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.operators.exporters import (
        EVENT_STRUCT,
        LINK_STRUCT,
        traces_table,
    )

    spans = spark.createDataFrame(
        [
            ("t1", "a", "", "CLIENT", "svc-a", 0.0, 0.5, True),
            ("t1", "b", "a", "SERVER", "svc-b", 0.0, 0.2, False),
        ],
        "trace_id string, span_id string, parent_span_id string, kind string,"
        "service string, start_ts double, end_ts double, failed boolean",
    ).withColumn(
        "events",
        F.when(
            F.col("failed"),
            F.array(F.struct(F.col("end_ts").alias("ts"), F.lit("exception").alias("name"))),
        ).cast(EVENT_STRUCT),
    )
    t = traces_table(spans).orderBy("span_id")
    rows = t.collect()
    assert [len(r.events_ts) for r in rows] == [len(r.events_name) for r in rows]
    assert rows[0].events_name == ["exception"] and rows[1].events_name == []
    assert rows[0].links_trace_id == []  # absent links column => empty, not null
    assert rows[0].duration_ns == 500_000_000
    assert rows[0].span_parent_type == "ROOT"
    assert rows[1].span_parent_type == "EXTERNAL"
    # resource_ref is content-addressed: same service => same ref
    refs = {r.service_name: r.resource_ref for r in rows}
    assert len(set(refs.values())) == 2
