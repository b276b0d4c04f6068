"""Exporter-shaped projections: the ClickHouse sink family (K2-K5) as
typed sink-table transforms.

Reference: exporter/clickhousestsexporter/. Each exporter there is a
row-at-a-time prepared INSERT into a typed table; here each is a
projection to the sink schema + partitioned append — the table DDLs'
semantics (derived columns, content-addressed refs, type dispatch) are
what carries over, not the row loop.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# K3: SpanParentType derivation (exporter_traces.go:80-102):
# no parent -> ROOT; parent present but kind SERVER/CONSUMER -> EXTERNAL
# (parent lives in another process); else INTERNAL.


def with_span_parent_type(spans: DataFrame) -> DataFrame:
    no_parent = F.col("parent_span_id").isNull() | (F.col("parent_span_id") == "")
    spt = (
        F.when(no_parent, "ROOT")
        .when(F.col("kind").isin("SERVER", "CONSUMER"), "EXTERNAL")
        .otherwise("INTERNAL")
    )
    return spans.withColumn("span_parent_type", spt)


# K4: resource dedup + AuthScope (exporter_resources.go:32-63): ResourceRef
# is the content hash of the attrs; AuthScope derives from k8s cluster/
# namespace attrs.


def resources_table(records: DataFrame, attrs_col: str = "attrs") -> DataFrame:
    entries = F.array_sort(F.map_entries(F.col(attrs_col)))
    ref = F.xxhash64(F.to_json(entries))
    cluster = F.col(attrs_col).getItem("cluster")
    namespace = F.col(attrs_col).getItem("namespace")
    # concat_ws treats nulls as "" — gate explicitly so missing k8s attrs
    # yield an EMPTY scope, not [""]
    scoped_ns = F.when(
        cluster.isNotNull() & namespace.isNotNull(), F.concat_ws("/", cluster, namespace)
    )
    auth_scope = F.array_compact(F.array(cluster, scoped_ns))
    return (
        records.select(
            ref.alias("resource_ref"),
            F.col(attrs_col).alias("resource_attributes"),
            auth_scope.alias("auth_scope"),
        )
        .dropDuplicates(["resource_ref"])
    )


# K5: metric-type dispatch (exporter_metrics.go:73-83, metrics_model.go):
# one input stream fans out to 5 typed tables; numeric value coalesces
# int/double (metrics_model.go:147-179).

METRIC_TYPES = ("gauge", "sum", "histogram", "exp_histogram", "summary")


def dispatch_metrics(metrics: DataFrame, type_col: str = "metric_type") -> dict[str, DataFrame]:
    value = F.coalesce(
        F.col("int_value").cast("double"), F.col("double_value")
    ).alias("value")
    base = metrics.select(
        "metric_name", F.col(type_col), "ts", value, "attributes"
    )
    return {t: base.where(F.col(type_col) == t).drop(type_col) for t in METRIC_TYPES}


# K3 complete traces sink shape (exporter_traces.go:104-178; DDL :214-249):
# events and links land as ClickHouse-Nested parallel arrays
# (Events.Timestamp/Name, Links.TraceId/SpanId/TraceState) and every span
# carries the content-addressed ResourceRef FK into the resources dim
# (NewResourceModel -> resourceRef; md5 of resource content here keeps the
# ref oracle-checkable cross-engine).

EVENT_STRUCT = "array<struct<ts:double,name:string>>"
LINK_STRUCT = "array<struct<trace_id:string,span_id:string,trace_state:string>>"


def traces_table(spans: DataFrame) -> DataFrame:
    """Full traces sink projection. Input: span columns (trace_id, span_id,
    parent_span_id, kind, service, start_ts, end_ts, failed) plus optional
    `events` / `links` array-of-struct columns (absent or null => empty)."""
    s = spans
    if "events" not in s.columns:
        s = s.withColumn("events", F.lit(None).cast(EVENT_STRUCT))
    if "links" not in s.columns:
        s = s.withColumn("links", F.lit(None).cast(LINK_STRUCT))
    events = F.coalesce(F.col("events"), F.lit([]).cast(EVENT_STRUCT))
    links = F.coalesce(F.col("links"), F.lit([]).cast(LINK_STRUCT))
    return with_span_parent_type(s).select(
        F.col("start_ts").alias("timestamp"),
        F.md5(F.col("service")).alias("resource_ref"),
        "trace_id",
        "span_id",
        "parent_span_id",
        F.lower(F.col("kind")).alias("span_name"),
        F.col("kind").alias("span_kind"),
        F.col("service").alias("service_name"),
        F.floor((F.col("end_ts") - F.col("start_ts")) * F.lit(1e9))
        .cast("long")
        .alias("duration_ns"),
        F.when(F.col("failed"), "Error").otherwise("Unset").alias("status_code"),
        "span_parent_type",
        F.transform(events, lambda e: e["ts"]).alias("events_ts"),
        F.transform(events, lambda e: e["name"]).alias("events_name"),
        F.transform(links, lambda l: l["trace_id"]).alias("links_trace_id"),
        F.transform(links, lambda l: l["span_id"]).alias("links_span_id"),
        F.transform(links, lambda l: l["trace_state"]).alias("links_trace_state"),
    )
