"""Routing / sharding / fan-out (SURVEY.md §2.6 R1-R6).

- R1 stable shard id: FNV-1a-32(external_id) % 4 (message_builder.go:13-19,
  :259-263) — byte-parity via the JVM fold in functions.hashes.
- R2 keyed stream: the topology_elements write partitions by
  (data_source, shard_id) (plans/pipeline.py), so every (dataSource, shard)
  lands in its own output directory — the Kafka partition-ordering
  contract's analog (spec/topo_stream.proto:154-162).
- R3 pipeline fan-out: N filtered writes from ONE persisted DataFrame —
  the collector's service.pipelines routing one connector output to
  multiple exporters.
- R4 per-record topic override: a routing column redirects records to a
  different sink partition (stskafkaexporter attr `stskafka.topic`).
- R5 mapping-removal tombstones: one removal row per (removed mapping x
  shard 0..3) (internal/pipeline.go:202-240, message_builder.go:85-110).
- R6 stream lifecycle: first-seen (data_source, shard_id) pairs via
  anti-join against the known-streams table
  (topology_stream_publisher.go:96-143).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.hashes import fnv1a32_col
from ..session import local_frame

SHARD_COUNT = 4  # message_builder.go:15


def with_shard_id(
    df: DataFrame,
    id_col: str = "external_id",
    shards: int = SHARD_COUNT,
) -> DataFrame:
    """R1: shard_id = FNV-1a-32(id) % shards; null ids get pseudo-shard -1
    ("unknown", message_builder.go:259-263). The hash is the pure-JVM HOF
    fold (codegen, no Python workers)."""
    h = fnv1a32_col(F.col(id_col))
    return df.withColumn(
        "shard_id",
        F.when(F.col(id_col).isNotNull(), F.pmod(h, F.lit(shards))).otherwise(F.lit(-1)),
    )


def route_fanout(
    df: DataFrame, routes: dict[str, str]
) -> dict[str, DataFrame]:
    """R3/R4: one cached frame, N filtered branches.

    routes: sink_name -> SQL predicate. Rows matching several predicates go
    to several sinks (the collector semantic: pipelines are independent
    subscriptions, not a partition)."""
    return {name: df.where(F.expr(pred)) for name, pred in routes.items()}


def removal_tombstones(spark: SparkSession, removed_data_sources: list[str]) -> DataFrame:
    """R5: removed mappings x all shards -> tombstone rows (empty payload
    == delete marker, the Kafka tombstone analog)."""
    return local_frame(
        spark,
        [(d, s, True) for d in removed_data_sources for s in range(SHARD_COUNT)],
        "data_source string, shard_id int, tombstone boolean",
    )


def new_streams(
    elements: DataFrame, known_streams: DataFrame | None
) -> DataFrame:
    """R6: first-seen (data_source, shard_id) pairs this run."""
    current = elements.select("data_source", "shard_id").distinct()
    if known_streams is None:
        return current
    return current.join(
        known_streams.select("data_source", "shard_id"),
        on=["data_source", "shard_id"],
        how="left_anti",
    )


# R4: per-record topic override (stskafkaexporter/exporter.go:22-27,
# :182-184): a record whose attrs carry `stskafka.topic` publishes to that
# topic instead of the pipeline default — the topology connector routes
# metadata messages onto the compacted metadata topic through the same
# exporter this way.

KAFKA_TOPIC_ATTR = "stskafka.topic"


def with_topic(
    df: DataFrame, default_topic: str, attrs_col: str = "attrs"
) -> DataFrame:
    """Resolve each record's destination topic: explicit attr override
    wins, else the configured default. Downstream sinks partition by
    `topic` — the Kafka produce-call analog."""
    return df.withColumn(
        "topic",
        F.coalesce(
            F.col(attrs_col).getItem(KAFKA_TOPIC_ATTR), F.lit(default_topic)
        ),
    )


KAFKA_KEY_ATTR = "stskafka.key"


def with_kafka_key(df: DataFrame, attrs_col: str = "attrs",
                   default_key_col: str = "external_id") -> DataFrame:
    """K1: per-record Kafka message key — the `stskafka.key` attr wins,
    else the element's external id (stskafkaexporter/exporter.go:20-27:
    attr-keyed records partition the compacted topic; an empty body with
    this key is the tombstone, see removal_tombstones)."""
    return df.withColumn(
        "kafka_key",
        F.coalesce(F.col(attrs_col).getItem(KAFKA_KEY_ATTR), F.col(default_key_col)),
    )
