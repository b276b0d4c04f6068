"""Topology-stream metadata publisher analog.

Reference: connector/topologyconnector/metadata_publisher.go:48-129 — on
every settings-snapshot update, publish one metadata record per live
mapping (identifier + human-readable name) to a compacted Kafka topic so
the sync service can label streams; on mapping removal publish a
tombstone (null-value record) so compaction deletes the key.

Batch analog: the `stream_metadata` sink table is overwritten per run
(compaction == latest snapshot wins); tombstones append to their own
table exactly like the R5 data tombstones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import MappingSet
from ..session import local_frame

# the compacted metadata topic (metadata_publisher.go:18)
METADATA_TOPIC = "sts_topology_stream_metadata"

METADATA_SCHEMA = (
    "data_source string, mapping_name string, mapping_kind string, "
    "snapshot_version int, attrs map<string,string>"
)


def _routing_attrs(identifier: str) -> dict:
    """Records carry their routing as attrs — exactly how addMetadataRecord
    targets the compacted topic through the shared Kafka exporter
    (stskafka.topic / stskafka.key, exporter.go:20-27)."""
    return {"stskafka.topic": METADATA_TOPIC, "stskafka.key": identifier}


def stream_metadata(spark: SparkSession, mappings: MappingSet) -> DataFrame:
    """One record per mapping in the snapshot, deduped by identifier
    (metadata_publisher.go:63-90 `seen` map)."""
    seen: set[str] = set()
    rows = []
    for kind, ms in (("component", mappings.components), ("relation", mappings.relations)):
        for m in ms:
            if m.identifier in seen:
                continue
            seen.add(m.identifier)
            rows.append(
                (m.identifier, m.identifier, kind, mappings.version,
                 _routing_attrs(m.identifier))
            )
    return local_frame(spark, rows, METADATA_SCHEMA)


def metadata_tombstones(spark: SparkSession, removed: list[str]) -> DataFrame:
    """Null-value records for removed mappings
    (metadata_publisher.go:102-129): key only, payload absent."""
    return local_frame(
        spark,
        [(d, True, _routing_attrs(d)) for d in removed],
        "data_source string, tombstone boolean, attrs map<string,string>",
    )
