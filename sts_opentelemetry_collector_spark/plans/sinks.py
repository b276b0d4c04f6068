"""Sink layer: the exporter fan-out over snapshot-commit tables.

The reference fans one stream out to Kafka (keyed records, topic
override, tombstones — exporter/stskafkaexporter/exporter.go),
ClickHouse (typed tables — exporter/clickhousestsexporter), and an HTTP
topology intake (exporter/ststopologyexporter). Here every sink, the
intake included, is a transaction-logged parquet table (plans/txlog.py —
the Delta/Iceberg snapshot-commit mechanism implemented from scratch,
since this container ships no JVM table-format runtime): writes are
atomic commits, readers see only committed snapshots, upserts are real
partition-pruned MERGEs, and crashed writes are invisible until
vacuumed. Each sink has one write shape — appends (logs, elements,
envelopes, streams, errors, telemetry), a MERGE (resources, rollup), a
versioned partition overwrite (tombstones) or a full-snapshot overwrite
(stream metadata, intake) — and the txlog holds every table to one hive
layout. On a cluster with a real lakehouse runtime
the same narrow interface maps 1:1 onto Iceberg `writeTo(...).append()`
/ `MERGE INTO` / snapshot rollback.

Scale notes:
- Writes are partitioned by (data_source, shard_id) — the Kafka
  partition key (message_builder.go:21-52) — so one sink partition ==
  one ordered stream, and downstream consumers prune by data_source.
- The txlog lists file names only (driver-side metadata, same shape as
  Delta/Iceberg); data files are immutable and never rewritten except
  by the buckets a MERGE touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .txlog import PendingCommit, TxLogTable


class SinkCatalog:
    """Named snapshot-commit sink tables under a root directory."""

    def __init__(self, root: str):
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def table(self, name: str) -> TxLogTable:
        return TxLogTable(self.path(name))

    def append(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None,
               meta: dict | None = None,
               compression: str | None = None) -> int:
        """Append = stage + publish in one atomic commit."""
        return self.table(name).append(
            df, partition_by=partition_by, meta=meta, compression=compression
        )

    def stage(self, df: DataFrame, name: str,
              partition_by: list[str] | None = None,
              meta: dict | None = None,
              compression: str | None = None) -> PendingCommit:
        """Write-audit-publish: land data files WITHOUT committing. The
        caller audits via pending.read(spark) and publishes with
        pending.publish() once its ledger (the lineage manifest) has
        recorded the run. A crash before publish leaves the files
        invisible to every reader; vacuum() reclaims them."""
        return self.table(name).stage(
            df, partition_by=partition_by, meta=meta, compression=compression
        )

    def overwrite(self, df: DataFrame, name: str,
                  partition_by: list[str] | None = None,
                  meta: dict | None = None) -> int:
        return self.table(name).overwrite(df, partition_by=partition_by, meta=meta)

    def overwrite_partition(self, df: DataFrame, name: str, partition_dir: str,
                            meta: dict | None = None) -> int:
        """Idempotent versioned write: replace exactly one hive partition
        (e.g. version=7) — re-applying the same snapshot after a crash
        never doubles rows."""
        return self.table(name).overwrite_partition(df, partition_dir, meta=meta)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        df = self.table(name).read(spark)
        # _bucket is upsert-internal layout, not table schema
        return df.drop("_bucket") if "_bucket" in df.columns else df

    def upsert(
        self,
        df: DataFrame,
        name: str,
        keys: list[str],
        order_col: str | None = None,
        n_buckets: int = 16,
    ) -> int:
        """Last-writer-wins MERGE keyed `keys` — the ClickHouse
        ReplacingMergeTree / Iceberg MERGE INTO analog (K4 resources dim,
        exporter_resources.go:141-144). Partition-pruned: only the
        `_bucket` partitions the incoming keys hash into are read and
        rewritten; the winner per key is a max_by hash aggregate (no
        window sort); old and new files swap in ONE atomic commit, so a
        concurrent reader sees either the pre- or post-merge snapshot,
        never a mix and never a half-written table. Returns the
        post-merge table row count (no extra scan job)."""
        return self.table(name).merge_upsert(
            df, keys=keys, order_col=order_col, n_buckets=n_buckets
        )

    def merge_aggregate(self, df: DataFrame, name: str, keys: list[str],
                        sum_cols: list[str], n_buckets: int = 16,
                        meta: dict | None = None) -> int:
        """Additive MERGE (incremental rollup): incoming partials SUM
        into existing keyed rows — see TxLogTable.merge_aggregate."""
        return self.table(name).merge_aggregate(
            df, keys=keys, sum_cols=sum_cols, n_buckets=n_buckets, meta=meta
        )

    def commits(self, name: str) -> list[dict]:
        return self.table(name).commits()

    def vacuum(self, name: str, retain_seconds: float = 0.0) -> list[str]:
        return self.table(name).vacuum(retain_seconds)

    def compact(self, spark: SparkSession, name: str,
                target_file_bytes: int = 128 << 20) -> int:
        """OPTIMIZE: bin-pack a sink's small live files (streaming appends
        land one commit per micro-batch) — see TxLogTable.compact."""
        return self.table(name).compact(spark, target_file_bytes)

    def exists(self, name: str) -> bool:
        return self.table(name).exists()
