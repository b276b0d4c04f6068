"""Per-partition lineage manifest + resumability (north rule requirement).

The reference's analog is its internal telemetry (counters per mapping/
signal, metrics/metrics.go:58-150) plus Kafka's at-least-once offsets. In a
batch job over an Iceberg/parquet table, resumability means: deterministic
input partitioning + a manifest of completed partitions + anti-join on
rerun. Exactly-once comes from the txlog write-audit-publish flow plus
this manifest: every commit a rerun would repeat (the logs, element and
record-error appends, the additive rollup merge) carries the run id, and a
run whose commits landed but whose partitions never reached the manifest is
rolled back at the next run's start (plans/pipeline.py), so a rerun of a
half-finished run never double-counts. The streaming twin records each
micro-batch as its own input split, so a redelivered micro-batch is skipped
or healed the same way.

The manifest is a directory of small parquet files, one per recorded run,
read and written on the driver with pyarrow: a handful of rows per run is
metadata, not data, and a Spark job per manifest access would sit on every
run's critical path. Spark can read the same directory as a plain
parquet table.

Partitioning: lineage_partition = pmod(xxhash64(url), n_buckets). Purely a
function of the data — stable across runs, cluster sizes, and input
splits (unlike file-based split ids). n_buckets scales with input size
(default 32 here; thousands at 100 TB so one bucket ≪ executor memory).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MANIFEST_SCHEMA = (
    "run_id string, lineage_partition int, input_split string, row_count long, "
    "parse_failures long, completed_at timestamp"
)
# MANIFEST_SCHEMA as parquet types: a UTC-adjusted timestamp reads back in
# Spark as `timestamp`, the type of the part files Spark wrote earlier
_MANIFEST_ARROW = pa.schema([
    ("run_id", pa.string()),
    ("lineage_partition", pa.int32()),
    ("input_split", pa.string()),
    ("row_count", pa.int64()),
    ("parse_failures", pa.int64()),
    ("completed_at", pa.timestamp("us", tz="UTC")),
])


def with_lineage_partition(df: DataFrame, key_col: str = "url", n_buckets: int = 32) -> DataFrame:
    return df.withColumn(
        "lineage_partition", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


class Manifest:
    """Parquet-backed manifest table (Iceberg in production)."""

    def __init__(self, path: str):
        self.path = path

    def _columns(self, columns: list[str]) -> pa.Table | None:
        """The given columns of every manifest file, skipping the `_`/`.`
        names Spark also skips (_SUCCESS, .crc, in-flight _tmp- files)."""
        if not os.path.isdir(self.path):
            return None
        parts = [
            pq.read_table(os.path.join(self.path, name), columns=columns)
            for name in sorted(os.listdir(self.path))
            if not name.startswith(("_", "."))
        ]
        return pa.concat_tables(parts) if parts else None

    def completed_partitions(self, input_split: str | None = None) -> set[int]:
        """Completed partitions, scoped to one input batch when given —
        a NEW ingest batch (different input path) starts with a clean
        pending set instead of being skipped (Iceberg analog: incremental
        processing per snapshot)."""
        t = self._columns(["lineage_partition", "input_split"])
        if t is None:
            return set()
        parts = t["lineage_partition"].to_pylist()
        if input_split is None:
            return set(parts)
        splits = t["input_split"].to_pylist()
        return {p for p, s in zip(parts, splits) if s == input_split}

    def run_ids(self) -> set[str]:
        t = self._columns(["run_id"])
        return set() if t is None else set(t["run_id"].to_pylist())

    def record(self, rows: list[dict]) -> None:
        """Append one file holding `rows`. It is written under a `_tmp-`
        name that every reader skips, then renamed into place, so a reader
        sees all of a run's rows or none of them."""
        if not rows:
            return
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pylist(
            [
                {
                    "run_id": r["run_id"],
                    "lineage_partition": int(r["lineage_partition"]),
                    "input_split": r.get("input_split", ""),
                    "row_count": int(r["row_count"]),
                    "parse_failures": int(r.get("parse_failures", 0)),
                    "completed_at": now,
                }
                for r in rows
            ],
            schema=_MANIFEST_ARROW,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f"_tmp-{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def partition_stats(pages: DataFrame) -> DataFrame:
    """Per-partition metrics (A11 analog): row counts + parse failures,
    computed in the same pass via groupBy on the lineage partition."""
    return pages.groupBy("lineage_partition").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(
            F.when(F.col("extracted_text").isNull() | (F.col("extracted_text") == ""), 1).otherwise(0)
        ).alias("parse_failures"),
    )
