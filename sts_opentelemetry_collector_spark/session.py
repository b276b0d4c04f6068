"""SparkSession factory tuned for the pipeline.

Scale notes (100 TB design, local[*] test):
- AQE on: runtime coalescing + skew-join splitting handles Zipfian host skew
  (the reference never faces skew — per-batch in-memory maps; we must).
- shuffle.partitions sized for local tests; on a real cluster this is
  ~2-3x total cores and AQE coalesces down.
- Arrow enabled for pandas UDFs (the vectorized parse stage).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "sts-otel-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores) * 2, 8)
        except (TypeError, ValueError):
            shuffle_partitions = 64

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 16 MB splits: local test inputs are a few hundred MB against 32
        # cores — 128 MB splits would leave most cores idle. On a real
        # cluster with TB-scale inputs raise this back to 128-256 MB.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: ONE JVM hosts all executor threads — size the heap
        # for the concurrency (32 tasks x Arrow batches in 8g thrashes GC
        # and inverts scaling).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Mapping-engine semantics: expression eval errors mean "condition
        # false / field skipped", not job failure — mirrors the reference's
        # eval-error handling (mapping_handler.go:124-145). ANSI-off gives
        # null-on-error; LAST_WIN lets explicit tag keys override
        # regex-derived ones (mapping.go:182-245).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Idempotent resume: reruns overwrite exactly the partitions they
        # recompute (lineage.py), never the whole table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # No Python call-site capture per Column call: PySpark 4.1 wraps
        # every functions.* / Column call in a JVM origin set/clear and a
        # stack walk (13 py4j calls for one F.col instead of 3) only to
        # add Python call sites to error messages; analysis errors still
        # name the offending column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A config-scale frame built on the driver (a few rows of metadata
    or counters) with DDL `schema`: an Arrow table becomes a local
    relation, which launches no job and starts no Python worker, unlike a
    frame of pickled rows (measured 0.5 s vs 0.17 s per one-file write on
    4 cores). A pyarrow Table takes the Arrow path whatever the session's
    arrow confs say. One partition, so a write lands one file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct).coalesce(1)


def ensure_semantics_confs(spark: SparkSession) -> None:
    """Runtime-settable confs the mapping engine's semantics depend on —
    call this when the session is supplied externally (driver, spark-submit
    without submit.sh's --conf flags). On Spark 4.x ANSI defaults to TRUE,
    which would turn expression eval errors into job failures and
    map_concat key collisions into exceptions."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
