"""Structured Streaming variants of the pipeline operators.

The reference is an always-on stream processor; our batch job is the
primary mode (SURVEY.md §3.1), but each stateful operator has a streaming
twin here:

- ingest: file-source readStream over the webtext directory (stand-in for
  Kafka/OTLP); Trigger.AvailableNow processes the backlog then stops —
  the batch/stream unification point.
- the flagship chain: run_pipeline_streaming runs each micro-batch through
  the batch pipeline's own kernel, record-error counts, heal and lineage
  manifest included.
- dedup D1-D3: dropDuplicatesWithinWatermark on the projection key — the
  reference's TTL'd dedup cache (deduplicator.go:151-205) becomes
  watermark-bounded state.
- windowed rollup A4/A5: watermark + tumbling window, late data beyond
  the watermark dropped (the reference's 15-min stale-series GC analog).
- service-graph J1: stream-stream inner join with event-time range —
  the edge store TTL (store.go:91-129) becomes the join watermark bound.

All state is bounded by watermarks — no unbounded driver maps, matching
the reference's capacity-bounded stores but with spill-safe distributed
state stores.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEBTEXT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_webtext_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(WEBTEXT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_dedup(pages: DataFrame, key_cols: list[str], watermark: str = "30 minutes") -> DataFrame:
    """D1+D3 streaming: state-bounded exactly-once-per-key-per-watermark."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(key_cols)


def streaming_rollup(pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """A4: watermarked tumbling-window rollup keyed (host, window)."""
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host")
    return (
        pages.select(host, "warc_ts")
        .withWatermark("warc_ts", watermark)
        .groupBy("host", F.window("warc_ts", window).alias("win"))
        .agg(F.count(F.lit(1)).alias("page_count"))
        .select(
            "host",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "page_count",
        )
    )


def streaming_pair_join(spans: DataFrame, ttl: str = "2 minutes") -> DataFrame:
    """J1 streaming: client/server spans joined within the store TTL.

    spans needs an event_ts timestamp column; the range condition bounds
    join state exactly like the reference's expiring edge store."""
    client = (
        spans.where(F.col("kind").isin("CLIENT", "PRODUCER"))
        .select(
            "trace_id",
            F.col("span_id").alias("join_key"),
            F.col("service").alias("client"),
            F.col("event_ts").alias("client_ts"),
        )
        .withWatermark("client_ts", ttl)
    )
    server = (
        spans.where(F.col("kind").isin("SERVER", "CONSUMER"))
        .select(
            "trace_id",
            F.col("parent_span_id").alias("join_key"),
            F.col("service").alias("server"),
            F.col("event_ts").alias("server_ts"),
        )
        .withWatermark("server_ts", ttl)
    )
    cond = (
        (client.trace_id == server.trace_id)
        & (client.join_key == server.join_key)
        & (server.server_ts >= client.client_ts - F.expr(f"INTERVAL {ttl}"))
        & (server.server_ts <= client.client_ts + F.expr(f"INTERVAL {ttl}"))
    )
    return client.join(server, cond, "inner").select(
        "client", "server", "client_ts", "server_ts"
    )


def run_stream_to_sink(stream_df: DataFrame, out_path: str, checkpoint: str,
                       output_mode: str = "append") -> None:
    """Drain the backlog with AvailableNow, then stop (test/CI harness)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_pipeline_streaming(
    spark: SparkSession,
    webtext_path: str,
    out_root: str,
    mappings=None,
    max_files: int = 4,
) -> dict:
    """Always-on mode: the flagship pipeline as ONE Structured Streaming job.

    foreachBatch hands every micro-batch to the batch pipeline's kernel
    (plans.pipeline._process_batch) — the reference's Kafka consume loop,
    where each poll goes through the same connector -> exporter path. The
    stream lands the batch sinks (otel_logs, topology_elements,
    rollup_host_window, otel_resources, mapping_errors, telemetry) under
    its own out_root. A micro-batch is one lineage input split,
    `<checkpoint>#<batch_id>`, so a redelivered micro-batch is
    exactly-once: one the manifest records is skipped, and the commits of
    one that crashed before its manifest record are rolled back before it
    is redone.

    AvailableNow drains the backlog then stops, so tests/CI can assert
    stream == batch; drop the trigger for a true always-on deployment.

    After a drain that ran at least one micro-batch, the appended sinks
    are compacted and the batch pipeline's publisher stage
    (publish_element_stream) runs once over the landed elements under a
    fresh run id: envelopes (A6), stream lifecycle (R6), and the
    per-API-key intake (K6). A drain that ran none publishes nothing. (The
    reference publisher likewise runs over the consumed element store,
    not per Kafka poll.)
    """
    import os

    from ..plans.lineage import new_run_id
    from ..plans.pipeline import _process_batch, publish_element_stream
    from ..plans.sinks import SinkCatalog
    from ..session import ensure_semantics_confs
    from ..sources.settings import default_mappings

    # the query runs its micro-batches in a session cloned at start: the
    # semantics confs must be set before it, not in the first batch
    ensure_semantics_confs(spark)
    mappings = mappings or default_mappings()
    sinks = SinkCatalog(os.path.join(out_root, "sinks"))
    checkpoint = os.path.join(out_root, "checkpoint")
    batches: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # a micro-batch is redelivered whole, so it is ONE lineage partition
        _process_batch(
            spark, out_root, batch_df, f"{checkpoint}#{batch_id}", mappings,
            n_lineage_buckets=1, max_partitions_this_run=None,
            rollup_window="1 hour",
        )
        batches.append(batch_id)

    stream = read_webtext_stream(spark, webtext_path, max_files=max_files)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not batches:
        return {"micro_batches": 0, "sink_counts": {}}

    # maintenance: each micro-batch landed one commit of small files;
    # bin-pack them before the read-back passes (OPTIMIZE — counts are
    # unaffected, pre-compaction snapshots stay time-travelable)
    for name in ("otel_logs", "topology_elements"):
        if sinks.exists(name):
            sinks.compact(spark, name)

    sink_counts = {
        name: sinks.read(spark, name).count() for name in ("otel_logs", "otel_resources")
    }
    if sinks.exists("topology_elements"):
        el = sinks.read(spark, "topology_elements")
        distinct = el.select(
            "element_kind", "data_source", "shard_id", "external_id"
        ).distinct()
        kinds = {
            r.element_kind: r.n
            for r in distinct.groupBy("element_kind")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        sink_counts["topology_elements"] = sum(kinds.values())
        sink_counts["topology_components"] = kinds.get("component", 0)
        sink_counts["topology_relations"] = kinds.get("relation", 0)
        sink_counts["topology_deletes"] = kinds.get("delete", 0)
        sink_counts.update(publish_element_stream(spark, sinks, new_run_id()))
    return {"micro_batches": len(batches), "sink_counts": sink_counts}


def run_settings_stream(
    spark: SparkSession,
    snapshots_dir: str,
    out_root: str,
    initial=None,
) -> dict:
    """S4 streaming twin: the settings-snapshot consumer loop.

    The reference subscribes to a compacted settings topic; every received
    snapshot triggers DiffSettings + listener notification (metadata
    publish, tombstones for removed mappings) gated by the change check
    (snapshot_manager.go:156-214, cache.go:129-182). Here a file stream
    watches a snapshots directory: each micro-batch applies arriving
    snapshot JSONs in filename order, short-circuits unchanged ones, and
    appends metadata records + tombstones exactly like the batch pipeline.

    Returns {applied, skipped_unchanged, skipped_stale, parse_errors,
    removed_total}.
    """
    import json as _json
    import os

    from ..operators.metadata import metadata_tombstones, stream_metadata
    from ..operators.routing import removal_tombstones
    from ..plans.sinks import SinkCatalog
    from ..sources.settings import (
        diff_settings,
        mapping_set_from_dict,
        snapshot_changed,
    )

    sinks = SinkCatalog(os.path.join(out_root, "sinks"))
    # restart recovery: the last applied snapshot persists next to the
    # checkpoint (the consumer-group position analog) so a restarted
    # watcher keeps diffing against what it last applied
    last_path = os.path.join(out_root, "last_snapshot.json")
    if initial is None and os.path.exists(last_path):
        with open(last_path) as f:
            initial = mapping_set_from_dict(_json.load(f))
    state = {"prev": initial, "applied": 0, "unchanged": 0, "stale": 0,
             "bad": 0, "removed": 0}

    raw = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .option("maxFilesPerTrigger", 1)
        .load(snapshots_dir)
        .selectExpr("value", "_metadata.file_path AS file_path")
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # a malformed/half-written snapshot must not wedge the stream: the
        # reference consumer drops bad messages and keeps consuming.
        # Snapshots are small config documents — the collect() is bounded
        # explicitly (a malformed giant file is dropped like bad JSON, it
        # must not OOM the driver).
        max_snapshot_bytes = 64 * 1024 * 1024
        sized = batch_df.where(F.octet_length("value") <= max_snapshot_bytes)
        state["bad"] += batch_df.count() - sized.count()
        parsed = []
        for r in sized.collect():
            try:
                parsed.append((mapping_set_from_dict(_json.loads(r.value)), r.value))
            except Exception:
                state["bad"] += 1
        # apply in VERSION order (the topic guarantees order; the file
        # source does not — lexicographic paths put snap_10 before snap_2)
        parsed.sort(key=lambda t: t[0].version)
        for ms, raw_doc in parsed:
            # version gate (cache.go:129-182): stale re-deliveries (older
            # version than the applied snapshot) are dropped
            if state["prev"] is not None and ms.version < state["prev"].version:
                state["stale"] += 1
                continue
            if not snapshot_changed(state["prev"], ms):
                state["unchanged"] += 1
                continue
            removed = (
                diff_settings(state["prev"], ms) if state["prev"] is not None else []
            )
            sinks.overwrite(stream_metadata(spark, ms), "stream_metadata",
                            partition_by=None)
            if removed:
                # version-scoped partition overwrite => re-applying the
                # same snapshot after a crash (sink landed,
                # last_snapshot.json did not) is idempotent, never
                # doubling tombstone rows — one atomic txlog commit per
                # version partition
                vdir = f"version={ms.version}"
                sinks.overwrite_partition(
                    removal_tombstones(spark, removed), "tombstones", vdir
                )
                sinks.overwrite_partition(
                    metadata_tombstones(spark, removed), "metadata_tombstones",
                    vdir,
                )
                state["removed"] += len(removed)
            state["prev"] = ms
            state["applied"] += 1
            os.makedirs(out_root, exist_ok=True)
            with open(last_path, "w") as f:
                f.write(raw_doc)

    q = (
        raw.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_root, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "applied": state["applied"],
        "skipped_unchanged": state["unchanged"],
        "skipped_stale": state["stale"],
        "parse_errors": state["bad"],
        "removed_total": state["removed"],
    }


DOCS_SCHEMA = "doc_id long, text string, lang string"


def run_incremental_dedup_stream(
    spark: SparkSession,
    docs_path: str,
    out_root: str,
    n: int = 2,
    threshold: float = 0.5,
    bands: int = 4,
) -> None:
    """Streaming twin of incremental_near_dup: each micro-batch of
    arriving docs dedups against the ACCUMULATED corpus band index, then
    appends its own index rows and text — the always-on ingest-dedup loop
    of a growing 10^12-doc corpus.

    foreachBatch (not a stream-static join operator) because the static
    side MUTATES per trigger: the index/doc stores grow with every batch,
    and the candidate join + the three appends form one unit of work per
    trigger (an Iceberg transaction in production; parquet-dir appends
    here). Completeness is order-independent — every cross-batch pair is
    found exactly once, when its LATER batch arrives — pinned by
    test_streaming_incremental_dedup_equals_batch.

    Sinks under out_root: near_dup_pairs/ (new_doc_id, dup_of, jaccard),
    lsh_index/ (doc_id, band, bucket), docs_store/ (doc_id, text).
    """
    import os

    from ..operators.textops import (
        incremental_near_dup_with_index,
        lsh_band_index,
    )

    idx_path = os.path.join(out_root, "lsh_index")
    docs_store = os.path.join(out_root, "docs_store")
    pairs_path = os.path.join(out_root, "near_dup_pairs")

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        # every frame persisted for this batch lands in `caches` and is
        # released after the three writes — an always-on stream must not
        # accumulate cached frames across triggers (ADVICE r3)
        batch = batch_df.select("doc_id", "text").persist()
        caches = [batch]
        if os.path.isdir(idx_path):
            corpus_idx = spark.read.parquet(idx_path)
            corpus_docs = spark.read.parquet(docs_store)
        else:  # first batch: empty corpus, within-batch pairs only
            corpus_idx = spark.createDataFrame(
                [], "doc_id long, band int, bucket string"
            )
            corpus_docs = spark.createDataFrame([], "doc_id long, text string")
        pairs = incremental_near_dup_with_index(
            batch, corpus_docs, corpus_idx, n=n, threshold=threshold, bands=bands,
            cache_registry=caches,
        )
        pairs.write.mode("append").parquet(pairs_path)
        # reads the batch's per-doc signature frame that the dedup above
        # persisted (still in `caches`): the batch is shingled once
        lsh_band_index(batch, bands=bands, n=n).write.mode("append").parquet(idx_path)
        batch.write.mode("append").parquet(docs_store)
        for c in caches:
            c.unpersist()

    q = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
        .writeStream.foreachBatch(_handle)
        .option("checkpointLocation", os.path.join(out_root, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
