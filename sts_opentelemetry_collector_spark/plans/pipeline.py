"""The flagship end-to-end job: receive -> process -> route -> export.

Mirrors the reference's signal-ingestion lifecycle (SURVEY.md §3.1) as one
declarative Spark plan per run:

    scan webtext (pruned cols)                      ≙ OTLP receive
    -> lineage-partition filter (resume)            ≙ Kafka offsets
    -> vectorized parse (pandas UDF)                ≙ protobuf decode+traverse
    -> broadcast enrich (lang_map, host_topology)   ≙ settings/topology procs
    -> compiled mapping branches (union)            ≙ CEL mapping engine
    -> element dedup                                 ≙ deduplicator (D1-D3)
    -> shard + keyed repartition                    ≙ FNV Kafka sharding (R1/R2)
    -> fan-out sink writes                          ≙ exporters (K1-K6)
    -> per-sink counts + windowed rollups           ≙ service-graph counters,
                                                      internal telemetry (A1-A11)
    -> manifest append                              ≙ resumability/lineage

One run == one settings snapshot; tombstones for removed mappings are
derived from the snapshot diff (R5) exactly like snapshot_manager.go:156-214.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..config import MappingSet
from ..operators.aggregate import telemetry_counters, windowed_rollup
from ..operators.dedup import dedup_elements
from ..operators.enrich import enrich_pages
from ..operators.mapping import apply_mappings, register_sql_functions
from ..operators.parse import parse_pages, with_attrs
from ..operators.routing import removal_tombstones, with_shard_id
from ..session import ensure_semantics_confs, local_frame
from ..sources.settings import default_mappings, diff_settings
from ..sources.webtext import dims
from .lineage import Manifest, new_run_id, partition_stats, with_lineage_partition
from .sinks import SinkCatalog


# sinks whose run-tagged commits must invert when a run misses the
# manifest: the logs, element and record-error appends (a rerun would
# re-append their rows) and the rollup's ADDITIVE merge (a rerun would
# double-count its windows). The resources MERGE needs no healing —
# re-merging the same content-addressed identities is a last-writer-wins
# refresh, not duplication.
HEALED_SINKS = ("otel_logs", "topology_elements", "mapping_errors", "rollup_host_window")


def _heal_unmanifested_runs(
    sinks: SinkCatalog, manifest: Manifest,
    sink_names: tuple[str, ...] = HEALED_SINKS,
) -> list[str]:
    """Write-audit-publish heal: a run that PUBLISHED commits but crashed
    before the lineage manifest recorded it would double its effect on
    the rerun. Roll every such run-tagged commit back — txlog rollback
    is the exact metadata-only inverse ({remove its adds, restore its
    removes}); vacuum reclaims the bytes later. Newest-first per sink,
    so a merge rollback always inverts the table tip. Replaces the
    pre-r5 `shutil.rmtree` orphan purge with an atomic, snapshot-
    isolated operation."""
    committed = manifest.run_ids()
    healed = []
    for sink_name in sink_names:
        tbl = sinks.table(sink_name)
        if not tbl.exists():
            continue
        commits = tbl.commits()
        rolled_back_ids = {r.get("meta", {}).get("rolled_back") for r in commits}
        for rec in reversed(commits):
            rid = rec.get("meta", {}).get("run_id")
            if (
                rid is not None
                and rec.get("op") in ("append", "merge", "merge_aggregate")
                and rid not in committed
                and rec["version"] not in rolled_back_ids
            ):
                tbl.rollback(rec["version"], meta={"healed_run": rid})
                healed.append(rid)
    return healed


def build_element_stream(
    components: "DataFrame",
    relations: "DataFrame",
    deletes: "DataFrame | None" = None,
) -> "DataFrame":
    """Components, relations, and removal markers ride ONE keyed element
    stream — exactly the reference's topology stream topic, whose messages
    carry every element kind (including TopologyStreamRemove) per
    (dataSource, shard) (spec/topo_stream.proto, message_builder.go).
    Unify (element_kind column), dedup by element identity, FNV-shard."""
    comp_u = components.withColumn("element_kind", F.lit("component"))
    rel_u = relations.withColumn("element_kind", F.lit("relation"))
    unified = comp_u.unionByName(rel_u, allowMissingColumns=True)
    if deletes is not None:
        unified = unified.unionByName(
            deletes.withColumn("element_kind", F.lit("delete")),
            allowMissingColumns=True,
        )
    return with_shard_id(dedup_elements(unified))


def publish_element_stream(
    spark: SparkSession,
    sinks: SinkCatalog,
    collection_ts: str,
    api_keys: dict[str, str] | None = None,
    default_api_key: str = "default-key",
) -> dict[str, int]:
    """A6 + R6 + K6 + per-element payloads off ONE unified landed element
    stream — the publisher stage, run once per batch run and once per
    streaming drain. Topology elements are dimension-scale (bounded
    by the mapped entity universe, not the page count), so reading the
    just-landed sinks back is a pruned scan over tiny tables — no
    recompute of the page scan. Returns per-sink counts."""
    counts: dict[str, int] = {}
    elements_back = sinks.read(spark, "topology_elements")
    payload = (
        F.when(
            F.col("element_kind") == "component",
            F.to_json(F.struct("external_id", "name", "type_name")),
        )
        .when(
            F.col("element_kind") == "relation",
            F.to_json(
                F.struct("external_id", "source_identifier",
                         "target_identifier", "type_name")
            ),
        )
        # removal marker: key-only payload (TopologyStreamRemove)
        .otherwise(F.to_json(F.struct("external_id")))
    )
    elements = elements_back.select(
        "data_source", "shard_id", "external_id", "element_kind",
        payload.alias("payload"),
    ).dropDuplicates(["data_source", "shard_id", "external_id"])
    # ^ collection-map semantics: keyed by external_id per stream, so a
    # resumed run re-reading appended sinks stays idempotent.
    # Three consumers (envelopes, stream lifecycle, intake) over a
    # dimension-scale frame: persist once, skip two re-scans + re-dedups.
    elements = elements.persist()

    # A6: size-capped envelope coalescing before the keyed stream write
    # (message_builder.go:194-257, 768 KiB cap :162-171). collection_ts is
    # the run id — one collection per snapshot application, as in the
    # reference's per-batch envelope builder.
    from ..operators.aggregate import coalesce_envelopes

    envelopes = coalesce_envelopes(
        elements.withColumn("collection_ts", F.lit(collection_ts)),
        key_cols=["data_source", "shard_id"],
        ts_col="collection_ts",
        payload_col="payload",
    )
    env_obs = Observation(f"envelopes_{collection_ts}")

    # R6: stream lifecycle — first-seen (data_source, shard_id) pairs vs
    # the persisted known-streams state (topology_stream_publisher.go:96-143)
    from ..operators.routing import new_streams

    known = (
        sinks.read(spark, "known_streams")
        if sinks.exists("known_streams")
        else None
    )
    # dimension-scale (a handful of (data_source, shard) pairs): one
    # output file per collection, not defaultParallelism empties
    first_seen = new_streams(elements, known).withColumn(
        "run_id", F.lit(collection_ts)
    ).repartition(1)
    fs_obs = Observation(f"first_seen_{collection_ts}")

    # K6/A9: per-API-key grouped, ExternalID-sorted intake write
    # (exporter.go:44-54, topology.go:335-355). api key resolves from the
    # data_source -> key settings dict (sts_api_key resource attr analog).
    from ..operators.intake import write_intake

    key_pairs: list = []
    for ds, key in sorted((api_keys or {}).items()):
        key_pairs += [F.lit(ds), F.lit(key)]
    key_map = F.create_map(*key_pairs) if key_pairs else None
    api_key = (
        F.coalesce(key_map[F.col("data_source")], F.lit(default_api_key))
        if key_map is not None
        else F.lit(default_api_key)
    )
    # the intake POST carries components+relations only; removals are
    # implicit in the reference's full-snapshot semantics
    intake_elements = (
        elements.where(F.col("element_kind") != "delete")
        .withColumn("api_key", api_key)
        .drop("payload")
    )
    intake_obs = Observation(f"intake_{collection_ts}")

    # The three publisher writes land in DIFFERENT sink tables off the
    # same persisted dimension-scale frame: overlap them (guide-standard
    # driver-thread overlap) so one write's task tail back-fills the
    # others' — actions are only sequential when the driver calls them
    # sequentially.
    def _w_envelopes():
        sinks.append(
            envelopes.observe(env_obs, F.count(F.lit(1)).alias("n")),
            "topology_envelopes",
            partition_by=["data_source", "shard_id"],
        )
        return {"topology_envelopes": env_obs.get["n"]}

    def _w_streams():
        sinks.append(
            first_seen.observe(fs_obs, F.count(F.lit(1)).alias("n")),
            "known_streams",
            partition_by=None,
        )
        return {"new_streams": fs_obs.get["n"]}

    def _w_intake():
        write_intake(
            intake_elements.observe(intake_obs, F.count(F.lit(1)).alias("n")),
            sinks.path("topology_intake"),
        )
        # the intake is the FULL deduped snapshot (all landed runs), so
        # count what was actually written — on a resumed run this exceeds
        # this run's nc+nr
        return {"topology_intake": intake_obs.get["n"]}

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            for fut in [pool.submit(f) for f in (_w_envelopes, _w_streams, _w_intake)]:
                counts.update(fut.result())
    finally:
        elements.unpersist()
    return counts


def upsert_resources(
    spark: SparkSession,
    sinks: SinkCatalog,
    logs: DataFrame,
    sink_name: str = "otel_resources",
) -> int:
    """K4: the resources dimension — content-addressed resource rows
    MERGEd into the ReplacingMergeTree-analog dim
    (exporter_resources.go:32-46 content hash, :141-144 ReplacingMergeTree
    ORDER BY (ResourceRef, ts)) via the txlog partition-pruned upsert:
    re-observed resources refresh their row, new ones insert, untouched
    buckets' files stay byte-identical.

    Scale shape: distinct on the 4 resource attr columns FIRST (map-side
    partial agg collapses the page-scale stream to dimension scale)
    before the map build + content hash; the MERGE then touches only the
    buckets this batch's refs hash into. Returns the dim's committed
    row count — observed on the merge write itself plus parquet footer
    counts of untouched buckets (no re-scan job)."""
    from ..operators.exporters import resources_table

    rec = (
        logs.select("host", "service", "cluster", "namespace")
        .distinct()
        .select(
            F.create_map(
                F.lit("host"), F.col("host"),
                F.lit("service"), F.col("service"),
                F.lit("cluster"), F.col("cluster"),
                F.lit("namespace"), F.col("namespace"),
            ).alias("attrs")
        )
    )
    return sinks.upsert(resources_table(rec), sink_name, keys=["resource_ref"])


def _process_batch(
    spark: SparkSession,
    out_root: str,
    raw: DataFrame,
    input_split: str,
    mappings: MappingSet,
    *,
    n_lineage_buckets: int,
    max_partitions_this_run: int | None,
    rollup_window: str,
    publish: Callable[[SinkCatalog, str], dict[str, int]] | None = None,
) -> dict:
    """One input batch through the whole chain: run_pipeline calls it once
    per run, the streaming twin once per micro-batch (the reference's
    consume loop sends every Kafka poll down the same connector ->
    exporter path). `raw` holds the batch's webtext pages and
    `input_split` names them in the lineage manifest, which makes the
    batch exactly-once: partitions the manifest records are skipped, and
    the commits of a run that crashed before its manifest record are
    rolled back before the batch is redone. `publish(sinks, run_id)` is
    the run's publisher step; it runs once the elements have landed, and
    the sink counts it returns join the summary."""
    t_start = time.time()
    stage_sec: dict[str, float] = {}
    _last = [t_start]

    def _mark(stage: str) -> None:
        now = time.time()
        stage_sec[stage] = round(now - _last[0], 2)
        _last[0] = now

    ensure_semantics_confs(spark)  # eval-error=>false; explicit-tag-wins
    register_sql_functions(spark)
    sinks = SinkCatalog(os.path.join(out_root, "sinks"))
    manifest = Manifest(os.path.join(out_root, "manifest.parquet"))
    run_id = new_run_id()
    # every commit a rerun must not repeat carries the run and its input
    run_meta = {"run_id": run_id, "input_split": input_split}

    # ---- resume: which lineage partitions of THIS input batch are pending?
    # (manifest is input_split-scoped: a new ingest batch processes fully)
    done = manifest.completed_partitions(input_split=input_split)
    pending = [p for p in range(n_lineage_buckets) if p not in done]
    if max_partitions_this_run is not None:
        pending = pending[:max_partitions_this_run]
    if not pending:
        return {"run_id": run_id, "pending": 0, "skipped": True}

    raw = with_lineage_partition(raw, n_buckets=n_lineage_buckets)
    if len(pending) < n_lineage_buckets:
        raw = raw.where(F.col("lineage_partition").isin(pending))

    # ---- parse + enrich + land the logs sink in ONE pass: the pandas-UDF
    # parse runs exactly once; every downstream stage reads the columnar
    # sink back (pruned, compressed scan — cheaper than caching the wide
    # frame in memory at 100 TB, and the write has to happen anyway).
    pages = parse_pages(raw.drop("text"), keep_extra=["lineage_partition"])
    lang_map, host_topology = dims(spark)
    enriched = enrich_pages(pages, lang_map, host_topology)

    logs = enriched.select(
        "url", "warc_ts", "host", "path", "title", "extracted_text", "lang",
        "lang_family", "service", "cluster", "namespace",
        "dim_service", "dim_layer", "lineage_partition",
    ).withColumn("ds", F.to_date("warc_ts"))
    # (≙ ClickHouse logs K2 — exporter_logs.go:155-159.)
    # Write-audit-publish resume over the txlog sink: the run STAGES its
    # log files (written once, invisible to every other reader), audits
    # them (count + the whole mapping/rollup pass reads the staged
    # files), and PUBLISHES one atomic snapshot commit tagged with the
    # run id — no shuffle of the full stream for directory layout, no
    # half-visible tables. A run that published but crashed before the
    # manifest recorded it is rolled back here, metadata-only, before
    # this run begins (heals the pre-r5 orphan-purge window atomically).
    _heal_unmanifested_runs(sinks, manifest)

    logs_obs = Observation("otel_logs")
    # snappy on the hot stream sink — same throughput-over-ratio tradeoff
    # as the reference's Kafka producer (stskafkaexporter/exporter.go:47-53);
    # the long-lived dimension/rollup tables stay zstd.
    logs_pending = sinks.stage(
        logs.observe(logs_obs, F.count(F.lit(1)).alias("n")),
        "otel_logs",
        partition_by=None,
        meta=run_meta,
        compression="snappy",
    )
    sink_counts: dict[str, int] = {"otel_logs": logs_obs.get["n"]}
    _mark("parse_and_logs_write")

    logs_back = logs_pending.read(spark)

    # ---- K4 resources MERGE + windowed rollup MERGE + per-partition
    # lineage stats: three jobs that read only the staged logs, each
    # committing to its own table. Submitted here, they overlap the whole
    # mapping -> elements -> publish chain below instead of waiting behind
    # it, and the tail tasks of one back-fill the executors the others
    # free. The rollup stays INCREMENTAL: each run aggregates only ITS
    # pages and additively MERGEs the partials into the sink keyed (host,
    # window) — run cost is O(this run), not O(table). Both merges may
    # commit before the logs publish; the run-heal rolls back an
    # unmanifested run's rollup merge, and the resources MERGE is an
    # idempotent refresh, so a crash anywhere still converges.
    rollup = windowed_rollup(logs_back, ts_col="warc_ts", keys=["host"],
                             window=rollup_window)

    def _j_resources():
        return upsert_resources(spark, sinks, logs_back)

    def _j_rollup():
        return sinks.merge_aggregate(
            rollup.select(
                "host", "window_start", "window_end",
                F.col("page_count").cast("long").alias("page_count"),
            ),
            "rollup_host_window",
            keys=["host", "window_start", "window_end"],
            sum_cols=["page_count"],
            meta=run_meta,
        )

    def _j_stats():
        return partition_stats(logs_back).collect()

    # Leaving the block waits for all three jobs, also when the chain
    # raises: no tail commit lands after the caller has seen the failure.
    with ThreadPoolExecutor(max_workers=3) as tail:
        f_res = tail.submit(_j_resources)
        f_roll = tail.submit(_j_rollup)
        f_stats = tail.submit(_j_stats)

        # ---- mapping engine (over the read-back: no second UDF pass).
        # Narrow projection of exactly the attr columns the mappings reference:
        # a pruned columnar re-scan per element sink beats persisting wide rows
        # (measured 2x faster locally, and the only option at 100 TB; also
        # re-measured this round against an exchange-sharing repartition under
        # the branch union — the narrow-column shuffle costs more than the
        # pruned scans it saves, 6.5s vs 5.1s at 6M pages).
        mapping_input = with_attrs(
            logs_back.select("host", "path", "service", "cluster", "namespace", "lang")
        )
        from ..operators.parse import ATTRS_SOURCE_COLS

        compiled = apply_mappings(
            mapping_input, mappings, signal="logs", attr_cols=ATTRS_SOURCE_COLS
        )
        _mark("compile_mappings")

        # ---- dedup + shard + route. Record-error counting rides the element
        # writes via observe() on the pre-required-filter (flagged) frames —
        # counting errors in a separate job would re-execute the whole branch
        # union over the input (measured 5s of a 31s run at 4.8M x local[8]).
        def _flagged_src(flagged, fallback, ids, obs_name):
            if flagged is None or not ids:
                return fallback, None
            obs = Observation(obs_name)
            metrics = [
                F.sum(
                    F.when(
                        ~F.col("_required_ok") & (F.col("data_source") == ds), 1
                    ).otherwise(0)
                ).alias(f"e{i}")
                for i, ds in enumerate(ids)
            ]
            observed = flagged.observe(obs, *metrics)
            return (
                observed.where(F.col("_required_ok")).drop("_required_ok"),
                (obs, ids),
            )

        comp_src, comp_err_obs = _flagged_src(
            compiled.components_flagged, compiled.components,
            compiled.create_ids.get("components", []), f"comperr_{run_id}",
        )
        rel_src, rel_err_obs = _flagged_src(
            compiled.relations_flagged, compiled.relations,
            compiled.create_ids.get("relations", []), f"relerr_{run_id}",
        )
        elements_keyed = build_element_stream(comp_src, rel_src, compiled.deletes)

        # Keyed write: partitioned by (data_source, shard_id) — the Kafka
        # partition-ordering contract; files land pre-clustered per stream.
        # The append is run-tagged like the logs commit: a run that crashed
        # before its manifest record has it rolled back by the heal, so a
        # rerun lands each element exactly once.
        # Counting rides the write via observe(): ONE action per sink instead
        # of count+write double execution (matters at both ends of the scale:
        # small-job floor locally, double scans at 100 TB).
        el_obs = Observation(f"elements_{run_id}")
        sinks.append(
            elements_keyed.observe(
                el_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("element_kind") == "component", 1).otherwise(0)).alias("nc"),
                F.sum(F.when(F.col("element_kind") == "relation", 1).otherwise(0)).alias("nr"),
                F.sum(F.when(F.col("element_kind") == "delete", 1).otherwise(0)).alias("nd"),
            ),
            "topology_elements",
            partition_by=["data_source", "shard_id"],
            meta=run_meta,
        )
        got = el_obs.get
        sink_counts["topology_elements"] = got["n"]
        sink_counts["topology_components"] = int(got["nc"] or 0)
        sink_counts["topology_relations"] = int(got["nr"] or 0)
        sink_counts["topology_deletes"] = int(got["nd"] or 0)
        _mark("elements_write")

        if publish is not None:
            sink_counts.update(publish(sinks, run_id))
            _mark("publish")

        # record-error counts were observed on the element writes above —
        # materialize the tiny summary table driver-side, no extra scan
        err_rows = []
        for pair in (comp_err_obs, rel_err_obs):
            if pair is None:
                continue
            obs, ids = pair
            got = obs.get
            for i, ds in enumerate(ids):
                n = int(got[f"e{i}"] or 0)
                if n > 0:
                    err_rows.append(
                        (ds, "logs", "required output expression evaluated to null", n)
                    )
        # zero errors (the common case) skips the commit entirely: an empty
        # append still paid a full txlog write+commit round trip (~0.3s of
        # data-invariant driver tail per run); the reference likewise emits
        # error records only when errors exist
        if err_rows:
            sinks.append(
                local_frame(
                    spark, err_rows,
                    "data_source string, signal string, error string, error_count long",
                ),
                "mapping_errors",
                partition_by=None,
                meta=run_meta,
            )
        sink_counts["mapping_errors"] = len(err_rows)
        _mark("mapping_errors_write")

        # ---- PUBLISH the staged logs: one atomic commit makes this run's
        # rows visible; everything before this point was audit. The crash
        # window between publish and the manifest record at the end of the
        # run is healed (rolled back) at the next run's start.
        logs_pending.publish()
        _mark("logs_publish")

        sink_counts["otel_resources"] = f_res.result()
        sink_counts["rollup_host_window"] = f_roll.result()
        stats = f_stats.result()
    _mark("resources_rollup_stats")
    # Record EVERY pending partition, including hash buckets that happened
    # to be empty — otherwise an empty bucket would stay "pending" forever
    # and every future run would rescan the input for it.
    by_part = {r.lineage_partition: r for r in stats}
    manifest.record(
        [
            {
                "run_id": run_id,
                "lineage_partition": p,
                "input_split": input_split,
                "row_count": by_part[p].row_count if p in by_part else 0,
                "parse_failures": by_part[p].parse_failures if p in by_part else 0,
            }
            for p in pending
        ],
    )
    telemetry = telemetry_counters(
        spark,
        run_id,
        produced={k: v for k, v in sink_counts.items()},
        mapping_errors=len(compiled.errors),
        # one metadata tombstone per removed mapping
        mappings_removed=sink_counts.get("metadata_tombstones", 0),
    )
    sinks.append(telemetry, "telemetry", partition_by=None)
    _mark("manifest_telemetry")

    total_rows = sum(r.row_count for r in stats)
    elapsed = time.time() - t_start
    return {
        "run_id": run_id,
        "pending": len(pending),
        "partitions_processed": len(pending),
        "rows": total_rows,
        "parse_failures": sum(r.parse_failures for r in stats),
        "sink_counts": sink_counts,
        "mapping_errors": [e["data_source"] for e in compiled.errors],
        "elapsed_sec": elapsed,
        "stage_sec": stage_sec,
        "pages_per_sec": total_rows / elapsed if elapsed > 0 else None,
    }


def run_pipeline(
    spark: SparkSession,
    webtext_path: str,
    out_root: str,
    mappings: MappingSet | None = None,
    previous_mappings: MappingSet | None = None,
    n_lineage_buckets: int = 32,
    max_partitions_this_run: int | None = None,
    rollup_window: str = "1 hour",
    api_keys: dict[str, str] | None = None,
    default_api_key: str = "default-key",
) -> dict:
    """Run (or resume) the pipeline. Returns a summary dict with per-sink
    routed-row counts, telemetry, and timing."""
    mappings = mappings or default_mappings()
    removed = diff_settings(previous_mappings, mappings) if previous_mappings else []

    def publish(sinks: SinkCatalog, run_id: str) -> dict[str, int]:
        # ---- A6 + R6 + K6 run off ONE unified landed element stream
        counts = publish_element_stream(
            spark, sinks, run_id, api_keys=api_keys, default_api_key=default_api_key,
        )

        # Metadata publisher analog (metadata_publisher.go:48-129): compacted
        # snapshot of live mappings, tombstones for removed ones. Snapshot-
        # change gate (cache.go:129-182): an unchanged snapshot skips the
        # republish — deep equality, not identity.
        from ..operators.metadata import metadata_tombstones, stream_metadata
        from ..operators.routing import with_kafka_key, with_topic
        from ..sources.settings import snapshot_changed

        if snapshot_changed(previous_mappings, mappings) or not sinks.exists(
            "stream_metadata"
        ):
            # attr-driven routing through the shared exporter path: records
            # resolve their topic + message key from stskafka.* attrs (K1/R4)
            meta_routed = with_kafka_key(
                with_topic(stream_metadata(spark, mappings),
                           default_topic="sts_topology_stream"),
                default_key_col="data_source",
            )
            sinks.overwrite(meta_routed, "stream_metadata", partition_by=["topic"])

        # ---- tombstones for removed mappings (R5); count is known driver-side
        # (4 shards per removed mapping), no extra job when nothing was removed
        if removed:
            # version-scoped partition overwrite, as the settings stream
            # writes them: a rerun after a crash before the manifest record
            # replaces its own rows instead of doubling them
            vdir = f"version={mappings.version}"
            sinks.overwrite_partition(removal_tombstones(spark, removed), "tombstones", vdir)
            # metadata tombstones ride the same removal event
            # (metadata_publisher.go PublishTombstones)
            sinks.overwrite_partition(
                metadata_tombstones(spark, removed), "metadata_tombstones", vdir,
            )
        counts["tombstones"] = 4 * len(removed)
        counts["metadata_tombstones"] = len(removed)
        return counts

    summary = _process_batch(
        spark, out_root, spark.read.parquet(webtext_path), webtext_path, mappings,
        n_lineage_buckets=n_lineage_buckets,
        max_partitions_this_run=max_partitions_this_run,
        rollup_window=rollup_window,
        publish=publish,
    )
    if not summary.get("skipped"):
        summary["removed_mappings"] = removed
    return summary
