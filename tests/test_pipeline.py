"""End-to-end pipeline tests: per-sink routed-row counts, rollup equality,
lineage manifest, and kill/rerun resumability (BASELINE.md §B)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.operators import intake
from sts_opentelemetry_collector_spark.plans.lineage import Manifest
from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog
from sts_opentelemetry_collector_spark.plans.txlog import PendingCommit
from sts_opentelemetry_collector_spark.sources.settings import default_mappings


def _webtext_path(webtext_dir):
    return os.path.join(webtext_dir, "webtext.parquet")


def test_full_run_counts(spark, webtext_dir, tmp_path):
    out = str(tmp_path / "full")
    summary = run_pipeline(spark, _webtext_path(webtext_dir), out, n_lineage_buckets=8)
    assert summary["rows"] == 2000
    assert summary["parse_failures"] == 0
    sc = summary["sink_counts"]
    assert sc["otel_logs"] == 2000
    assert sc["topology_components"] > 0
    assert sc["topology_relations"] > 0
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    # per-sink routed-row equality: what the summary claims is what landed
    els = sinks.read(spark, "topology_elements")
    assert els.where("element_kind = 'component'").count() == sc["topology_components"]
    assert els.where("element_kind = 'relation'").count() == sc["topology_relations"]
    assert sinks.read(spark, "otel_logs").count() == 2000
    # rollup mass equals total pages
    rollup = sinks.read(spark, "rollup_host_window")
    assert rollup.agg(F.sum("page_count")).first()[0] == 2000
    # manifest: all 8 partitions recorded, row counts sum to total
    manifest = spark.read.parquet(os.path.join(out, "manifest.parquet"))
    assert manifest.count() == 8
    assert manifest.agg(F.sum("row_count")).first()[0] == 2000
    # telemetry counters landed
    tel = sinks.read(spark, "telemetry")
    assert tel.where("metric = 'topology_produced_total'").count() > 0
    # K4 resources dim: one content-addressed row per distinct resource
    # identity, landed via the txlog MERGE; idempotent across re-MERGE
    res = sinks.read(spark, "otel_resources")
    n_identities = (
        sinks.read(spark, "otel_logs")
        .select("host", "service", "cluster", "namespace")
        .distinct()
        .count()
    )
    assert sc["otel_resources"] == res.count() == n_identities
    assert res.select("resource_ref").distinct().count() == n_identities


def test_resume_converges_to_full_run(spark, webtext_dir, tmp_path):
    out_full = str(tmp_path / "ref")
    out_resume = str(tmp_path / "resume")
    wt = _webtext_path(webtext_dir)

    full = run_pipeline(spark, wt, out_full, n_lineage_buckets=8)

    # simulate a killed run: only 3 of 8 partitions complete
    first = run_pipeline(spark, wt, out_resume, n_lineage_buckets=8, max_partitions_this_run=3)
    assert first["partitions_processed"] == 3
    second = run_pipeline(spark, wt, out_resume, n_lineage_buckets=8)
    assert second["partitions_processed"] == 5
    # third run: nothing pending
    third = run_pipeline(spark, wt, out_resume, n_lineage_buckets=8)
    assert third.get("skipped") is True

    sinks_full = SinkCatalog(os.path.join(out_full, "sinks"))
    sinks_res = SinkCatalog(os.path.join(out_resume, "sinks"))
    # logs: exact row equality
    assert (
        sinks_res.read(spark, "otel_logs").count()
        == sinks_full.read(spark, "otel_logs").count()
        == 2000
    )
    # rollup: identical (host, window) -> count maps
    a = {
        (r.host, r.window_start): r.page_count
        for r in sinks_full.read(spark, "rollup_host_window").collect()
    }
    b = {
        (r.host, r.window_start): r.page_count
        for r in sinks_res.read(spark, "rollup_host_window").collect()
    }
    assert a == b
    # topology elements: identical distinct element sets (delivery is
    # at-least-once across runs; identity equality is the invariant)
    for kind in ("component", "relation"):
        sa = {
            (r.data_source, r.external_id)
            for r in sinks_full.read(spark, "topology_elements")
            .where(f"element_kind = '{kind}'")
            .select("data_source", "external_id").collect()
        }
        sb = {
            (r.data_source, r.external_id)
            for r in sinks_res.read(spark, "topology_elements")
            .where(f"element_kind = '{kind}'")
            .select("data_source", "external_id").collect()
        }
        assert sa == sb


def test_incremental_second_batch(spark, webtext_dir, tmp_path):
    """A NEW ingest batch (different input path) must process fully —
    the manifest is input_split-scoped, not global (Iceberg incremental
    processing analog)."""
    from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

    out = str(tmp_path / "incr")
    first = run_pipeline(spark, _webtext_path(webtext_dir), out, n_lineage_buckets=4)
    assert first["rows"] == 2000

    batch2_dir = str(tmp_path / "batch2")
    wt2 = write_webtext(batch2_dir, 500, seed=7)
    second = run_pipeline(spark, wt2, out, n_lineage_buckets=4)
    assert second.get("skipped") is not True
    assert second["rows"] == 500

    sinks = SinkCatalog(os.path.join(out, "sinks"))
    assert sinks.read(spark, "otel_logs").count() == 2500
    # rollup covers both batches
    rollup = sinks.read(spark, "rollup_host_window")
    assert rollup.agg(F.sum("page_count")).first()[0] == 2500
    # re-running either batch: nothing pending
    assert run_pipeline(spark, wt2, out, n_lineage_buckets=4).get("skipped") is True


def test_crashed_run_orphans_healed(spark, webtext_dir, tmp_path):
    """Both txlog crash shapes heal to exactly-once at the lineage-
    partition level: (A) a run that STAGED log files but crashed before
    publish leaves them invisible (vacuum reclaims); (B) a run that
    PUBLISHED its commit but crashed before the manifest recorded it is
    rolled back — metadata-only — at the next run's start."""
    import pyspark.sql.functions as F_

    out = str(tmp_path / "crash")
    wt = _webtext_path(webtext_dir)
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    crashed = spark.read.parquet(wt).limit(50).select(
        "url", "warc_ts", F_.lit(0).alias("lineage_partition")
    )
    # crash shape A: staged, never published
    staged = sinks.stage(crashed, "otel_logs")
    # crash shape B: published, but its run_id never reached the manifest
    sinks.append(crashed, "otel_logs",
                 meta={"run_id": "deadbeef0000", "input_split": wt})

    summary = run_pipeline(spark, wt, out, n_lineage_buckets=4)
    assert sinks.read(spark, "otel_logs").count() == summary["rows"] == 2000
    healed = [c for c in sinks.commits("otel_logs")
              if c.get("meta", {}).get("healed_run") == "deadbeef0000"]
    assert len(healed) == 1
    # the dead bytes (staged orphans + rolled-back commit) are vacuumable
    removed = set(sinks.vacuum("otel_logs", retain_seconds=0.0))
    assert set(staged.files) <= removed
    assert sinks.read(spark, "otel_logs").count() == 2000


def test_crashed_run_rollup_merge_healed(spark, webtext_dir, tmp_path):
    """The rollup sink is an ADDITIVE merge per run — a crashed run's
    merge (published, never manifested) must invert at the next start or
    the rerun double-counts its windows. Simulate: a full run, then a
    foreign run-tagged additive merge duplicating every row; heal must
    restore the exact pre-crash rollup."""
    import pyspark.sql.functions as F_

    out = str(tmp_path / "rollup_crash")
    wt = _webtext_path(webtext_dir)
    summary = run_pipeline(spark, wt, out, n_lineage_buckets=4)
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    good = sinks.read(spark, "rollup_host_window")
    good_mass = good.agg(F_.sum("page_count")).first()[0]
    assert good_mass == summary["rows"]

    # crashed run: its partials merged in, manifest never recorded it
    sinks.merge_aggregate(
        good.select("host", "window_start", "window_end", "page_count"),
        "rollup_host_window",
        keys=["host", "window_start", "window_end"],
        sum_cols=["page_count"],
        meta={"run_id": "deadbeefcafe", "input_split": wt},
    )
    doubled = sinks.read(spark, "rollup_host_window").agg(
        F_.sum("page_count")
    ).first()[0]
    assert doubled == 2 * good_mass

    from sts_opentelemetry_collector_spark.plans.pipeline import (
        _heal_unmanifested_runs,
    )

    manifest = Manifest(os.path.join(out, "manifest.parquet"))
    healed = _heal_unmanifested_runs(sinks, manifest)
    assert "deadbeefcafe" in healed
    assert (
        sinks.read(spark, "rollup_host_window").agg(F_.sum("page_count")).first()[0]
        == good_mass
    )


def test_tombstones_on_mapping_removal(spark, webtext_dir, tmp_path):
    out = str(tmp_path / "tomb")
    prev = default_mappings()
    cur = default_mappings()
    removed_id = cur.components.pop(1).identifier  # drop page-host mapping
    summary = run_pipeline(
        spark,
        _webtext_path(webtext_dir),
        out,
        mappings=cur,
        previous_mappings=prev,
        n_lineage_buckets=4,
    )
    assert summary["removed_mappings"] == [removed_id]
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    tombs = sinks.read(spark, "tombstones")
    assert tombs.count() == 4  # one per shard (R5)
    assert tombs.select("data_source").distinct().first()[0] == removed_id


def test_envelopes_streams_intake_metadata_sinks(spark, webtext_dir, tmp_path):
    """A6/R6/K6/metadata wiring: the flagship run lands envelope groups,
    first-seen streams, a per-key sorted intake, and the mapping-metadata
    snapshot."""
    out = str(tmp_path / "wired")
    summary = run_pipeline(
        spark, _webtext_path(webtext_dir), out, n_lineage_buckets=4,
        api_keys={"page-service": "key-prod"},
    )
    sc = summary["sink_counts"]
    sinks = SinkCatalog(os.path.join(out, "sinks"))

    # A6: every (data_source, shard) stream coalesced into >=1 envelope;
    # element mass preserved
    env = sinks.read(spark, "topology_envelopes")
    assert sc["topology_envelopes"] == env.count() > 0
    total_elements = env.agg(F.sum("element_count")).first()[0]
    assert total_elements == (
        sc["topology_components"] + sc["topology_relations"]
        + sc["topology_deletes"]
    )

    # R6: first run sees every stream as new; second run over the same
    # input sees none
    ks = sinks.read(spark, "known_streams")
    assert sc["new_streams"] == ks.count() > 0
    summary2 = run_pipeline(
        spark, _webtext_path(webtext_dir), out, n_lineage_buckets=4,
        api_keys={"page-service": "key-prod"},
    )
    assert summary2.get("skipped") or summary2["sink_counts"]["new_streams"] == 0

    # K6/A9: intake partitioned per api key, rows sorted by external_id
    # within each live file (canonical POST-body order)
    intake = sinks.table("topology_intake")
    live = intake.snapshot()[0]
    assert {f.split(os.sep)[0] for f in live} == {"api_key=key-prod", "api_key=default-key"}
    import pyarrow.parquet as pq

    for f in live:
        ids = pq.read_table(
            os.path.join(intake.root, f), columns=["external_id"]
        )["external_id"].to_pylist()
        assert ids == sorted(ids), f"unsorted intake file {f}"

    # metadata: one record per live mapping
    meta = sinks.read(spark, "stream_metadata")
    assert meta.count() == len(
        default_mappings().components + default_mappings().relations
    )


def test_intake_holds_only_the_current_api_keys(spark, webtext_dir, tmp_path):
    """The intake is a full snapshot per run: after a run whose api keys
    changed, it reads back only that run's rows, with no partition of an
    api key the run no longer produces."""
    from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

    out = str(tmp_path / "keys")
    first = run_pipeline(
        spark, _webtext_path(webtext_dir), out, n_lineage_buckets=4,
        api_keys={"page-service": "key-prod"},
    )
    second_input = write_webtext(str(tmp_path / "second"), 300, seed=7)
    second = run_pipeline(spark, second_input, out, n_lineage_buckets=4)
    intake = SinkCatalog(os.path.join(out, "sinks")).read(spark, "topology_intake")
    keys = {r.api_key for r in intake.select("api_key").distinct().collect()}
    assert first["sink_counts"]["topology_intake"] > 0
    assert keys == {"default-key"}
    assert intake.count() == second["sink_counts"]["topology_intake"]


def test_tombstones_converge_after_a_crash_before_the_manifest(
    spark, webtext_dir, tmp_path, crash_once
):
    """A run with a mapping removal that crashes in the manifest record,
    after its tombstones landed, reruns to the same tombstone rows as an
    uninterrupted run: one per shard and one metadata tombstone."""
    prev, cur = default_mappings(), default_mappings()
    removed_id = cur.components.pop(1).identifier
    out = str(tmp_path / "tomb_crash")
    crash_once(Manifest, "record", lambda *a, **kw: True)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, _webtext_path(webtext_dir), out, mappings=cur,
                     previous_mappings=prev, n_lineage_buckets=4)
    run_pipeline(spark, _webtext_path(webtext_dir), out, mappings=cur,
                 previous_mappings=prev, n_lineage_buckets=4)
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    tombs = sinks.read(spark, "tombstones")
    assert tombs.count() == 4
    assert {r.data_source for r in tombs.collect()} == {removed_id}
    assert [r.data_source for r in sinks.read(spark, "metadata_tombstones").collect()] \
        == [removed_id]


def test_metadata_tombstones_on_removal(spark, webtext_dir, tmp_path):
    out = str(tmp_path / "meta_ts")
    prev = default_mappings()
    cur = default_mappings()
    removed_id = cur.components[-1].identifier
    cur.components = cur.components[:-1]
    summary = run_pipeline(
        spark, _webtext_path(webtext_dir), out,
        mappings=cur, previous_mappings=prev, n_lineage_buckets=4,
    )
    assert summary["sink_counts"]["metadata_tombstones"] == 1
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    ts = sinks.read(spark, "metadata_tombstones").collect()
    assert [r.data_source for r in ts] == [removed_id]


def test_record_errors_counted_via_observe(spark, webtext_dir, tmp_path, null_ident_mappings):
    """A mapping whose required output evals null on some rows yields
    mapping_errors counts WITHOUT a separate branch-union re-execution
    (counts ride the element write via observe)."""
    out = str(tmp_path / "errs")
    ms = null_ident_mappings
    summary = run_pipeline(spark, _webtext_path(webtext_dir), out, mappings=ms,
                           n_lineage_buckets=4)
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    errs = {r.data_source: r.error_count
            for r in sinks.read(spark, "mapping_errors").collect()}
    assert errs.get("null-ident-mapping") == 2000  # every row errors
    assert summary["sink_counts"]["mapping_errors"] == 1


def _manifest_rows(run_id, parts, split):
    return [
        {"run_id": run_id, "lineage_partition": p, "input_split": split,
         "row_count": 10 * p, "parse_failures": 0}
        for p in parts
    ]


def test_manifest_reads_spark_written_and_driver_written_files(spark, tmp_path):
    """A manifest directory Spark wrote (the earlier layout: a part file
    plus _SUCCESS and .crc files) stays readable next to the files the
    driver writes now, by the manifest itself and by Spark."""
    from pyspark.sql.types import DataType

    from sts_opentelemetry_collector_spark.plans.lineage import MANIFEST_SCHEMA

    path = str(tmp_path / "manifest.parquet")
    spark.createDataFrame(
        [("old", 0, "a", 5, 0), ("old", 1, "b", 6, 1)],
        "run_id string, lineage_partition int, input_split string, "
        "row_count long, parse_failures long",
    ).withColumn("completed_at", F.current_timestamp()).repartition(1).write.mode(
        "append"
    ).parquet(path)
    manifest = Manifest(path)
    manifest.record(_manifest_rows("new", [2, 3], "a"))

    assert manifest.completed_partitions(input_split="a") == {0, 2, 3}
    assert manifest.completed_partitions(input_split="b") == {1}
    assert manifest.completed_partitions() == {0, 1, 2, 3}
    assert manifest.run_ids() == {"old", "new"}

    want = DataType.fromDDL(MANIFEST_SCHEMA).simpleString()
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 2
    for f in files:  # each layout on its own: the same names and types
        assert spark.read.parquet(os.path.join(path, f)).schema.simpleString() == want
    both = spark.read.parquet(path)
    assert both.schema.simpleString() == want
    assert both.count() == 4


def test_manifest_launches_no_spark_jobs(spark, tmp_path, spark_jobs):
    manifest = Manifest(str(tmp_path / "manifest.parquet"))
    with spark_jobs() as jobs:
        manifest.record(_manifest_rows("r1", [0, 1], "a"))
        assert manifest.completed_partitions(input_split="a") == {0, 1}
        assert manifest.run_ids() == {"r1"}
    assert jobs.n == 0


# where a run can crash after commits have landed: (owner, attr, call match)
CRASH_POINTS = {
    "elements_append": (
        SinkCatalog, "append",
        lambda self, df, name, *a, **kw: name == "topology_elements",
    ),
    "logs_publish": (
        PendingCommit, "publish",
        lambda pending, *a, **kw: os.path.basename(pending.table.root) == "otel_logs",
    ),
    "manifest_record": (Manifest, "record", lambda *a, **kw: True),
    "publish_intake": (intake, "write_intake", lambda *a, **kw: True),
}


@pytest.mark.parametrize("point", list(CRASH_POINTS))
def test_crash_during_element_write_converges(
    spark, webtext_dir, tmp_path, monkeypatch, crash_once, null_ident_mappings, point
):
    """The resources MERGE, the rollup merge and the partition stats read
    only the staged logs and run beside the mapping chain. A crash in the
    element write, in the intake write, in the logs publish or in the
    manifest record, after both merges committed, must converge on rerun
    to an uninterrupted run, must leave no persisted frame behind, and
    run_pipeline must never return or raise while one of those jobs is
    still running."""
    import threading
    import time

    from sts_opentelemetry_collector_spark.plans import pipeline

    wt = _webtext_path(webtext_dir)
    ref_out, out = str(tmp_path / "ref"), str(tmp_path / "crash")
    ms = null_ident_mappings
    run_pipeline(spark, wt, ref_out, mappings=ms, n_lineage_buckets=4)

    lock = threading.Lock()
    running: list[str] = []
    merged = {"upsert": threading.Event(), "merge_aggregate": threading.Event()}

    def tracked(name, fn):
        def call(*args, **kwargs):
            with lock:
                running.append(name)
            try:
                return fn(*args, **kwargs)
            finally:
                if name in merged:
                    merged[name].set()
                time.sleep(1.0)  # still in flight when the chain raises
                with lock:
                    running.remove(name)
        return call

    for name in merged:
        monkeypatch.setattr(SinkCatalog, name, tracked(name, getattr(SinkCatalog, name)))
    stats = pipeline.partition_stats

    def tracked_stats(pages):
        df = stats(pages)
        df.collect = tracked("stats", df.collect)
        return df

    monkeypatch.setattr(pipeline, "partition_stats", tracked_stats)

    def tail_committed():
        assert all(e.wait(60) for e in merged.values()), "tail merges never committed"
        return True

    owner, attr, hit = CRASH_POINTS[point]
    crash_once(owner, attr, lambda *a, **kw: hit(*a, **kw) and tail_committed())

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    persisted_before = persisted()
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, wt, out, mappings=ms, n_lineage_buckets=4)
    assert running == []
    assert persisted() <= persisted_before, "crashed run leaked a persisted frame"
    summary = run_pipeline(spark, wt, out, mappings=ms, n_lineage_buckets=4)
    assert running == []
    assert summary["rows"] == 2000

    ref, got = (SinkCatalog(os.path.join(o, "sinks")) for o in (ref_out, out))

    def rollup(c):
        return {(r.host, r.window_start): r.page_count
                for r in c.read(spark, "rollup_host_window").collect()}

    def rows(c, name):
        return sorted(str(r) for r in c.read(spark, name).collect())

    assert rollup(got) == rollup(ref)
    for name in ("otel_resources", "otel_logs", "topology_elements", "mapping_errors"):
        assert rows(got, name) == rows(ref, name), name


def test_config_frames_are_arrow_local_relations(spark):
    """The driver-built config-scale frames are Arrow local relations,
    whatever the session's Arrow conf says: no pickled-row RDD scan, so
    no Python worker and no job until the write."""
    from sts_opentelemetry_collector_spark.operators.aggregate import telemetry_counters
    from sts_opentelemetry_collector_spark.operators.metadata import (
        metadata_tombstones,
        stream_metadata,
    )
    from sts_opentelemetry_collector_spark.operators.routing import removal_tombstones

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        frames = {
            "telemetry": telemetry_counters(spark, "r", {"otel_logs": 3}, 0, 1),
            "stream_metadata": stream_metadata(spark, default_mappings()),
            "tombstones": removal_tombstones(spark, ["m1"]),
            "metadata_tombstones": metadata_tombstones(spark, ["m1"]),
        }
        for name, df in frames.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
            assert df.rdd.getNumPartitions() == 1, name
        assert frames["tombstones"].count() == 4
    finally:
        spark.conf.set(conf, prev)
