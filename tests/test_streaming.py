"""Streaming twins: AvailableNow backlog drain must produce the same
results as the batch operators (stream/batch unification check)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog
from sts_opentelemetry_collector_spark.plans.txlog import PendingCommit
from sts_opentelemetry_collector_spark.sources.webtext import write_webtext
from sts_opentelemetry_collector_spark.streaming.jobs import (
    read_webtext_stream,
    run_pipeline_streaming,
    run_stream_to_sink,
    streaming_dedup,
    streaming_pair_join,
    streaming_rollup,
)


def test_streaming_rollup_matches_batch(spark, webtext_dir, tmp_path):
    src = webtext_dir  # file-stream source requires a directory
    stream = read_webtext_stream(spark, src)
    rollup = streaming_rollup(stream, window="1 hour")
    out = str(tmp_path / "rollup_out")
    run_stream_to_sink(rollup, out, str(tmp_path / "ckpt"))

    got = {
        (r.host, r.window_start): r.page_count
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.read.parquet(src).select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
        F.window("warc_ts", "1 hour").alias("win"),
    )
    expected = {
        (r.host, r.win.start): r["count"]
        for r in batch.groupBy("host", "win").count().collect()
    }
    # append mode emits only watermark-closed windows: everything emitted
    # must match batch exactly; everything closed must have been emitted.
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert expected[k] == v
    import datetime as dt

    max_ts = spark.read.parquet(src).agg(F.max("warc_ts")).first()[0]
    cutoff = max_ts - dt.timedelta(hours=3)  # 2h watermark + 1h window
    closed = {k: v for k, v in expected.items() if k[1] < cutoff}
    for k, v in closed.items():
        assert got.get(k) == v


def test_streaming_dedup_bounded(spark, webtext_dir, tmp_path):
    src = webtext_dir
    stream = read_webtext_stream(spark, src)
    deduped = streaming_dedup(
        stream.select(
            F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
            "warc_ts",
            "lang",
        ),
        ["host", "lang"],
    )
    out = str(tmp_path / "dedup_out")
    run_stream_to_sink(deduped, out, str(tmp_path / "ckpt2"))
    got = spark.read.parquet(out)
    n_keys = (
        spark.read.parquet(src)
        .select(F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"), "lang")
        .distinct()
        .count()
    )
    # watermark-windowed: at least one row per key, far fewer than input
    assert n_keys <= got.count() < 2000
    assert got.select("host", "lang").distinct().count() == n_keys


def test_streaming_pair_join(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        ("t1", "s1", "", "CLIENT", "frontend", t0),
        ("t1", "s2", "s1", "SERVER", "checkout", t0 + dt.timedelta(seconds=1)),
        ("t2", "s3", "", "CLIENT", "frontend", t0 + dt.timedelta(seconds=5)),
        # unmatched server (different trace)
        ("t3", "s4", "sX", "SERVER", "cart", t0 + dt.timedelta(seconds=6)),
    ]
    src = str(tmp_path / "spans_src")
    spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, kind string, "
        "service string, event_ts timestamp",
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "trace_id string, span_id string, parent_span_id string, kind string, "
            "service string, event_ts timestamp"
        ).parquet(src)
    )
    joined = streaming_pair_join(stream, ttl="2 minutes")
    out = str(tmp_path / "edges_out")
    run_stream_to_sink(joined, out, str(tmp_path / "ckpt3"))
    edges = spark.read.parquet(out).collect()
    assert len(edges) == 1
    assert edges[0].client == "frontend" and edges[0].server == "checkout"


def test_streaming_pipeline_matches_batch(spark, webtext_dir, tmp_path):
    """The foreachBatch streaming flagship over multiple micro-batches
    must land the same logs count and the same distinct element identity
    set as the batch run_pipeline on the same input."""
    from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog
    from sts_opentelemetry_collector_spark.streaming.jobs import (
        run_pipeline_streaming,
    )

    import shutil

    from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

    # three arrival files => three micro-batches at max_files=1
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    for i in range(3):
        f = write_webtext(str(tmp_path / f"gen{i}"), 700, seed=42 + i)
        shutil.move(f, os.path.join(src, f"batch{i}.parquet"))

    s_out = str(tmp_path / "stream")
    summary = run_pipeline_streaming(spark, src, s_out, max_files=1)
    assert summary["micro_batches"] == 3  # genuinely incremental

    b_out = str(tmp_path / "batch")
    b_summary = run_pipeline(spark, src, b_out, n_lineage_buckets=4)

    s_sinks = SinkCatalog(os.path.join(s_out, "sinks"))
    b_sinks = SinkCatalog(os.path.join(b_out, "sinks"))
    assert s_sinks.read(spark, "otel_logs").count() == 2100

    def elem_set(df):
        return {
            (r.element_kind, r.data_source, r.external_id)
            for r in df.select("element_kind", "data_source", "external_id").collect()
        }

    got = elem_set(s_sinks.read(spark, "topology_elements"))
    expected = elem_set(b_sinks.read(spark, "topology_elements"))
    assert got == expected

    # sink-count parity across EVERY shared sink family: the streaming
    # flagship publishes the same element/envelope/lifecycle/intake sinks
    # through publish_element_stream, so counts must be equal
    for family in (
        "otel_logs", "topology_elements", "topology_components",
        "topology_relations", "topology_deletes", "topology_envelopes",
        "new_streams", "topology_intake", "otel_resources",
    ):
        assert summary["sink_counts"][family] == b_summary["sink_counts"][family], family

    # incremental rollup parity: per-micro-batch additive merges sum to
    # exactly the batch pipeline's rollup mass
    s_mass = s_sinks.read(spark, "rollup_host_window").agg(
        F.sum("page_count")
    ).first()[0]
    b_mass = b_sinks.read(spark, "rollup_host_window").agg(
        F.sum("page_count")
    ).first()[0]
    assert s_mass == b_mass == 2100

    # the published sinks are real parquet with matching row counts
    for name in ("topology_envelopes", "known_streams", "topology_intake"):
        assert s_sinks.exists(name), name
        assert s_sinks.read(spark, name).count() == b_sinks.read(spark, name).count(), name
    # intake carries identical (api_key, external_id) content both modes
    intake_cols = ["api_key", "data_source", "external_id", "element_kind"]
    si = {tuple(r) for r in s_sinks.read(spark, "topology_intake").select(*intake_cols).collect()}
    bi = {tuple(r) for r in b_sinks.read(spark, "topology_intake").select(*intake_cols).collect()}
    assert si == bi


def _arrive(src, gen_dir, name, pages, seed):
    """Land one webtext file in the stream's source directory."""
    f = write_webtext(gen_dir, pages, seed=seed)
    os.makedirs(src, exist_ok=True)
    shutil.move(f, os.path.join(src, name))


@pytest.fixture(scope="module")
def arrivals(tmp_path_factory):
    """Three arrival files: three micro-batches at max_files=1."""
    root = tmp_path_factory.mktemp("arrivals")
    src = str(root / "src")
    for i in range(3):
        _arrive(src, str(root / f"gen{i}"), f"batch{i}.parquet", 700, 42 + i)
    return src


@pytest.fixture(scope="module")
def error_stream(spark, arrivals, null_ident_mappings, tmp_path_factory):
    """An uninterrupted stream over the arrivals whose mappings record an
    error on every page: (summary, sinks)."""
    out = str(tmp_path_factory.mktemp("error_stream"))
    summary = run_pipeline_streaming(
        spark, arrivals, out, mappings=null_ident_mappings, max_files=1
    )
    assert summary["micro_batches"] == 3
    return summary, SinkCatalog(os.path.join(out, "sinks"))


def _error_counts(sinks, spark):
    return {
        (r.data_source, r.signal, r.error): r.n
        for r in sinks.read(spark, "mapping_errors")
        .groupBy("data_source", "signal", "error")
        .agg(F.sum("error_count").alias("n"))
        .collect()
    }


@pytest.fixture(scope="module")
def error_batch(spark, arrivals, null_ident_mappings, tmp_path_factory):
    """The batch run over the same arrivals and mappings: its sinks."""
    out = str(tmp_path_factory.mktemp("error_batch"))
    run_pipeline(spark, arrivals, out, mappings=null_ident_mappings, n_lineage_buckets=4)
    return SinkCatalog(os.path.join(out, "sinks"))


def test_streaming_mapping_errors_match_batch(spark, error_stream, error_batch):
    """Each micro-batch observes its record errors like a batch run, so
    the stream's mapping_errors add up to the batch run's."""
    got = _error_counts(error_stream[1], spark)
    assert got == _error_counts(error_batch, spark)
    assert sum(got.values()) == 2100


def test_every_sink_has_a_commit_log(error_stream, error_batch):
    """Every sink the batch and the streaming pipeline write, the K6
    intake included, is a txlog table: its directory holds a `_txlog/`."""
    for sinks in (error_stream[1], error_batch):
        names = sorted(os.listdir(sinks.root))
        assert "topology_intake" in names and "mapping_errors" in names, names
        for name in names:
            assert os.path.isdir(os.path.join(sinks.path(name), "_txlog")), name


def test_redelivered_micro_batch_is_exactly_once(
    spark, arrivals, error_stream, null_ident_mappings, crash_once, tmp_path
):
    """A crash inside micro-batch 2's logs publish, after its element,
    error and rollup commits landed, fails the query; the restarted query
    redelivers micro-batch 2, and the sinks end equal to an uninterrupted
    stream's."""
    ref_summary, ref = error_stream
    out = str(tmp_path / "crashed")
    crash_once(
        PendingCommit, "publish",
        lambda pending, *a, **kw: os.path.basename(pending.table.root) == "otel_logs"
        and pending.meta.get("input_split", "").endswith("#2"),
    )
    with pytest.raises(Exception, match="injected crash"):
        run_pipeline_streaming(spark, arrivals, out, mappings=null_ident_mappings, max_files=1)
    summary = run_pipeline_streaming(
        spark, arrivals, out, mappings=null_ident_mappings, max_files=1
    )
    assert summary["micro_batches"] == 1
    assert summary["sink_counts"] == ref_summary["sink_counts"]

    got = SinkCatalog(os.path.join(out, "sinks"))

    def rows(c, name):
        return sorted(str(r) for r in c.read(spark, name).collect())

    for name in (
        "otel_logs", "rollup_host_window", "topology_elements", "otel_resources",
        "mapping_errors",
    ):
        assert rows(got, name) == rows(ref, name), name


def test_stream_drain_without_micro_batches_publishes_nothing(spark, tmp_path):
    """A drain that finds no new file runs no micro-batch and publishes
    nothing; every drain that does publish gets its own collection id."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    sinks = SinkCatalog(os.path.join(out, "sinks"))
    _arrive(src, str(tmp_path / "gen0"), "a.parquet", 300, 7)
    first = run_pipeline_streaming(spark, src, out, max_files=1)
    assert first["micro_batches"] == 1
    n_envelopes = sinks.read(spark, "topology_envelopes").count()
    assert n_envelopes == first["sink_counts"]["topology_envelopes"] > 0

    idle = run_pipeline_streaming(spark, src, out, max_files=1)
    assert idle["micro_batches"] == 0
    assert sinks.read(spark, "topology_envelopes").count() == n_envelopes

    _arrive(src, str(tmp_path / "gen1"), "b.parquet", 300, 8)
    assert run_pipeline_streaming(spark, src, out, max_files=1)["micro_batches"] == 1
    ids = sinks.read(spark, "topology_envelopes").select("collection_ts").distinct()
    assert ids.count() == 2


def test_settings_stream_applies_diffs_and_tombstones(spark, tmp_path):
    """S4 streaming: arriving snapshot files apply in order; unchanged
    snapshots short-circuit; removals fan out data + metadata tombstones."""
    import json
    import shutil

    from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog
    from sts_opentelemetry_collector_spark.streaming.jobs import run_settings_stream

    src = str(tmp_path / "snaps")
    os.makedirs(src)
    base = json.load(open("fixtures/mappings_v2.json"))
    v1 = json.loads(json.dumps(base)); v1["version"] = 1
    v2 = json.loads(json.dumps(base)); v2["version"] = 2  # content-identical
    v3 = json.loads(json.dumps(base)); v3["version"] = 3
    removed_id = v3["components"][-1]["identifier"]
    v3["components"] = v3["components"][:-1]
    import time

    now = time.time()
    for i, doc in enumerate((v1, v2, v3)):
        f = os.path.join(src, f"snap_{i}.json")
        json.dump(doc, open(f, "w"))
        os.utime(f, (now + i * 10, now + i * 10))  # file source orders by mtime

    out = str(tmp_path / "settings_out")
    summary = run_settings_stream(spark, src, out)
    # v2 bumps version => applied; identical-content-same-version would skip
    assert summary["applied"] == 3 and summary["removed_total"] == 1

    sinks = SinkCatalog(os.path.join(out, "sinks"))
    meta = sinks.read(spark, "stream_metadata")
    assert removed_id not in {r.data_source for r in meta.collect()}
    ts = sinks.read(spark, "metadata_tombstones").collect()
    assert [r.data_source for r in ts] == [removed_id]
    assert sinks.read(spark, "tombstones").count() == 4  # 4 shards

    # re-delivering the SAME snapshot (new file, same content+version)
    # skips, and a malformed file is dropped without wedging the stream
    shutil.copy(os.path.join(src, "snap_2.json"), os.path.join(src, "snap_3.json"))
    with open(os.path.join(src, "snap_4_garbage.json"), "w") as f:
        f.write("{not json")
    summary2 = run_settings_stream(spark, src, out)
    assert summary2["applied"] == 0
    assert summary2["skipped_unchanged"] + summary2["skipped_stale"] >= 1
    assert summary2["parse_errors"] == 1
    # tombstones stayed idempotent (version-scoped overwrite): still 4
    assert sinks.read(spark, "tombstones").count() == 4


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """Three doc micro-batches through the accumulating-index streaming
    dedup find EXACTLY the full-corpus batch pair set (canonicalized),
    with no pair found twice — per-ingest dedup is lossless and
    non-redundant regardless of batch order."""
    import pyspark.sql.functions as F
    from sts_opentelemetry_collector_spark.operators.textops import (
        ngram_jaccard_pairs,
    )
    from sts_opentelemetry_collector_spark.streaming.jobs import (
        run_incremental_dedup_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 6} jumps over the lazy dog {i % 4}", "en")
         for i in range(60)],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "docs_in")
    for k in range(3):  # one file per append => one micro-batch each
        docs.where(F.col("doc_id") % 3 == k).repartition(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "out")
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    run_incremental_dedup_stream(spark, src, out)
    # cache hygiene (ADVICE r3): every frame persisted inside a
    # micro-batch must be unpersisted after its writes — an always-on
    # stream must not accumulate cached RDDs across triggers. Measured
    # HERE, before the batch-path comparison below (whose own persists
    # are session-lifetime by design).
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after - cached_before <= 0, (
        f"{cached_after - cached_before} cached RDDs leaked by the stream"
    )

    got = spark.read.parquet(out + "/near_dup_pairs")
    canon = {
        (min(r.new_doc_id, r.dup_of), max(r.new_doc_id, r.dup_of), r.jaccard)
        for r in got.collect()
    }
    assert got.count() == len(canon)  # no pair found twice
    full = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(docs).collect()}
    assert canon == full
    # the accumulated index covers every doc x band
    assert spark.read.parquet(out + "/lsh_index").count() == 60 * 4
