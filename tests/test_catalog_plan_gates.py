"""Catalog-wide physical-plan gates: EVERY entry_queries query must plan
without the two scale-killer shapes, at plan time, with no execution:

- CartesianProduct: an unconditioned large-x-large join. (crossJoin
  against a broadcast 1-row aggregate plans as BroadcastNestedLoopJoin,
  which is fine and NOT flagged here — the scalar-broadcast pattern.)
- BatchEvalPython: a row-at-a-time Python UDF in the plan. Only
  Arrow-batched pandas UDFs (ArrowEvalPython) are allowed in the hot
  path (SURVEY §2.9 / brief: "UDFs are the slow path").

This subsumes the per-operator no-cartesian tests with one sweep over
the full driver surface — a query added without thinking about its join
shape fails here before it ever reaches the driver."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.entry_queries import QUERIES

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

# queries whose plan is intentionally not built here: none currently —
# keep the list visible so any future exception is explicit and reviewed
PLAN_GATE_EXEMPT: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_row_python_udf(spark, name):
    if name in PLAN_GATE_EXEMPT:
        pytest.skip("explicitly exempted")
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"


def test_d1_dedup_plans_as_hash_aggregate(spark):
    """d1_dedup_first_wins must plan as a partial-mergeable hash aggregate
    (min_by), NOT a window sort: a row_number window shuffles and sorts
    every group's rows, the aggregate shuffles pre-reduced groups
    (VERDICT r4 Wrong #2)."""
    df = QUERIES["d1_dedup_first_wins"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "d1 regressed to a window sort"
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_catalog_queries_and_oracles_aligned():
    """Every query has an oracle and vice versa (the driver records a
    weaker rows-only check for oracle-less queries — we keep that set
    empty on purpose), and the driver's 50-entry check window exists."""
    from sts_opentelemetry_collector_spark.entry_queries import ORACLES, QUERIES

    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) >= 50  # the driver checks dict order 1-50


# ---------------------------------------------------------------------------
# operator-level physical-plan quality gates (pushdown / broadcast / codegen)


def test_filter_pushdown_reaches_scan(spark, webtext_dir):
    import os

    df = spark.read.parquet(os.path.join(webtext_dir, "webtext.parquet"))
    plan = (
        df.where(F.col("lang") == "en")
        .select("url")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: scan must not read html/text
    assert "html" not in plan.split("ReadSchema")[1][:200]


def test_broadcast_join_chosen_for_dims(spark, webtext):
    from sts_opentelemetry_collector_spark.operators.enrich import enrich_pages
    from sts_opentelemetry_collector_spark.operators.parse import parse_pages
    from sts_opentelemetry_collector_spark.sources.webtext import dims

    lm, ht = dims(spark)
    out = enrich_pages(parse_pages(webtext), lm, ht)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The corpus side must never shuffle: the benchmark shingle set joins
    as a BroadcastHashJoin (docstring contract, operators/textops.py)."""
    from sts_opentelemetry_collector_spark.operators.textops import decontaminate

    docs = spark.createDataFrame(
        [(i, "some words repeated here for the shingle window test", "en")
         for i in range(50)],
        "doc_id long, text string, lang string",
    )
    bench = docs.where(F.col("doc_id") % 7 == 0)
    plan = (
        decontaminate(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_scan_local(spark):
    """Hash-mod sampling must be a pure scan+filter: no shuffle, no join
    — the property that makes it viable at 10^12 rows."""
    from sts_opentelemetry_collector_spark.operators.textops import stratified_sample

    docs = spark.createDataFrame(
        [(i, "text", f"l{i%3}") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    plan = stratified_sample(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_repetition_stats_is_scan_local(spark):
    """Gopher repetition filters must be pure row-local HOFs: no shuffle,
    no join — scan-bound at any corpus size (and correct: the known-
    repetitive doc is dropped, the diverse one kept)."""
    from sts_opentelemetry_collector_spark.operators.textops import repetition_stats

    docs = spark.createDataFrame(
        [(0, "spam spam spam spam spam spam spam spam spam spam"),
         (1, "a genuinely varied sentence with distinct words throughout here now")],
        "doc_id long, text string",
    )
    out = repetition_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].keep is False and rows[0].top_word_frac == 1.0
    assert rows[1].keep is True and rows[1].dup_word_frac == 0.0

    # the composed filter chain is equally scan-local
    from sts_opentelemetry_collector_spark.operators.textops import quality_gate

    gplan = quality_gate(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in gplan and "Join" not in gplan


def test_tfidf_argmax_is_hash_agg_not_window(spark):
    """The per-doc argmax must be a min_by hash aggregate, not a
    row_number window (which would sort-shuffle the exploded frame);
    df-side join must be an equi-join, and idf must rank rare terms up."""
    from sts_opentelemetry_collector_spark.operators.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, f"common common common {'rare' + str(i) if i == 3 else 'common'}")
         for i in range(8)],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    rows = {r.doc_id: r for r in out.collect()}
    # doc 3's unique term beats 'common' (df=8 => idf=0) everywhere
    assert rows[3].top_term == "rare3" and rows[3].df == 1
    assert rows[0].tfidf == 0.0  # all-common doc: ln(8/8) = 0


def test_aggregation_is_partial_then_final(spark, webtext):
    # map-side combine: two HashAggregate levels around the shuffle
    agg = webtext.groupBy("lang").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(lang" in plan


def test_whole_stage_codegen_covers_mapping(spark, webtext):
    from sts_opentelemetry_collector_spark.operators.mapping import (
        apply_mappings,
        register_sql_functions,
    )
    from sts_opentelemetry_collector_spark.operators.parse import parse_pages, with_attrs
    from sts_opentelemetry_collector_spark.sources.settings import default_mappings

    import contextlib
    import io

    spark.catalog.clearCache()  # a cached identical subtree (other test
    # modules) would swap the scan for InMemoryTableScan and hide codegen
    register_sql_functions(spark)
    pages = with_attrs(parse_pages(webtext))
    out = apply_mappings(pages, default_mappings())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.components.explain("formatted")
    plan = buf.getvalue()
    assert "codegen id" in plan  # whole-stage codegen spans present
    # plan-level witness that Catalyst prunes the parse UDF out of branches
    # whose mapping never references parsed fields: the page-host branch
    # reads only (url, lang) straight from the scan
    assert "ReadSchema: struct<url:string,lang:string>" in plan


def _plan_nodes(spark, plan, seen: set):
    """Every node an executed plan runs. A cached frame's plan is walked
    once however many InMemoryTableScans read it, and a reused exchange
    is not walked again."""
    ident = spark._jvm.java.lang.System.identityHashCode
    name = plan.getClass().getSimpleName()
    if name == "ReusedExchangeExec":
        return
    yield plan
    if name == "InMemoryTableScanExec":
        builder = plan.relation().cacheBuilder()
        if ident(builder) not in seen:
            seen.add(ident(builder))
            yield from _plan_nodes(spark, builder.cachedPlan(), seen)
        return
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(spark, plan.executedPlan(), seen)
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(spark, plan.plan(), seen)
        return
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(spark, kids.apply(i), seen)


def _file_scans(spark, plan, seen: set) -> int:
    """FileSourceScanExec nodes an executed plan runs (see _plan_nodes)."""
    return sum(
        n.getClass().getSimpleName() == "FileSourceScanExec"
        for n in _plan_nodes(spark, plan, seen)
    )


def test_ngram_jaccard_pairs_one_pass_per_document(spark, spark_jobs):
    """The near-dup chain shingles each document once: the bucket
    self-join and the exact-Jaccard verify both read one persisted
    per-doc frame, so the `documents` file is scanned once and a noop
    write of its pairs launches at most 11 jobs on the 500-doc table (19
    when every consumer rebuilt the shingles). The verify counts the
    Jaccard union from the two shingle counts: no node builds it with
    array_distinct(concat(...))."""
    from sts_opentelemetry_collector_spark.operators.cache import release_caches
    from sts_opentelemetry_collector_spark.operators.textops import ngram_jaccard_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = ngram_jaccard_pairs(docs)
    try:
        with spark_jobs() as jobs:
            df.write.format("noop").mode("overwrite").save()
        assert jobs.n <= 11, f"{jobs.n} jobs"
        plan = df._jdf.queryExecution().executedPlan()
        assert _file_scans(spark, plan, set()) == 1
        built = [
            n.getClass().getSimpleName()
            for n in _plan_nodes(spark, plan, set())
            if "array_distinct(concat" in n.verboseStringWithOperatorId()
        ]
        assert not built, f"union built in {built}"
    finally:
        release_caches()
