"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import harness, inputs
from perfbench.trace import (
    Span, Tracer, inclusive, load_event_log, rollup, round_robin_exchanges,
    self_time, union_length,
)


def _task_end(stage: int, run_ms: int, cpu_ns: int, records: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1, "Peak Execution Memory": 1 << 20,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Input Metrics": {"Records Read": records},
            "Output Metrics": {"Bytes Written": 5},
        },
    }


def _job(job_id: int, submit_s: float, stages: list[int], desc=None, sql=None) -> dict:
    props = {}
    if desc is not None:
        props["spark.job.description"] = desc
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": int(submit_s * 1000), "Stage IDs": stages,
            "Properties": props}


@pytest.fixture
def canned_log(tmp_path):
    plan = ("== Physical Plan ==\n* Exchange (2)\n+- Scan (1)\n\n\n"
            "(1) Scan\nOutput: [a]\n\n"
            "(2) Exchange\nArguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM\n")
    events = [
        _job(0, 120.0, [0], desc="perfbench:1", sql=7),
        _task_end(0, 1000, 2_000_000_000, records=300),
        _task_end(0, 500, 1_000_000_000, records=300),
        # no description: belongs to the op open at submission (span 0)
        _job(1, 160.0, [1, 0]),  # stage 0 listed again: reused, counted once
        _task_end(1, 250, 500_000_000),
        # stage 2 is skipped (no task ends)
        _job(2, 170.0, [2], desc="perfbench:1"),
        # after every op: nobody's
        _job(3, 300.0, [3]),
        _task_end(3, 9999, 9),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "physicalPlanDescription": "stale"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "physicalPlanDescription": plan},
    ]
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def _tracer_with(spans: list[Span]) -> Tracer:
    t = Tracer()
    t.spans = spans
    return t


def test_event_log_rollup_attributes_jobs_to_spans(canned_log):
    log = load_event_log(canned_log)
    op = Span(0, "op", None, 100.0, 200.0)
    child = Span(1, "sinks.append:x", 0, 110.0, 180.0)
    tracer = _tracer_with([op, child])
    own = rollup(log, [op])

    assert own[1]["jobs"] == 2 and own[1]["stages"] == 1 and own[1]["tasks"] == 2
    assert own[1]["executor_run_s"] == pytest.approx(1.5)
    assert own[1]["executor_cpu_s"] == pytest.approx(3.0)
    assert own[1]["records_read"] == 600
    assert own[0]["jobs"] == 1 and own[0]["tasks"] == 1  # stage 0 not recounted
    assert 3 not in {j for j in own}  # job 3 fell outside every op

    total = inclusive(own, tracer, op)
    assert total["jobs"] == 3 and total["tasks"] == 3
    assert total["executor_run_s"] == pytest.approx(1.75)
    assert total["shuffle_read_bytes"] == 30 and total["bytes_written"] == 15
    assert total["sql"] == {7}
    assert round_robin_exchanges(log["plans"][7]) == 1  # the final AQE plan wins


def test_self_time_nested_and_overlapping():
    parent = Span(0, "run_pipeline", None, 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),     # overlaps a (pool threads)
        Span(3, "c", 0, 8.0, 12.0),    # runs past the parent: clipped
        Span(4, "a.child", 1, 2.0, 3.5),  # grandchild: already inside a
        Span(5, "other", None, 0.0, 10.0),  # not a child
    ]
    # covered: [1, 6] and [8, 10] -> 7 of 10
    assert self_time(parent, spans) == pytest.approx(3.0)
    assert self_time(spans[1], spans) == pytest.approx(1.5)
    assert self_time(spans[4], spans) == pytest.approx(1.5)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_parents_pool_thread_spans_to_the_op():
    import threading

    tracer = Tracer()
    with tracer.op_span("op") as op:
        with tracer.span("main.child") as c:
            pass
        def pool_job():
            with tracer.span("pool"):
                pass

        t = threading.Thread(target=pool_job)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert c.parent == op.sid
    assert [s.parent for s in tracer.spans if s.name == "pool"] == [op.sid]


def test_pipeline_check_fails_on_corrupted_counts():
    from sts_opentelemetry_collector_spark.sources.webtext import generate_pandas

    wl = harness.PipelineIncremental()
    wl.facts = [inputs.batch_facts(generate_pandas(300, seed=s)) for s in (1, 2)]
    good = {"sink_counts": inputs.expected_sink_counts(wl.facts[:2])}
    assert wl.check(1, good) == harness.PIPELINE_BATCH_PAGES
    bad = {"sink_counts": {**good["sink_counts"],
                           "topology_elements": good["sink_counts"]["topology_elements"] + 1}}
    with pytest.raises(harness.CheckFailed):
        wl.check(1, bad)
    # the first batch of a tree has every stream new; a later one has none
    assert inputs.expected_sink_counts(wl.facts[:1])["new_streams"] > 0


def test_query_check_fails_on_corrupted_output():
    ref = {"q": (10, 12345)}
    harness.check_queries({"q": (10, 12345)}, ref)
    with pytest.raises(harness.CheckFailed):
        harness.check_queries({"q": (10, 12346)}, ref)
    with pytest.raises(harness.CheckFailed):
        harness.check_queries({"q": (9, 12345)}, ref)


def test_every_catalog_query_has_a_pinned_reference():
    from perfbench import refs

    assert tuple(refs.CATALOG) == harness.CATALOG_QUERIES


def test_timed_op_counts_a_corrupted_op_as_failed():
    class Corrupting:
        def before_op(self, i): pass
        def op(self, i, tracer): return {"q": (1, 2)}
        def check(self, i, out):
            harness.check_queries(out, {"q": (1, 3)})
            return 1

    rec = harness._timed_op(Corrupting(), 0, None)
    assert rec["error"] is not None and "CheckFailed" in rec["error"]
    assert rec["items"] == 0
