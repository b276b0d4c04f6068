"""Session lifetime, workloads, the timed op loop and the metrics.

A workload has `setup` (its inputs; timed as part of `setup_s`),
`before_op(i)` (untimed preparation of op i), `op(i)` (one timed unit of
work) and `check(i, out)` (returns the op's item count, raises
`CheckFailed` on a wrong output). An op that raises or fails its check
counts as failed.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import threading
import time

from . import inputs, refs
from .trace import (
    Tracer, inclusive, load_event_log, rollup, round_robin_exchanges, self_time,
)

PIPELINE_BATCH_PAGES = 6000
# output tree restarts empty after this many batches, so the tables an op
# merges into stay the same size however many ops a run fits
PIPELINE_CYCLE = 4
WARMUP_OPS = 1  # untimed full-size ops, counted in setup_s
MIN_MEASURED_OPS = 2  # a median needs more than one op, even on a slow host

# LSH + Jaccard verify, then connected components; dedup_apply (a broadcast
# anti join on the components) does not fit the run budget (NOTES.md)
NEAR_DUP_QUERIES = ("dedup_ngram_jaccard", "dedup_groups")
# the span pair join, its edge cache and the edge counters; the other
# service-graph queries do not fit the run budget (NOTES.md)
SERVICE_GRAPH_QUERIES = ("sg_edge_metrics",)
CATALOG_QUERIES = NEAR_DUP_QUERIES + SERVICE_GRAPH_QUERIES

RSS_INTERVAL_S = 0.5
STOP_TIMEOUT_S = 60.0


class CheckFailed(AssertionError):
    pass


# ---- process memory -----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited
    return 0


class PeakRss:
    """Peak resident memory of this process and its live descendants (the
    JVM and the Python workers): the largest sum of their VmRSS over
    samples taken every RSS_INTERVAL_S. Summing only live processes keeps
    Python workers that replaced each other from adding up."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_vm_rss_kb(p) for p in process_tree(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024


# ---- session ------------------------------------------------------------

def start_session(work: str, cores: int, heap: str, event_log_dir: str | None):
    """Spark session with every scratch path inside `work`."""
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )  # Python workers unpickle the package's UDFs by import path
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": local_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + event_log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    from sts_opentelemetry_collector_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, {"cores": cores, "driver_heap": heap, "local_dirs": local_dir,
                   "tmp_dir": tmp, "event_log_dir": event_log_dir,
                   "spark_version": spark.version}


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers
    have exited."""
    descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.time() + STOP_TIMEOUT_S
    for pid in descendants:
        while time.time() < deadline and _alive(pid):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---- workloads ----------------------------------------------------------

class Workload:
    max_ops = 1000

    def __init__(self):
        self.released: list[int] = []  # frames release_caches() freed after each op

    def before_op(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass

    def instrument(self, tracer: Tracer) -> None:
        pass


class PipelineIncremental(Workload):
    """Successive 6,000-page batches, each one `run_pipeline` into a
    persistent output tree that restarts empty every PIPELINE_CYCLE
    batches. Batch i has the seed `seed * 1000 + i`. Item: a page."""

    def setup(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.paths: dict[int, str] = {}
        self.facts: dict[int, dict] = {}

    def before_op(self, i: int) -> None:
        """Write batch i and derive its expected outputs from the written
        pages; restart the tree at the start of a cycle."""
        import pandas as pd
        from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

        if i % PIPELINE_CYCLE == 0:
            shutil.rmtree(os.path.join(self.work, "trees"), ignore_errors=True)
        self.paths[i] = write_webtext(
            os.path.join(self.work, "input", f"b{i:02d}"), PIPELINE_BATCH_PAGES,
            seed=self.seed * 1000 + i, partitions=2 * self.spark.sparkContext.defaultParallelism,
        )
        self.facts[i] = inputs.batch_facts(pd.read_parquet(self.paths[i], columns=["url", "warc_ts"]))

    def after_op(self, i: int) -> None:
        shutil.rmtree(os.path.dirname(self.paths.pop(i)), ignore_errors=True)

    def op(self, i: int, tracer: Tracer | None):
        from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.work, "trees", f"t{i // PIPELINE_CYCLE}")
        if tracer is None:
            return run_pipeline(self.spark, self.paths[i], out, n_lineage_buckets=32)
        with tracer.span("run_pipeline"):
            return run_pipeline(self.spark, self.paths[i], out, n_lineage_buckets=32)

    def check(self, i: int, summary: dict) -> int:
        start = i - i % PIPELINE_CYCLE
        want = inputs.expected_sink_counts([self.facts[k] for k in range(start, i + 1)])
        got = summary.get("sink_counts", {})
        bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
        if bad:
            raise CheckFailed(f"sink counts (got, want): {bad}")
        return PIPELINE_BATCH_PAGES

    def instrument(self, tracer: Tracer) -> None:
        from sts_opentelemetry_collector_spark.operators import intake
        from sts_opentelemetry_collector_spark.plans import lineage, pipeline, sinks, txlog

        def sink_label(method):
            return lambda a, kw: f"sinks.{method}:{a[2] if len(a) > 2 else kw.get('name')}"

        for method in ("stage", "append", "overwrite", "upsert", "merge_aggregate"):
            tracer.wrap(sinks.SinkCatalog, method, sink_label(method))
        tracer.wrap(pipeline, "apply_mappings", "mapping.apply_mappings")
        tracer.wrap(pipeline, "publish_element_stream", "publish_element_stream")
        tracer.wrap(intake, "write_intake", "intake.write_intake")
        tracer.wrap(pipeline, "_heal_unmanifested_runs", "txlog.heal")
        for method in ("completed_partitions", "run_ids", "record"):
            tracer.wrap(lineage.Manifest, method, f"lineage.Manifest.{method}")
        tracer.wrap(txlog.TxLogTable, "_commit", "txlog.commit",
                    attrs=lambda a, kw: {"files": len(a[2] if len(a) > 2 else kw["add"])})

        orig_stats = pipeline.partition_stats

        def traced_stats(pages):
            # the stats job runs at the caller's collect(), so trace that too
            with tracer.span("lineage.partition_stats"):
                df = orig_stats(pages)
            collect = df.collect

            def traced_collect():
                with tracer.span("lineage.partition_stats.collect"):
                    return collect()

            df.collect = traced_collect
            return df

        tracer.replace(pipeline, "partition_stats", traced_stats)


class CatalogCold(Workload):
    """One cold pass of the near-dup chain over the fixed `documents`
    table and the service-graph queries over the fixed `events` table,
    each query written to a noop sink with an observed row count and
    order-independent hash sum. The session caches the pass registered
    are released after it, outside the timing. Item: an input row (a
    document or an event)."""

    def setup(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.data_dir = os.path.join(work, "tables")
        inputs.write_documents(self.data_dir)
        inputs.write_events(self.data_dir)

    def op(self, i: int, tracer: Tracer | None):
        return run_queries(self.spark, CATALOG_QUERIES, self.data_dir, tracer)

    def check(self, i: int, observed: dict) -> int:
        check_queries(observed, refs.CATALOG)
        return inputs.N_DOCUMENTS + inputs.N_EVENTS

    def after_op(self, i: int) -> None:
        from sts_opentelemetry_collector_spark.operators.cache import release_caches

        self.released.append(release_caches())

    def warm_pass(self, tracer: Tracer) -> float:
        """A pass over the caches the previous pass left registered."""
        with tracer.op_span("warm_pass") as sp:
            self.op(-1, tracer)
        return sp.duration


def observed_write(df, name: str) -> tuple[int, int]:
    """Noop write of `df` with a row count and an order-independent hash
    sum (sum of the row xxhash64 as an exact decimal) riding on it."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation(f"check_{name}")
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("hash_sum"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["rows"]), int(got["hash_sum"] or 0)


def run_queries(spark, names, data_dir: str, tracer: Tracer | None) -> dict:
    from sts_opentelemetry_collector_spark.entry_queries import QUERIES

    out = {}
    for name in names:
        if tracer is None:
            out[name] = observed_write(QUERIES[name](spark, data_dir), name)
            continue
        with tracer.span(f"catalog.{name}"):
            with tracer.span(f"catalog.build:{name}"):
                df = QUERIES[name](spark, data_dir)
            out[name] = observed_write(df, name)
    return out


def check_queries(observed: dict, reference: dict) -> None:
    bad = {q: (observed.get(q), tuple(ref)) for q, ref in reference.items()
           if observed.get(q) != tuple(ref)}
    if bad:
        raise CheckFailed(f"(rows, hash_sum) got vs reference: {bad}")


WORKLOADS = {"pipeline_incremental": PipelineIncremental, "catalog_cold": CatalogCold}


# ---- run ----------------------------------------------------------------

def _timed_op(wl, i: int, tracer: Tracer | None) -> dict:
    wl.before_op(i)
    t0 = time.perf_counter()
    err, items, sid = None, 0, None
    try:
        if tracer is None:
            out = wl.op(i, None)
        else:
            with tracer.op_span("op", index=i) as sp:
                sid = sp.sid
                out = wl.op(i, tracer)
        dt = time.perf_counter() - t0
        items = wl.check(i, out)
    except Exception as e:  # an op that raises or fails its check is a failed op
        dt = time.perf_counter() - t0
        err = f"{type(e).__name__}: {e}"[:500]
    return {"index": i, "seconds": dt, "items": items, "error": err, "span": sid}


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        cores: int, heap: str, probe) -> tuple[dict, dict]:
    probe_start = probe()
    rss = PeakRss()
    rss.start()
    t_setup = time.perf_counter()
    spark, settings = start_session(
        work, cores, heap, os.path.join(work, "eventlog") if traced else None
    )
    session_s = time.perf_counter() - t_setup
    tracer = Tracer(spark.sparkContext) if traced else None
    wl = WORKLOADS[workload]()
    ops: list[dict] = []
    warm_pass_s = 0.0
    try:
        wl.setup(spark, work, seed)
        if tracer is not None:
            wl.instrument(tracer)
        for i in range(WARMUP_OPS):
            ops.append({**_timed_op(wl, i, tracer), "warmup": True})
            wl.after_op(i)
        setup_s = time.perf_counter() - t_setup
        t_meas = time.perf_counter()
        i = WARMUP_OPS
        while i < wl.max_ops and (time.perf_counter() - t_meas < seconds
                                  or i - WARMUP_OPS < MIN_MEASURED_OPS):
            ops.append({**_timed_op(wl, i, tracer), "warmup": False})
            last = time.perf_counter() - t_meas >= seconds and i - WARMUP_OPS + 1 >= MIN_MEASURED_OPS
            if tracer is not None and last and hasattr(wl, "warm_pass"):
                warm_pass_s = wl.warm_pass(tracer)  # before after_op releases the caches
            wl.after_op(i)
            i += 1
        measure_s = time.perf_counter() - t_meas
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_session(spark)
    peak_rss_mb = rss.stop()
    probe_end = probe()

    measured = [o for o in ops if not o["warmup"]]
    good = [o for o in measured if o["error"] is None]
    failed = sum(o["error"] is not None for o in ops)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": traced,
        "settings": settings, "probe_start_s": probe_start, "probe_end_s": probe_end,
        "session_start_s": session_s, "setup_s": setup_s, "measure_s": measure_s,
        "ops": [{k: v for k, v in o.items() if k != "span"} for o in ops],
    }
    if traced:
        log_dir = settings["event_log_dir"]
        log_file = os.path.join(log_dir, sorted(os.listdir(log_dir))[0])
        metrics = layer_metrics(
            tracer, load_event_log(log_file), measured, cores, wl.released, warm_pass_s,
        )
        metrics["host.probe_s"] = {"value": (probe_start + probe_end) / 2, "unit": "s"}
        record["spans"] = [dataclasses.asdict(sp) for sp in tracer.spans]
    else:
        total_s = sum(o["seconds"] for o in good)
        metrics = {
            "items_per_s": {"value": sum(o["items"] for o in good) / total_s if total_s else 0.0,
                            "unit": "1/s"},
            "op_p50_s": {"value": statistics.median(o["seconds"] for o in measured), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return record, result


# ---- per-layer metrics --------------------------------------------------

PER_LAYER_UNITS = {
    "host.probe_s": "s",
    "trace.op_p50_s": "s",
    "pipeline.self_s": "s",
    "pipeline.spark_jobs": "count",
    "parse.stage_s": "s",
    "parse.executor_cpu_s": "s",
    "mapping.compile_s": "s",
    "mapping.elements_write_s": "s",
    "mapping.scan_rows_per_page": "rows/page",
    "publish.s": "s",
    "txlog.commits": "count",
    "txlog.files_written": "count",
    "txlog.bytes_written_per_item": "B/item",
    "txlog.merge_s": "s",
    "txlog.heal_s": "s",
    "lineage.s": "s",
    "catalog.plan_build_s": "s",
    **{f"catalog.{q}_s": "s" for q in CATALOG_QUERIES},
    "textops.spread_exchanges": "count",
    "textops.cc_jobs": "count",
    "cache.frames": "count",
    "cache.warm_pass_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.peak_exec_mem_mb": "MB",
}
# counts come from the first measured op (always the same batch position),
# times are medians over the measured ops
COUNT_METRICS = {k for k, u in PER_LAYER_UNITS.items() if u in ("count", "rows/page", "B/item", "B")}


def op_layers(tracer: Tracer, own: dict, log: dict, op_sid: int, cores: int) -> dict[str, float]:
    """Per-layer values of one traced op."""
    op = tracer.spans[op_sid]
    sub = tracer.subtree(op)

    def named(prefix: str) -> list:
        return [s for s in sub if s.name.startswith(prefix)]

    def dur(prefix: str) -> float:
        return sum(s.duration for s in named(prefix))

    def incl(prefix: str, key: str) -> float:
        return sum(inclusive(own, tracer, s)[key] for s in named(prefix))

    total = inclusive(own, tracer, op)
    rp = named("run_pipeline")
    pages = PIPELINE_BATCH_PAGES if rp else 0
    return {
        "pipeline.self_s": sum(self_time(s, tracer.spans) for s in rp),
        "pipeline.spark_jobs": total["jobs"] if rp else 0,
        "parse.stage_s": dur("sinks.stage:otel_logs"),
        "parse.executor_cpu_s": incl("sinks.stage:otel_logs", "executor_cpu_s"),
        "mapping.compile_s": dur("mapping.apply_mappings"),
        "mapping.elements_write_s": dur("sinks.append:topology_elements"),
        "mapping.scan_rows_per_page":
            incl("sinks.append:topology_elements", "records_read") / pages if pages else 0,
        "publish.s": dur("publish_element_stream"),
        "txlog.commits": len(named("txlog.commit")),
        "txlog.files_written": sum(s.attrs.get("files", 0) for s in named("txlog.commit")),
        "txlog.bytes_written_per_item": total["bytes_written"] / pages if pages else 0,
        "txlog.merge_s": dur("sinks.upsert:") + dur("sinks.merge_aggregate:"),
        "txlog.heal_s": dur("txlog.heal"),
        "lineage.s": dur("lineage.Manifest.") + dur("lineage.partition_stats"),
        "catalog.plan_build_s": dur("catalog.build:"),
        **{f"catalog.{q}_s": dur(f"catalog.{q}") for q in CATALOG_QUERIES},
        "textops.spread_exchanges": sum(
            round_robin_exchanges(log["plans"].get(x, ""))
            for x in total["sql"]
        ),
        "textops.cc_jobs": incl("catalog.dedup_groups", "jobs"),
        "spark.executor_cpu_s": total["executor_cpu_s"],
        "spark.executor_run_s": total["executor_run_s"],
        "spark.busy_frac": total["executor_run_s"] / (op.duration * cores),
        "spark.gc_s": total["gc_s"],
        "spark.shuffle_read_bytes": total["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.tasks": total["tasks"],
        "spark.stages": total["stages"],
        "spark.peak_exec_mem_mb": total["peak_exec_mem"] / 2**20,
    }


def layer_metrics(tracer: Tracer, log: dict, measured: list[dict], cores: int,
                  released: list[int], warm_pass_s: float) -> dict:
    op_spans = [s for s in tracer.spans if s.parent is None]
    own = rollup(log, op_spans)
    per_op = [op_layers(tracer, own, log, o["span"], cores) for o in measured]
    out = {}
    for name, unit in PER_LAYER_UNITS.items():
        vals = [p[name] for p in per_op if name in p]
        if not vals:
            continue
        value = vals[0] if name in COUNT_METRICS else statistics.median(vals)
        out[name] = {"value": value, "unit": unit}
    out["trace.op_p50_s"] = {"value": statistics.median(o["seconds"] for o in measured), "unit": "s"}
    # released[k] is the release after op k; the first measured op is WARMUP_OPS
    out["cache.frames"] = {"value": released[WARMUP_OPS] if len(released) > WARMUP_OPS else 0,
                           "unit": "count"}
    out["cache.warm_pass_s"] = {"value": warm_pass_s, "unit": "s"}
    return {k: out[k] for k in PER_LAYER_UNITS if k in out}
