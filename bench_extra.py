#!/usr/bin/env python
"""Optimization-round profiling harness (guide §1.4: noop-sink isolation).

NOT the driver bench — bench.py stays frozen. This script exists to
attribute time inside the heavy queries: per-query noop timing for an
arbitrary subset, per-round timing of the connected-components loops,
and the flagship pipeline's stage_sec breakdown.

Usage:
  python bench_extra.py queries [name ...]     # noop-time selected queries
  python bench_extra.py cc                     # profile the CC loops
  python bench_extra.py pipeline [n_pages]     # pipeline stage breakdown

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sts_opentelemetry_collector_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_queries(spark, names: list[str], passes: int = 2) -> None:
    from sts_opentelemetry_collector_spark import entry_queries

    spark.read.parquet(f"{SF_DIR}/events.parquet").count()  # warm
    timings: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _force(entry_queries.QUERIES[name](spark, SF_DIR))
            timings[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({n: {"min": min(v), "samples": v} for n, v in timings.items()}))


def cmd_cc(spark) -> None:
    """Phase-attributed timing of the near-dup CC family at SF_DIR."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t0 = time.time()
    keyed = textops.lsh_band_index(docs, bands=4, n=2)
    n_idx = keyed.count()
    t1 = time.time()
    a, b = keyed.alias("a"), keyed.alias("b")
    candidates = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    n_cand = candidates.count()
    t2 = time.time()
    pairs = textops.ngram_jaccard_pairs(docs, threshold=0.5)
    n_pairs = pairs.count()
    t3 = time.time()
    groups = textops.connected_components(pairs.select("doc_a", "doc_b"))
    n_groups = groups.count()
    t4 = time.time()
    print(
        json.dumps(
            {
                "band_index_rows": n_idx,
                "band_index_sec": round(t1 - t0, 2),
                "candidate_pairs": n_cand,
                "candidates_sec": round(t2 - t1, 2),
                "jaccard_pairs": n_pairs,
                "jaccard_sec": round(t3 - t2, 2),
                "cc_rows": n_groups,
                "cc_sec": round(t4 - t3, 2),
            }
        )
    )


def cmd_pipeline(spark, n_pages: int) -> None:
    import shutil

    from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bx_", dir=base)
    try:
        wt = write_webtext(tmp, n_pages, partitions=int(CPUS) * 2)
        warm = write_webtext(os.path.join(tmp, "warm"), max(n_pages // 100, 500))
        run_pipeline(spark, warm, os.path.join(tmp, "wout"), n_lineage_buckets=32)
        best = None
        for i in range(2):
            s = run_pipeline(
                spark, wt, os.path.join(tmp, f"out{i}"), n_lineage_buckets=32
            )
            if best is None or s["elapsed_sec"] < best["elapsed_sec"]:
                best = s
        print(
            json.dumps(
                {
                    "elapsed_sec": round(best["elapsed_sec"], 2),
                    "pages_per_sec": round(best["pages_per_sec"], 1),
                    "stage_sec": best["stage_sec"],
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    spark = get_spark(app_name="bench_extra", cores=CPUS)
    if mode == "queries":
        cmd_queries(spark, sys.argv[2:])
    elif mode == "cc":
        cmd_cc(spark)
    elif mode == "pipeline":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 6_000_000
        cmd_pipeline(spark, n)
    else:
        raise SystemExit(f"unknown mode {mode}")
    from sts_opentelemetry_collector_spark.operators.cache import release_caches

    release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
