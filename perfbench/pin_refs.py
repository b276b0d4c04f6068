#!/usr/bin/env python3
"""Recompute the pinned catalog query reference values in refs.py.

    python3 perfbench/pin_refs.py

Runs each catalog_cold query once on the fixed benchmark tables, compares its
collected rows with the query's DuckDB oracle twin (`entry_queries.ORACLES`)
and prints the (rows, hash_sum) pair the benchmark's per-op check expects.
Exits non-zero if Spark and the oracle disagree.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _normalized(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(9)
    pdf = pdf.astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main() -> int:
    import duckdb

    from perfbench import harness, inputs
    from sts_opentelemetry_collector_spark.entry_queries import ORACLES, QUERIES
    from sts_opentelemetry_collector_spark.operators.cache import release_caches

    work = tempfile.mkdtemp(prefix="perfbench_pin_", dir=os.path.join(HERE, os.pardir))
    try:
        data_dir = os.path.join(work, "tables")
        inputs.write_documents(data_dir)
        inputs.write_events(data_dir)
        spark, _ = harness.start_session(work, len(os.sched_getaffinity(0)), "3g", None)
        con = duckdb.connect()
        for table in ("documents", "events"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
        ok, pins = True, {}
        for name in harness.CATALOG_QUERIES:
            got = _normalized(QUERIES[name](spark, data_dir).toPandas())
            want = _normalized(con.execute(ORACLES[name]).fetchdf())
            same = got.equals(want)
            ok &= same
            pins[name] = harness.observed_write(QUERIES[name](spark, data_dir), name)
            release_caches()
            print(f"{name}: spark rows {len(got)}, oracle rows {len(want)}, equal={same}",
                  file=sys.stderr)
        harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("CATALOG = {")
    for name, (rows, h) in pins.items():
        print(f'    "{name}": ({rows}, {h}),')
    print("}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
