#!/usr/bin/env python
"""sf1-scale one-shot evidence for the full corpus-dedup chain
(VERDICT r4 #8): candidate pairs -> hash-to-min connected components ->
quality-keeper apply, at two parallelism levels — the LLM-pipeline
analog of the flagship's pages/sec scaling run.

Input: the deterministic sf0.1 documents table replicated --replicas
times with offset doc_ids; replica k > 0 appends a replica token to the
text, so every original doc gains (replicas-1) near-identical copies —
the re-crawled-page duplication shape real corpora have. Components are
therefore ~replicas-sized cliques overlaid on the original near-dup
graph: pair volume and component count scale with the corpus, component
size stays bounded (no artificial giant component).

Methodology matches bench_scaling.py: each level runs in a fresh
subprocess under a taskset hard core budget, tmpfs input/scratch,
interleaved N/4N pairs with the median-efficiency pair reported.
Correctness evidence rides along: group count and kept-corpus count must
be bit-equal across levels.

Usage: python bench_dedup_chain.py [--replicas 10] [--repeats 2]
           [--n-cores 2] [--n4-cores 8] [--out BENCH.md]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from shutil import which as shutil_which

HERE = os.path.dirname(os.path.abspath(__file__))

CHILD = r"""
import json, os, sys, tempfile, time
sys.path.insert(0, {here!r})
import pyspark.sql.functions as F
from sts_opentelemetry_collector_spark.session import get_spark
from sts_opentelemetry_collector_spark.operators.textops import (
    apply_dedup_keep_best, near_dup_groups,
)
from sts_opentelemetry_collector_spark.operators.cache import release_caches

cores = int(sys.argv[1])
docs_path = sys.argv[2]
base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
scratch = tempfile.mkdtemp(prefix=f"dedup_{{cores}}_", dir=base)
spark = get_spark(app_name=f"dedup-chain-{{cores}}", cores=cores,
                  extra_conf={{"spark.local.dir": scratch}})

def chain_count(docs):
    groups = near_dup_groups(docs)
    kept = apply_dedup_keep_best(docs, groups=groups)
    return groups.select("group_rep").distinct().count(), kept.count()

# untimed small warmup (JIT/codegen steady state)
warm = spark.read.parquet(docs_path).where(F.col("doc_id") % 50 == 0)
chain_count(warm)
release_caches()

docs = spark.read.parquet(docs_path)
n_docs = docs.count()
t0 = time.time()
n_groups, n_kept = chain_count(docs)
elapsed = time.time() - t0
release_caches()
spark.stop()
print(json.dumps({{"cores": cores, "elapsed": round(elapsed, 2),
                   "docs": n_docs, "groups": n_groups, "kept": n_kept,
                   "docs_per_sec": round(n_docs / elapsed, 1)}}))
import shutil
shutil.rmtree(scratch, ignore_errors=True)
"""


def run_level(cores: int, docs_path: str) -> dict:
    cmd = [sys.executable, "-c", CHILD.format(here=HERE), str(cores), docs_path]
    taskset = shutil_which("taskset")
    if taskset:
        cmd = [taskset, "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3000)
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def build_input(replicas: int) -> str:
    """Replicate sf0.1 documents deterministically into tmpfs parquet."""
    import duckdb

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    tmp = tempfile.mkdtemp(prefix="dedup_chain_input_", dir=base)
    dest = os.path.join(tmp, "documents")
    os.makedirs(dest, exist_ok=True)
    src = "/root/testdata/sf0.1/documents.parquet"
    con = duckdb.connect()
    for k in range(replicas):
        text = "text" if k == 0 else f"text || ' r{k}'"
        con.execute(
            f"COPY (SELECT doc_id + {k} * 5000 AS doc_id, {text} AS text, "
            f"lang, source, n_chars FROM read_parquet('{src}')) "
            f"TO '{dest}/rep_{k}.parquet' (FORMAT parquet)"
        )
    return dest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--n-cores", type=int, default=2)
    ap.add_argument("--n4-cores", type=int, default=8)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    docs_path = build_input(args.replicas)
    pairs = []
    for _ in range(args.repeats):
        n = run_level(args.n_cores, docs_path)
        n4 = run_level(args.n4_cores, docs_path)
        ratio = args.n4_cores / args.n_cores
        pairs.append(((n4["docs_per_sec"] / n["docs_per_sec"]) / ratio, n, n4))
        print(json.dumps({"pair_efficiency": round(pairs[-1][0], 3),
                          "n": n, "n4": n4}))
    pairs.sort(key=lambda p: p[0])
    eff, n, n4 = pairs[len(pairs) // 2]
    assert n["groups"] == n4["groups"] and n["kept"] == n4["kept"], (
        "dedup results differ across parallelism levels"
    )
    result = {
        "metric": "dedup_chain_docs_per_sec",
        "docs": n["docs"],
        "n_cores": args.n_cores,
        "n4_cores": args.n4_cores,
        "n_docs_per_sec": n["docs_per_sec"],
        "n4_docs_per_sec": n4["docs_per_sec"],
        "scaling_efficiency": round(eff, 3),
        "groups": n["groups"],
        "kept": n["kept"],
        "all_pairs": [round(p[0], 3) for p in pairs],
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "a") as f:
            f.write("\n<!-- bench_dedup_chain.py raw result -->\n")
            f.write(f"<!-- {json.dumps(result)} -->\n")


if __name__ == "__main__":
    main()
