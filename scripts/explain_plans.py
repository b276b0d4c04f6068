#!/usr/bin/env python
"""Regenerate PLANS.md: `.explain("formatted")` output for the headline
queries, with a one-line plan-quality note each — the physical-plan
evidence the brief asks to iterate on (pushdown, pruning, broadcast,
whole-stage codegen, partial aggregation).

Usage: python scripts/explain_plans.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

# (query, what the plan should show)
HEADLINERS = [
    ("tpch_q1", "scan-side filter pushdown + two-phase hash aggregate in one codegen stage"),
    ("j2_broadcast_enrich", "dimension joins chosen as BroadcastHashJoin — fact side never shuffles"),
    ("dedup_minhash_lsh", "row-local HOF signatures (no shuffle until the single bucket groupBy)"),
    ("w1_tumbling_rollup", "one groupBy on (hour, event_type): map-side partial hash aggregate, one shuffle, final merge"),
    ("k5_exp_histogram", "two shuffles total: (dims, sign, idx) partial agg then dims assembly, all JVM-side"),
    ("ann_ivf_topk", "centroid broadcast + single-bucket scan — no all-pairs join anywhere"),
    ("dedup_apply", "left-anti join with NO broadcast hint (AQE size-gates at runtime)"),
    ("d1_dedup_first_wins", "min_by hash aggregate (two-phase, map-side partial) — no Window sort anywhere"),
    ("k5_exp_histogram_passthrough", "row-local bucket explode + two partial-agg groupBys; the target-scale join is dim-keyed"),
    ("bigram_backoff_scored", "train count dims + score-side LEFT equi-joins on bigram/token keys; 1-row total broadcast"),
    ("line_dedup", "digest-keyed count-distinct + left-anti (text pruned from the counting leg); array_sort reassembly, no Window"),
    ("ccnet_buckets", "exact-percentile thresholds broadcast over the scored frame; (lang, bucket) partial-agg groupBy"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(HERE, "PLANS.md"))
    args = ap.parse_args()

    from sts_opentelemetry_collector_spark.entry_queries import QUERIES
    from sts_opentelemetry_collector_spark.session import get_spark

    spark = get_spark(app_name="plans", cores=4, shuffle_partitions=4)

    sections = [
        "# PLANS — physical-plan evidence for headline queries\n",
        "Auto-generated by `python scripts/explain_plans.py` (plan-time\n"
        "only, no execution; AQE final plans may further improve at\n"
        "runtime — e.g. size-gated broadcasts). Each section notes what\n"
        "the plan is expected to show; the pytest plan gates\n"
        "(`tests/test_catalog_plan_gates.py`, per-operator plan tests)\n"
        "enforce the load-bearing properties on every run.\n",
    ]
    for name, note in HEADLINERS:
        df = QUERIES[name](spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        sections.append(f"\n## {name}\n\n{note}.\n\n```\n{buf.getvalue().rstrip()}\n```\n")

    with open(args.out, "w") as f:
        f.write("".join(sections))
    print(f"wrote {args.out} ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
