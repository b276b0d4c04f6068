"""Deduplication (the reference's signature stateful op, D1-D5).

Reference semantics (connector/topologyconnector/internal/deduplicator.go):
- D1/D2 the reference keys its dedup on xxhash64 over (mapping identifier,
  signal, and ONLY the input fields the mapping's expressions reference,
  found by walking the expression ASTs — deduplicator.go:151-205,
  expression_ref_manager.go). The pipeline dedups the emitted elements by
  identity instead (`dedup_elements`), so a re-sent input still yields no
  new element (documented deviation, COVERAGE.md D1/D2).
- D3 TTL refresh: a seen key is re-sent once `now - lastSent >=
  ttl * refresh_fraction` so downstream elements don't expire
  (deduplicator.go:102-150; defaults factory.go:98-105, refresh 0.5).

Spark redefinition (documented deviation, SURVEY.md §7.3.3): the reference
is wall-clock stateful; a batch job gets DETERMINISTIC D3 dedup by
bucketing event time into refresh windows and keeping the first record per
(key, window) via a `min_by` aggregate (partial-mergeable: map-side
combine reduces each task to one candidate row per live group before the
single hash-partitioned shuffle — no per-group sort, no driver state,
AQE-coalesced; the r5-era row_number window sorted every group's full row
set).

`dedup_elements` dedups the OUTPUT stream by element identity
(external_id) — what the e2e dedup-suppression test observes
(logtopology_test.go:35-62): identical re-sends yield zero new elements.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def dedup_within_refresh_window(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "warc_ts",
    ttl_seconds: int = 900,
    refresh_fraction: float = 0.5,
    order_col: str | None = None,
) -> DataFrame:
    """D1+D3: keep the first record per (key, refresh-window bucket).

    refresh_interval = ttl * refresh_fraction (config.go:73-86): within one
    interval duplicates are suppressed; the next interval re-sends (keeps
    downstream TTLs alive). Event-time bucketing makes this deterministic
    and idempotent across reruns.
    """
    refresh_s = max(int(ttl_seconds * refresh_fraction), 1)
    bucket = (F.unix_timestamp(F.col(ts_col)) / refresh_s).cast("long")
    out = df.withColumn("_refresh_bucket", bucket)
    # keep-first via min_by(struct(all cols), struct(order cols)) — a
    # partial-mergeable HASH aggregate (map-side combine, one shuffle of
    # pre-reduced groups) instead of the row_number window that sorted
    # every group's full row set. The ordering struct is compared
    # lexicographically field-by-field (asc, nulls first) — exactly the
    # old window's ORDER BY (order_col, every non-ts column) — so the
    # surviving row is identical.
    order_struct = F.struct(
        F.col(order_col or ts_col), *[F.col(c) for c in df.columns if c != ts_col]
    )
    win = F.min_by(F.struct(*[F.col(c) for c in df.columns]), order_struct)
    return (
        out.groupBy(*key_cols, "_refresh_bucket")
        .agg(win.alias("_w"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in df.columns])
    )


def dedup_elements(elements: DataFrame) -> DataFrame:
    """Dedup emitted topology elements by (data_source, signal, external_id):
    plain first-wins dropDuplicates — re-running on identical input yields
    an identical (not doubled) element set, the e2e dedup-suppression
    invariant."""
    return elements.dropDuplicates(["data_source", "signal", "external_id"])


def resource_ref(df: DataFrame, attrs_col: str = "attrs") -> DataFrame:
    """D5/K4: content-addressed resource dedup key — ResourceRef =
    hash(sorted attrs) (exporter_resources.go:32-46). 64-bit xxhash64 of
    the canonical map encoding stands in for the reference's 128-bit
    map-hash-to-UUID."""
    entries = F.array_sort(F.map_entries(F.col(attrs_col)))
    return df.withColumn("resource_ref", F.xxhash64(F.to_json(entries)))
