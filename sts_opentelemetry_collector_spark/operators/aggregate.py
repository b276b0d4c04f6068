"""Aggregations (SURVEY.md §2.4 A1-A11).

All built-in groupBy/window aggregations — partial (map-side) aggregation,
whole-stage codegen, and AQE-coalesced shuffles come free. The reference's
eviction-compensated statistical counting (A2, connector.go:387-422) is
deliberately NOT reproduced: a shuffle join sees every row, so our counts
are exact (documented deviation, SURVEY.md A2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

# Default service-graph latency bounds: 16 buckets 2ms..15s
# (stsservicegraphconnector/connector.go:41-44), seconds.
DEFAULT_LATENCY_BOUNDS = [
    0.002, 0.004, 0.006, 0.008, 0.01, 0.05, 0.1, 0.2, 0.4, 0.8, 1.0, 1.4,
    2.0, 5.0, 10.0, 15.0,
]


def edge_metrics(
    edges: DataFrame, dims: list[str], failed_col: str = "failed", weight_col: str | None = None
) -> DataFrame:
    """A1: per-dimension request counters (connector.go:387-455).

    req_total / req_failed_total per metric key (the reference NUL-joins the
    dims into a string key, connector.go:621-643; groupBy on the columns is
    the columnar equivalent)."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    return edges.groupBy(*dims).agg(
        F.sum(w).alias("req_total"),
        F.sum(F.when(F.col(failed_col), w).otherwise(F.lit(0))).alias("req_failed_total"),
    )


def bucket_index_expr(value_col: str, bounds: list[float]) -> F.Column:
    """A3: explicit-bucket index — the reference binary-searches the bounds
    (connector.go:456-479); `width_bucket` on a sorted bounds array is the
    vectorized equivalent. Index i means value <= bounds[i], len(bounds)
    means overflow (the +Inf bucket)."""
    expr = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(F.col(value_col) <= F.lit(bounds[i]), F.lit(i)).otherwise(expr)
    return expr


def latency_histogram(
    edges: DataFrame,
    dims: list[str],
    latency_col: str,
    bounds: list[float] | None = None,
) -> DataFrame:
    """A3: per-dim explicit-bucket histogram: sum, count, bucket_counts[].

    Two-phase: bucket index (codegen'd when-cascade) -> groupBy (dims,
    bucket) count -> pivot into a dense bucket_counts array per dims. One
    shuffle; array assembly via map_from_entries + lookup keeps it JVM-side.
    """
    bounds = bounds or DEFAULT_LATENCY_BOUNDS
    n_buckets = len(bounds) + 1
    bucketed = edges.withColumn("_bucket", bucket_index_expr(latency_col, bounds))
    per_bucket = bucketed.groupBy(*dims, "_bucket").agg(
        F.count(F.lit(1)).alias("_bucket_count"),
        F.sum(latency_col).alias("_bucket_sum"),
    )
    assembled = per_bucket.groupBy(*dims).agg(
        F.sum("_bucket_count").alias("count"),
        F.round(F.sum("_bucket_sum"), 9).alias("sum"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_bucket"), F.col("_bucket_count")))
        ).alias("_m"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0)),
    )
    return assembled.withColumn("bucket_counts", dense).drop("_m")


def exp_histogram(
    df: DataFrame, dims: list[str], value_col: str, scale: int = 0
) -> DataFrame:
    """A3b: base-2 exponential histogram over an INTEGER measure (latency
    ms, byte/size deltas), in the reference's FULL ClickHouse
    exp-histogram row shape: Scale, ZeroCount, PositiveOffset, dense
    PositiveBucketCounts, NegativeOffset, dense NegativeBucketCounts
    (exporter/clickhousestsexporter/internal/
    exponential_histogram_metrics.go:34-41 — the reference stores OTLP
    exp-histogram datapoints; this operator AGGREGATES raw measures into
    that shape).

    Semantics (ADVICE r3 alignment):
    - zero_count counts EXACTLY x == 0 rows.
    - x < 0 rows bucket by |x| into the negative side (mirroring OTel's
      negative buckets), never silently into zero_count.
    - NULL measures are rejected up front (filtered, like an absent OTLP
      datapoint value); count == zero_count + Σpos + Σneg always holds.
    - sum is the signed sum over all non-null measures.

    Bucket index for |x|>0 at scale s is floor(log2(|x|) · 2^s), computed
    WITHOUT float logs (ULP flips at powers of two would diverge engines):
      s == 0 : bit_length(|x|)-1           via length(conv(x,10,2))-1
      s  < 0 : shiftright(bit_length-1, -s)   (floor division — exact,
               floor(floor(y)/2^k) == floor(y/2^k) for integer 2^k)
      s == 1 : 2·m + [ |x|² ≥ 2^(2m+1) ], m = bit_length-1; the square is
               exact in DECIMAL(38,0) for ANY long (max ≈ 8.5e37 < 1e38)
               and 2^(2m+1) ≤ 2^125 is a power of two, exactly
               representable in a double before the decimal cast.
    Scales > 1 need |x|^(2^s) comparisons that overflow 128-bit for
    general longs — rejected with a ValueError (OTel collectors downscale
    to fit; telemetry integer measures rarely justify s > 1 resolution).
    Buckets are [2^(k/2^s), 2^((k+1)/2^s)); OTel's lower-exclusive
    convention differs only at exact boundaries (documented deviation).

    Plan: one groupBy on (dims, sign, idx) with map-side combine, then
    one groupBy dims assembling both dense arrays JVM-side. Two shuffles
    total, no UDFs."""
    x = F.col(value_col).cast("long")
    ax = F.abs(x)
    m = (F.length(F.conv(ax.cast("string"), 10, 2)) - 1).cast("int")
    if scale == 0:
        idx = m
    elif scale < 0:
        idx = F.shiftright(m, -scale)
    elif scale == 1:
        xd = ax.cast("decimal(38,0)")
        thr = F.pow(F.lit(2.0), (m * 2 + 1).cast("double")).cast("decimal(38,0)")
        idx = (m * 2 + F.when((xd * xd) >= thr, 1).otherwise(0)).cast("int")
    else:
        raise ValueError(
            "scale > 1 not supported exactly for 64-bit measures; "
            "downscale (OTel collectors do) or pre-scale the measure"
        )
    sgn = F.when(x > 0, 1).when(x < 0, -1).otherwise(0)
    per_bucket = (
        df.where(x.isNotNull())
        .select(
            *dims,
            x.alias("_x"),
            sgn.alias("_sgn"),
            F.when(x != 0, idx).alias("_idx"),
        )
        .groupBy(*dims, "_sgn", "_idx")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.sum("_x").alias("_sum"))
    )

    def side(s: int, prefix: str):
        this = F.col("_sgn") == s
        return [
            F.min(F.when(this, F.col("_idx"))).alias(f"_{prefix}off"),
            F.max(F.when(this, F.col("_idx"))).alias(f"_{prefix}mx"),
            F.map_from_entries(
                F.collect_list(
                    F.when(this, F.struct(F.col("_idx"), F.col("_cnt")))
                )
            ).alias(f"_{prefix}m"),
        ]

    assembled = per_bucket.groupBy(*dims).agg(
        F.sum("_cnt").alias("count"),
        F.sum("_sum").alias("sum"),
        F.coalesce(
            F.sum(F.when(F.col("_sgn") == 0, F.col("_cnt"))), F.lit(0)
        ).alias("zero_count"),
        *side(1, "p"),
        *side(-1, "n"),
    )

    def dense(prefix: str):
        off, mx, mp = (F.col(f"_{prefix}{s}") for s in ("off", "mx", "m"))
        arr = F.transform(
            F.sequence(off, mx),
            lambda i: F.coalesce(F.element_at(mp, i), F.lit(0).cast("long")),
        )
        return F.when(off.isNotNull(), arr).otherwise(
            F.array().cast("array<long>")
        )

    return assembled.select(
        *dims,
        F.lit(scale).alias("scale"),
        "zero_count",
        F.coalesce(F.col("_poff"), F.lit(0)).alias("positive_offset"),
        dense("p").alias("positive_bucket_counts"),
        F.coalesce(F.col("_noff"), F.lit(0)).alias("negative_offset"),
        dense("n").alias("negative_bucket_counts"),
        "count",
        "sum",
    )


def exp_histogram_merge(dp: DataFrame, dims: list[str]) -> DataFrame:
    """K5 exp-histogram datapoint PASSTHROUGH + merge — what the
    reference sink actually does: it stores already-bucketed OTLP
    exponential-histogram datapoints at whatever scale arrived
    (exporter/clickhousestsexporter/internal/
    exponential_histogram_metrics.go:34-41 — no re-bucketing), any
    scale up to OTLP's 20. `exp_histogram` AGGREGATES raw measures
    (exact integer math caps it at scale <= 1); this operator MERGES
    pre-bucketed datapoint rows per dims group, so arbitrary input
    scales flow through.

    Merge rule (OTel exponential histogram data model): the merged
    scale is the MINIMUM scale in the group; a bucket index k at scale
    s maps to floor(k / 2^(s - s_min)) at s_min (every finer bucket
    nests inside exactly one coarser bucket). zero_count / count / sum
    add. A single-datapoint group passes through byte-identically at
    its own scale. Empty (all-zero-count) sides emit empty arrays with
    offset 0; zero-count source buckets never widen the merged range.

    Input columns per datapoint row: dims..., scale:int,
    zero_count:long, positive_offset:int,
    positive_bucket_counts:array<long>, negative_offset:int,
    negative_bucket_counts:array<long>, count:long, sum:long.

    Plan shape: target scale is one dims-keyed partial-agg groupBy
    joined back (AQE broadcasts the dim-cardinality side); bucket
    explode is row-local; then the same two-phase (dims, sign, idx)
    partial agg + dims assembly as exp_histogram. The index remap is
    floor(idx / 2^delta) in double math — exact, indices are
    O(bit_length * 2^scale) << 2^52. No UDFs, no windows."""
    tgt = dp.groupBy(*dims).agg(F.min("scale").alias("_tscale"))
    d = dp.join(tgt, on=dims)

    def side_explode(sign: int, off_col: str, arr_col: str):
        e = d.select(
            *dims,
            "_tscale",
            (F.col("scale") - F.col("_tscale")).alias("_delta"),
            F.col(off_col).alias("_off"),
            F.posexplode(F.col(arr_col)).alias("_pos", "_cnt"),
        ).where(F.col("_cnt") != 0)
        src_idx = F.col("_off") + F.col("_pos")
        tgt_idx = F.floor(
            src_idx.cast("double") / F.pow(F.lit(2.0), F.col("_delta").cast("double"))
        ).cast("int")
        return e.select(
            *dims,
            "_tscale",
            F.lit(sign).alias("_sgn"),
            tgt_idx.alias("_idx"),
            F.col("_cnt"),
        )

    per_bucket = (
        side_explode(1, "positive_offset", "positive_bucket_counts")
        .unionByName(side_explode(-1, "negative_offset", "negative_bucket_counts"))
        .groupBy(*dims, "_tscale", "_sgn", "_idx")
        .agg(F.sum("_cnt").alias("_cnt"))
    )

    def side(s: int, prefix: str):
        this = F.col("_sgn") == s
        return [
            F.min(F.when(this, F.col("_idx"))).alias(f"_{prefix}off"),
            F.max(F.when(this, F.col("_idx"))).alias(f"_{prefix}mx"),
            F.map_from_entries(
                F.collect_list(F.when(this, F.struct(F.col("_idx"), F.col("_cnt"))))
            ).alias(f"_{prefix}m"),
        ]

    buckets = per_bucket.groupBy(*dims, "_tscale").agg(*side(1, "p"), *side(-1, "n"))
    totals = dp.groupBy(*dims).agg(
        F.sum("zero_count").alias("zero_count"),
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
    )
    # left join: a group whose every bucket count is zero still emits a
    # row (empty arrays) — totals is the authoritative group list
    assembled = totals.join(
        buckets.drop("_tscale"), on=dims, how="left"
    ).join(tgt, on=dims)

    def dense(prefix: str):
        off, mx, mp = (F.col(f"_{prefix}{s}") for s in ("off", "mx", "m"))
        arr = F.transform(
            F.sequence(off, mx),
            lambda i: F.coalesce(F.element_at(mp, i), F.lit(0).cast("long")),
        )
        return F.when(off.isNotNull(), arr).otherwise(F.array().cast("array<long>"))

    return assembled.select(
        *dims,
        F.col("_tscale").alias("scale"),
        "zero_count",
        F.coalesce(F.col("_poff"), F.lit(0)).alias("positive_offset"),
        dense("p").alias("positive_bucket_counts"),
        F.coalesce(F.col("_noff"), F.lit(0)).alias("negative_offset"),
        dense("n").alias("negative_bucket_counts"),
        "count",
        "sum",
    )


def latency_quantiles(
    edges: DataFrame,
    dims: list[str],
    latency_col: str,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """A3-adjacent: exact per-dimension latency percentiles — the SLO
    numbers the reference's explicit-bucket histogram (A3) only
    approximates (a backend reads p95 off bucket_counts; here the engine
    computes it exactly).

    Spark's native `percentile` aggregate is partial-mergeable (a per-group
    value->count map merged map-side, NOT a collect_list), interpolating
    lowerKey + (pos - floor(pos)) * (higherKey - lowerKey) at
    pos = q*(n-1) — the DuckDB oracle mirrors that exact IEEE expression
    over a sorted list so results are bit-identical. At 100 TB, groups
    with very high distinct-latency cardinality should switch to
    percentile_approx (t-digest sketch, bounded memory) or read quantiles
    off the A3 histogram; same plan shape, one aggregate swap."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.round(F.percentile(F.col(latency_col), F.lit(q)), 6).alias(
            f"p{int(q * 100)}_sec"
        )
        for q in qs
    ]
    return edges.groupBy(*dims).agg(*aggs)


def windowed_rollup(
    df: DataFrame,
    ts_col: str = "warc_ts",
    keys: list[str] | None = None,
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window telemetry rollup keyed (host, warc_ts bucket) — the
    north rule's windowed rollup (≙ service-graph periodic flush A4 +
    internal telemetry). Hosts are Zipf-skewed, but `count` is partially
    aggregated on each map task, so a hot host sends at most one row per
    (host, window) per task into the single shuffle — no salting needed.
    """
    keys = keys or ["host"]
    win = F.window(F.col(ts_col), window)
    return (
        df.groupBy(*keys, win.alias("win"))
        .agg(F.count(F.lit(1)).alias("page_count"))
        .select(
            *keys,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "page_count",
        )
    )


def coalesce_envelopes(
    elements: DataFrame,
    key_cols: list[str],
    ts_col: str,
    payload_col: str,
    max_envelope_bytes: int = 768 * 1024,
    order_col: str | None = None,
) -> DataFrame:
    """A6: group single elements into bounded envelopes.

    Reference groups by (owner, dataSource, shardId, collection_ts), caps
    the marshaled envelope at 768KiB and opens a new one on overflow,
    preserving first-seen order (message_builder.go:194-257, :162-171).

    Spark shape: a running byte total per group (window cumulative sum of
    octet_length) integer-divided by the cap yields the envelope ordinal —
    exact size-capped splitting without per-row state.

    First-seen order: pass order_col (a Kafka offset / ingest sequence)
    and both the envelope split AND payload_list follow arrival order,
    matching message_builder.go:207-257 exactly. order_col=None (batch
    mode, where a distributed scan has no arrival order) orders by the
    payload string instead — a deterministic canonical order; the element
    SET per envelope is identical, only intra-envelope order deviates from
    a live stream (documented deviation, COVERAGE.md A6)."""
    from pyspark.sql import Window

    sort_col = F.col(order_col) if order_col else F.col(payload_col)
    w = (
        Window.partitionBy(*key_cols, ts_col)
        .orderBy(sort_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = elements.withColumn("_bytes", F.octet_length(F.col(payload_col).cast("string")))
    enveloped = sized.withColumn(
        "envelope_id",
        ((F.sum("_bytes").over(w) - F.col("_bytes")) / F.lit(max_envelope_bytes)).cast("long"),
    )
    # collect_list order is NOT deterministic after a shuffle — assemble
    # (sort key, payload) structs and sort in-array so envelope contents
    # are reproducibly ordered on both code paths
    ordered_payloads = F.transform(
        F.array_sort(
            F.collect_list(F.struct(sort_col.alias("o"), F.col(payload_col).alias("p")))
        ),
        lambda s: s["p"],
    )
    return (
        enveloped.groupBy(*key_cols, ts_col, "envelope_id")
        .agg(
            ordered_payloads.alias("payload_list"),
            F.sum("_bytes").alias("envelope_bytes"),
            F.count(F.lit(1)).alias("element_count"),
        )
    )


def telemetry_counters(
    spark: SparkSession,
    run_id: str,
    produced: dict[str, int],
    mapping_errors: int,
    mappings_removed: int,
) -> DataFrame:
    """A11: internal telemetry counters table (metrics/metrics.go:58-97):
    topology_produced_total / mapping_errors_total / mappings_removed_total,
    labeled by stream."""
    rows = [
        (run_id, "topology_produced_total", k, int(v)) for k, v in produced.items()
    ] + [
        (run_id, "mapping_errors_total", "", int(mapping_errors)),
        (run_id, "mappings_removed_total", "", int(mappings_removed)),
    ]
    return local_frame(spark, rows, "run_id string, metric string, label string, value long")
