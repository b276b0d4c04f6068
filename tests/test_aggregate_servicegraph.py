"""Aggregation (A1-A11) and service-graph (J1) tests — expected values
computed independently in pandas, mirroring the reference's table-driven
connector tests (stsservicegraphconnector/connector_test.go)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.operators.aggregate import (
    DEFAULT_LATENCY_BOUNDS,
    coalesce_envelopes,
    latency_histogram,
    windowed_rollup,
)
from sts_opentelemetry_collector_spark.operators.service_graph import (
    build_edges,
    metrics_to_relations,
    service_graph_metrics,
)
from sts_opentelemetry_collector_spark.sources.spans import generate_spans, spans_df


@pytest.fixture(scope="module")
def spans(spark):
    return spans_df(spark, 500).cache()


def test_pair_join_completes_edges(spark, spans):
    pdf = generate_spans(500)
    clients = pdf[pdf.kind.isin(["CLIENT", "PRODUCER"])]
    servers = pdf[pdf.kind.isin(["SERVER", "CONSUMER"])]
    merged = clients.merge(
        servers, left_on=["trace_id", "span_id"], right_on=["trace_id", "parent_span_id"]
    )
    n_db = int(clients.db_system.notna().sum())
    edges = build_edges(spans)
    assert edges.count() == len(merged) + n_db
    assert edges.where("connection_type = 'database'").count() == n_db
    # unmatched singles produce no edge (reference: TTL-evicted)
    assert edges.count() < len(clients)


def test_edge_counters_exact(spark, spans):
    counters, hist = service_graph_metrics(spans)
    tot = counters.agg(F.sum("req_total"), F.sum("req_failed_total")).first()
    edges = build_edges(spans)
    assert tot[0] == edges.count()
    assert tot[1] == edges.where("failed").count()
    # histogram mass equals edge count per dims
    h = hist.agg(F.sum("count")).first()[0]
    assert h == edges.count()


def test_latency_histogram_buckets(spark):
    rows = [("a", "b", "", 0.001), ("a", "b", "", 0.003), ("a", "b", "", 99.0)]
    df = spark.createDataFrame(
        rows, "client string, server string, connection_type string, lat double"
    )
    out = latency_histogram(df, ["client", "server"], "lat").first()
    bc = out.bucket_counts
    assert len(bc) == len(DEFAULT_LATENCY_BOUNDS) + 1
    assert bc[0] == 1  # <= 0.002
    assert bc[1] == 1  # <= 0.004
    assert bc[-1] == 1  # overflow (+Inf)
    assert out["count"] == 3
    assert abs(out["sum"] - 99.004) < 1e-9


def test_metrics_to_relations(spark):
    """AddConnection branch-by-branch (topology.go:199-333): instance-id
    fallback, async peer double-relation, db peer vs db-component target,
    and the required-attr / unknown-type skips."""
    from sts_opentelemetry_collector_spark.operators.service_graph import (
        metrics_to_components,
    )

    rows = [
        # sync, both instance ids present
        ("a", "b", "", "nsA", "nsB", "a-1", "b-1", None),
        # sync, instance ids absent -> fall back to service names
        ("a", "b", "", "nsA", "nsB", None, None, None),
        # sync, server namespace missing -> skipped
        ("a", "b", "", "nsA", None, None, None, None),
        # async without peer -> producer -> consumer instance
        ("p", "c", "messaging_system", "nsP", "nsC", None, "c-7", None),
        # async WITH peer -> producer->peer AND consumer->peer
        ("p", "c", "messaging_system", "nsP", "nsC", None, None, "kafka"),
        # database without peer -> db URN target (+ component row)
        ("svc", "postgres", "database", "nsD", None, None, None, None),
        # database WITH peer -> peer service URN target, NO component
        ("svc", "pgpeer", "database", "nsD", None, None, None, "pgpeer"),
        # unknown connection type -> skipped
        ("x", "y", "mystery", "nsX", "nsY", None, None, None),
        # client namespace missing -> skipped
        ("x", "y", "", None, "nsY", None, None, None),
    ]
    counters = spark.createDataFrame(
        rows,
        "client string, server string, connection_type string, "
        "client_namespace string, server_namespace string, "
        "client_instance_id string, server_instance_id string, "
        "client_peer_service string",
    )
    rels = {(r.source_identifier, r.target_identifier, r.type_name)
            for r in metrics_to_relations(counters).collect()}
    inst = "urn:opentelemetry:namespace/{}:service/{}:serviceInstance/{}".format
    svc = "urn:opentelemetry:namespace/{}:service/{}".format
    assert rels == {
        (inst("nsA", "a", "a-1"), inst("nsB", "b", "b-1"), "synchronous"),
        (inst("nsA", "a", "a"), inst("nsB", "b", "b"), "synchronous"),
        (inst("nsP", "p", "p"), inst("nsC", "c", "c-7"), "asynchronous"),
        (inst("nsP", "p", "p"), svc("nsP", "kafka"), "asynchronous"),
        (inst("nsC", "c", "c"), svc("nsP", "kafka"), "asynchronous"),
        (inst("nsD", "svc", "svc"),
         "urn:opentelemetry:namespace/nsD:service/svc:database/postgres",
         "database"),
        (inst("nsD", "svc", "svc"), svc("nsD", "pgpeer"), "database"),
    }
    for r in metrics_to_relations(counters).collect():
        assert r.external_id == f"{r.source_identifier}-{r.target_identifier}"

    comps = metrics_to_components(counters).collect()
    assert len(comps) == 1
    c = comps[0]
    assert c.external_id == "urn:opentelemetry:namespace/nsD:service/svc:database/postgres"
    assert (c.type_name, c.name, c.tag_service_namespace, c.tag_service_name) == (
        "database", "postgres", "nsD", "svc",
    )
    assert c.layer == "urn:stackpack:common:layer:databases"


def test_metrics_to_relations_missing_dim_columns(spark, spans):
    """Counters built without the connection dims behave as absent attrs:
    every row is skipped (AddConnection returns false), not an error."""
    counters, _ = service_graph_metrics(spans)
    assert metrics_to_relations(counters).count() == 0


def test_windowed_rollup_counts(spark, webtext):
    """The rollup equals a Python count per (host, hour) of the collected
    pages, and runs as ONE shuffle: count is partially aggregated on each
    map task, so the Zipf-skewed hosts need no salted second level."""
    from collections import Counter

    from sts_opentelemetry_collector_spark.operators.parse import parse_pages

    pages = parse_pages(webtext).cache()
    rollup = windowed_rollup(pages, keys=["host"], window="1 hour")
    plan = rollup._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    got = {(r.host, r.window_start): r.page_count for r in rollup.collect()}
    want = Counter(
        (r.host, r.warc_ts.replace(minute=0, second=0, microsecond=0))
        for r in pages.select("host", "warc_ts").collect()
    )
    assert got == dict(want)
    assert sum(got.values()) == pages.count()
    pages.unpersist()


def test_coalesce_envelopes_caps_and_conserves(spark):
    t = dt.datetime(2024, 3, 1)
    rows = [("m", 0, t, "x" * 1000) for _ in range(100)]
    df = spark.createDataFrame(
        rows, "data_source string, shard_id int, ts timestamp, payload string"
    )
    out = coalesce_envelopes(
        df, ["data_source", "shard_id"], "ts", "payload", max_envelope_bytes=10_000
    )
    rowsout = out.collect()
    assert sum(r.element_count for r in rowsout) == 100
    # 100 KB total / 10 KB cap = 10 envelopes
    assert len(rowsout) == 10
    assert all(r.envelope_bytes <= 10_000 for r in rowsout)
    # never merged across shard or ts (message_builder.go:207-257)
    df2 = df.unionAll(
        spark.createDataFrame(
            [("m", 1, t, "y")], "data_source string, shard_id int, ts timestamp, payload string"
        )
    )
    out2 = coalesce_envelopes(df2, ["data_source", "shard_id"], "ts", "payload", 10_000)
    assert out2.count() == 11


def test_coalesce_envelopes_first_seen_order(spark):
    """With an arrival-order column, envelope contents AND the split
    boundary follow first-seen order (message_builder.go:207-257); without
    one, payload_list is in deterministic canonical (payload) order."""
    t = dt.datetime(2024, 3, 1)
    # arrival order deliberately != lexicographic payload order
    rows = [("m", 0, t, f"p-{9 - i}", i) for i in range(10)]
    df = spark.createDataFrame(
        rows,
        "data_source string, shard_id int, ts timestamp, payload string, seq long",
    ).repartition(4)

    out = coalesce_envelopes(
        df, ["data_source", "shard_id"], "ts", "payload",
        max_envelope_bytes=3 * 3,  # 3 payloads of 3 bytes per envelope
        order_col="seq",
    ).orderBy("envelope_id").collect()
    # arrival order p-9, p-8, ... p-0; 3 per envelope, remainder last
    assert [r.payload_list for r in out] == [
        ["p-9", "p-8", "p-7"], ["p-6", "p-5", "p-4"],
        ["p-3", "p-2", "p-1"], ["p-0"],
    ]

    canon = coalesce_envelopes(
        df, ["data_source", "shard_id"], "ts", "payload", max_envelope_bytes=10_000
    ).first()
    assert canon.payload_list == sorted(f"p-{i}" for i in range(10))


def test_exp_histogram_bucket_math(spark):
    """Scale-0 base-2 buckets: idx = bit_length(x)-1 for x>0, zeros in
    ZeroCount, dense counts from positive_offset (reference ClickHouse
    exp-histogram row shape, exponential_histogram_metrics.go:36-41)."""
    from sts_opentelemetry_collector_spark.operators.aggregate import exp_histogram

    #           x: 0  1  2  3  4  7  8  16
    # idx(scale0):  -  0  1  1  2  2  3  4
    df = spark.createDataFrame(
        [("a", x) for x in (0, 1, 2, 3, 4, 7, 8, 16)], "k string, x long"
    )
    r = exp_histogram(df, ["k"], "x").first()
    assert r.scale == 0
    assert r.zero_count == 1
    assert r.positive_offset == 0
    assert list(r.positive_bucket_counts) == [1, 2, 2, 1, 1]
    assert r["count"] == 8 and r["sum"] == 41

    # group with a gap (x in {1, 16}): dense array zero-fills idx 1..3
    df2 = spark.createDataFrame([("b", 1), ("b", 16)], "k string, x long")
    r2 = exp_histogram(df2, ["k"], "x").first()
    assert r2.positive_offset == 0
    assert list(r2.positive_bucket_counts) == [1, 0, 0, 0, 1]


def test_exp_histogram_invariants_on_events(spark):
    """sum(positive_bucket_counts) + zero_count == count for every group;
    offset is the index of the first non-zero bucket."""
    import pyspark.sql.functions as F
    from sts_opentelemetry_collector_spark.operators.aggregate import exp_histogram

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type",
        (F.floor(F.col("value") * 10).cast("long") % 2000).alias("x"),
    )
    for r in exp_histogram(e, ["event_type"], "x").collect():
        assert sum(r.positive_bucket_counts) + r.zero_count == r["count"]
        assert r.positive_bucket_counts[0] > 0  # dense array starts at offset
        assert r.positive_bucket_counts[-1] > 0  # and ends at max idx


def test_latency_quantiles_ordered_and_bounded(spark):
    """p50 <= p95 <= p99, all within [min, max] of the group; n matches."""
    from sts_opentelemetry_collector_spark.operators.aggregate import latency_quantiles
    from sts_opentelemetry_collector_spark.operators.service_graph import build_edges
    from sts_opentelemetry_collector_spark.sources.spans import spans_from_events

    edges = build_edges(
        spans_from_events(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    )
    out = latency_quantiles(
        edges, ["client", "server", "connection_type"], "client_latency_sec"
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r.n >= 1
        assert 0 <= r.p50_sec <= r.p95_sec <= r.p99_sec <= 2.0


def test_exp_histogram_negative_zero_null_semantics(spark):
    """ADVICE r3 + VERDICT #5: zero_count counts EXACTLY x == 0; negative
    measures bucket by |x| on the negative side; NULL measures are
    rejected; count == zero_count + Σpos + Σneg; sum is signed."""
    from sts_opentelemetry_collector_spark.operators.aggregate import exp_histogram

    rows = [("a", v) for v in (0, 0, 1, 3, -1, -5, -8, None, 16)]
    df = spark.createDataFrame(rows, "k string, x long")
    r = exp_histogram(df, ["k"], "x").first()
    assert r.zero_count == 2
    assert r["count"] == 8  # NULL dropped
    assert r["sum"] == 0 + 0 + 1 + 3 - 1 - 5 - 8 + 16
    # pos: 1->idx0, 3->idx1, 16->idx4
    assert r.positive_offset == 0
    assert list(r.positive_bucket_counts) == [1, 1, 0, 0, 1]
    # neg: |-1|->idx0, |-5|->idx2, |-8|->idx3
    assert r.negative_offset == 0
    assert list(r.negative_bucket_counts) == [1, 0, 1, 1]
    assert (
        sum(r.positive_bucket_counts) + sum(r.negative_bucket_counts) + r.zero_count
        == r["count"]
    )


def test_exp_histogram_scale_param(spark):
    """Scale math pins vs python floor(log2(|x|)·2^s) computed exactly:
    s=-2 (coarser, integer shift) and s=1 (finer, exact square compare);
    s=2 rejected."""
    import math

    import pytest as _pytest
    from sts_opentelemetry_collector_spark.operators.aggregate import exp_histogram

    xs = [1, 2, 3, 4, 5, 6, 8, 11, 15, 16, 17, 22, 23, 31, 32, 45, 63, 64,
          90, 127, 128, 181, 182, 1000, 2**31 - 1, 2**40 + 7, 2**62 + 3]
    df = spark.createDataFrame([("a", x) for x in xs], "k string, x long")

    def expected_idx(x, s):
        m = x.bit_length() - 1
        if s <= 0:
            return m >> (-s)
        # s == 1: exact integer compare, no float log
        return 2 * m + (1 if x * x >= 1 << (2 * m + 1) else 0)

    for s in (-2, 1):
        from collections import Counter

        exp_counts = Counter(expected_idx(x, s) for x in xs)
        off, mx = min(exp_counts), max(exp_counts)
        expected = [exp_counts.get(i, 0) for i in range(off, mx + 1)]
        r = exp_histogram(df, ["k"], "x", scale=s).first()
        assert r.scale == s
        assert r.positive_offset == off, (s, r.positive_offset, off)
        assert list(r.positive_bucket_counts) == expected, (s, expected)
        # spot-check s=1 against the float formula away from boundaries
        if s == 1:
            for x in (3, 5, 22, 45, 1000):
                assert expected_idx(x, 1) == math.floor(math.log2(x) * 2)

    with _pytest.raises(ValueError, match="scale > 1"):
        exp_histogram(df, ["k"], "x", scale=2)


def test_exp_histogram_property_random_signed(spark):
    """Property pin across all three supported scales: 200 seeded random
    signed longs (mixed magnitudes incl. 64-bit extremes, zeros, and
    NULLs) — every output field must match a python model computed with
    exact integer arithmetic."""
    import random
    from collections import Counter

    from sts_opentelemetry_collector_spark.operators.aggregate import exp_histogram

    rng = random.Random(7)
    xs = []
    for _ in range(200):
        mag = rng.choice([0, 1, 3, 10, 60])  # bit-magnitude class
        v = rng.randrange(1 << mag, (1 << (mag + 2)) + 1) if mag else 0
        xs.append(rng.choice([v, -v]))
    xs += [0, 0, None, None, 2**62, -(2**62)]
    df = spark.createDataFrame([("g", x) for x in xs], "k string, x long")

    def idx(ax, s):
        m = ax.bit_length() - 1
        if s <= 0:
            return m >> (-s)
        return 2 * m + (1 if ax * ax >= 1 << (2 * m + 1) else 0)

    for s in (0, -2, 1):
        nn = [x for x in xs if x is not None]
        pos = Counter(idx(x, s) for x in nn if x > 0)
        neg = Counter(idx(-x, s) for x in nn if x < 0)
        r = exp_histogram(df, ["k"], "x", scale=s).first()
        assert r["count"] == len(nn)
        assert r["sum"] == sum(nn)
        assert r.zero_count == sum(1 for x in nn if x == 0)
        for side, exp in (("positive", pos), ("negative", neg)):
            off = r[f"{side}_offset"]
            counts = list(r[f"{side}_bucket_counts"])
            if not exp:
                assert counts == []
                continue
            lo, hi = min(exp), max(exp)
            assert off == lo, (s, side)
            assert counts == [exp.get(i, 0) for i in range(lo, hi + 1)], (s, side)


DP_SCHEMA = (
    "k string, scale int, zero_count long, positive_offset int, "
    "positive_bucket_counts array<long>, negative_offset int, "
    "negative_bucket_counts array<long>, count long, sum long"
)


def _merge(spark, rows):
    from sts_opentelemetry_collector_spark.operators.aggregate import (
        exp_histogram_merge,
    )

    return exp_histogram_merge(
        spark.createDataFrame(rows, DP_SCHEMA), ["k"]
    ).collect()


def test_exp_histogram_merge_passthrough_any_scale(spark):
    """A single datapoint at scale 4 (beyond the exact-aggregation cap)
    passes through byte-identically — the reference sink stores whatever
    scale arrives (exponential_histogram_metrics.go:34-41)."""
    row = ("g", 4, 3, 7, [1, 2, 3], -2, [4, 5], 18, 99)
    [r] = _merge(spark, [row])
    assert (
        r.k, r.scale, r.zero_count, r.positive_offset,
        r.positive_bucket_counts, r.negative_offset,
        r.negative_bucket_counts, r["count"], r["sum"],
    ) == row


def test_exp_histogram_merge_downscale_fold(spark):
    """Mixed scales merge at the group MIN: scale-2 buckets idx 4..7 all
    fold into idx floor(k/4) = 1 at scale 0 and add to the scale-0
    bucket already there."""
    rows = [
        ("g", 2, 1, 4, [1, 2, 3, 4], 0, [], 11, 50),
        ("g", 0, 2, 1, [5], 0, [], 7, 30),
    ]
    [r] = _merge(spark, rows)
    assert r.scale == 0
    assert r.positive_offset == 1 and r.positive_bucket_counts == [15]
    assert r.zero_count == 3 and r["count"] == 18 and r["sum"] == 80


def test_exp_histogram_merge_negative_index_floor(spark):
    """Sub-one buckets have NEGATIVE indices; the fold must use floor
    division (shift semantics), not truncation: idx -5 at scale 1 lands
    in floor(-5/2) = -3 at scale 0."""
    rows = [
        ("g", 1, 0, -5, [3], 0, [], 3, 1),
        ("g", 0, 0, -3, [2], 0, [], 2, 1),
    ]
    [r] = _merge(spark, rows)
    assert r.positive_offset == -3 and r.positive_bucket_counts == [5]


def test_exp_histogram_merge_zero_buckets_pruned(spark):
    """Zero-count source buckets must not widen the merged dense range."""
    [r] = _merge(spark, [("g", 0, 0, -2, [0, 7, 0], 0, [], 7, 12)])
    assert r.positive_offset == -1 and r.positive_bucket_counts == [7]


def test_exp_histogram_merge_empty_sides(spark):
    """A group whose datapoints carry no buckets at all still emits one
    merged row (zero-only histogram): empty arrays, offset 0."""
    [r] = _merge(spark, [("g", 3, 9, 0, [], 0, [], 9, 0)])
    assert r.scale == 3 and r.zero_count == 9
    assert r.positive_bucket_counts == [] and r.negative_bucket_counts == []
    assert r.positive_offset == 0 and r.negative_offset == 0


def test_exp_histogram_merge_property_random(spark):
    """Property pin: 60 seeded random datapoints across groups/scales
    0..6 (random offsets incl. negatives, random bucket arrays with
    zeros) — merged output must match a python model using exact
    integer floor-division folds."""
    import random
    from collections import defaultdict

    from sts_opentelemetry_collector_spark.operators.aggregate import (
        exp_histogram_merge,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        k = f"g{rng.randrange(5)}"
        scale = rng.randrange(0, 7)
        pbc = [rng.choice([0, rng.randrange(1, 50)]) for _ in range(rng.randrange(0, 5))]
        nbc = [rng.choice([0, rng.randrange(1, 50)]) for _ in range(rng.randrange(0, 4))]
        poff = rng.randrange(-20, 20)
        noff = rng.randrange(-20, 20)
        zc = rng.randrange(0, 5)
        rows.append((k, scale, zc, poff, pbc, noff, nbc,
                     zc + sum(pbc) + sum(nbc), rng.randrange(-500, 500)))
    df = spark.createDataFrame(rows, DP_SCHEMA)
    got = {r.k: r for r in exp_histogram_merge(df, ["k"]).collect()}

    # python model
    groups = defaultdict(list)
    for r in rows:
        groups[r[0]].append(r)
    for k, dps in groups.items():
        tgt = min(d[1] for d in dps)
        pos, neg = defaultdict(int), defaultdict(int)
        zc = cnt = sm = 0
        for (_k, scale, z, poff, pbc, noff, nbc, c, s) in dps:
            zc += z; cnt += c; sm += s
            d = scale - tgt
            for i, v in enumerate(pbc):
                if v:
                    pos[(poff + i) >> d] += v
            for i, v in enumerate(nbc):
                if v:
                    neg[(noff + i) >> d] += v
        r = got[k]
        assert r.scale == tgt and r.zero_count == zc
        assert r["count"] == cnt and r["sum"] == sm
        for side, m in (("positive", pos), ("negative", neg)):
            off = r[f"{side}_offset"]
            arr = r[f"{side}_bucket_counts"]
            if not m:
                assert arr == [] and off == 0
                continue
            lo, hi = min(m), max(m)
            assert off == lo
            assert arr == [m.get(i, 0) for i in range(lo, hi + 1)]


def test_exp_histogram_merge_is_the_partial_combiner(spark):
    """Cross-operator coherence: aggregating per SHARD with
    exp_histogram and then merging the shard datapoints with
    exp_histogram_merge must equal exp_histogram over the whole input —
    i.e. the merge IS the partial-aggregation combiner, which is what
    makes the pair safe as a two-phase distributed aggregate (and as a
    periodic-flush accumulator, A4)."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.operators.aggregate import (
        exp_histogram,
        exp_histogram_merge,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type",
        (F.floor(F.col("value") * 10).cast("long") % 2000 - 50).alias("x"),
        F.pmod(F.col("user_id"), F.lit(3)).alias("shard"),
    )
    whole = {
        r.event_type: r
        for r in exp_histogram(e, ["event_type"], "x", scale=0).collect()
    }
    partials = exp_histogram(e, ["event_type", "shard"], "x", scale=0).drop("shard")
    merged = {
        r.event_type: r
        for r in exp_histogram_merge(partials, ["event_type"]).collect()
    }
    assert set(whole) == set(merged)
    for k in whole:
        w, m = whole[k], merged[k]
        for f in ("scale", "zero_count", "positive_offset",
                  "positive_bucket_counts", "negative_offset",
                  "negative_bucket_counts", "count", "sum"):
            assert w[f] == m[f], (k, f, w[f], m[f])
