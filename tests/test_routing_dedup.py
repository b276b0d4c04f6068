"""Routing (R1-R6) and dedup (D1-D5) tests — FNV parity pins from
message_builder.go:259-263 semantics; dedup invariance mirrors
deduplicator_test.go:17-245."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.functions.hashes import (
    fnv1a32_col,
    fnv1a32_py,
)
from sts_opentelemetry_collector_spark.operators.dedup import (
    dedup_elements,
    dedup_within_refresh_window,
    resource_ref,
)
from sts_opentelemetry_collector_spark.operators.routing import (
    SHARD_COUNT,
    new_streams,
    removal_tombstones,
    route_fanout,
    with_shard_id,
)


def test_fnv1a32_golden_pins():
    # Known FNV-1a 32-bit test vectors
    assert fnv1a32_py("") == 0x811C9DC5
    assert fnv1a32_py("a") == 0xE40C292C
    assert fnv1a32_py("foobar") == 0xBF9CF968


def test_shard_assignment(spark):
    ids = ["urn:a", "urn:b", "urn:c", None]
    df = spark.createDataFrame([(i,) for i in ids], "external_id string")
    rows = {r.external_id: r.shard_id for r in with_shard_id(df).collect()}
    for i in ids[:3]:
        assert rows[i] == fnv1a32_py(i) % SHARD_COUNT
    assert rows[None] == -1


def test_fnv_jvm_expression_parity(spark):
    """The shard stage's JVM fold equals the scalar reference byte for
    byte: fixed vectors plus ~200 seeded random strings of length 0-300
    mixing ASCII, multi-byte (2- and 3-byte utf-8) and astral (4-byte)
    code points."""
    import random

    vals = ["", "a", "foobar", "urn:webtext:host/site000.example.org", "unicode-ü-✓",
            "x" * 300, "\U0001F600" * 3]
    rng = random.Random(20240301)
    ranges = [(0x20, 0x7E), (0xA0, 0x7FF), (0x800, 0xFFFF), (0x10000, 0x10FFFF)]
    for _ in range(200):
        n = rng.randint(0, 300)
        chars = []
        while len(chars) < n:
            c = rng.randint(*rng.choice(ranges))
            if not 0xD800 <= c <= 0xDFFF:  # surrogates have no utf-8 form
                chars.append(chr(c))
        vals.append("".join(chars))
    vals = list(dict.fromkeys(vals))
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", fnv1a32_col(F.col("s")).alias("h")).collect()}
    assert got == {v: fnv1a32_py(v) for v in vals}


def test_route_fanout_multi_subscription(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, kind string"
    ).cache()
    routes = {"all": "true", "a_only": "kind = 'a'"}
    routed = route_fanout(df, routes)
    assert routed["all"].count() == 3
    assert routed["a_only"].count() == 2


def test_removal_tombstones(spark):
    t = removal_tombstones(spark, ["m1", "m2"])
    assert t.count() == 2 * SHARD_COUNT
    per = t.groupBy("data_source").count().collect()
    assert all(r["count"] == SHARD_COUNT for r in per)
    assert removal_tombstones(spark, []).count() == 0


def test_new_streams_anti_join(spark):
    cur = spark.createDataFrame(
        [("m1", 0), ("m1", 1), ("m2", 0)], "data_source string, shard_id int"
    )
    known = spark.createDataFrame([("m1", 0)], "data_source string, shard_id int")
    fresh = new_streams(cur, known)
    assert sorted((r.data_source, r.shard_id) for r in fresh.collect()) == [
        ("m1", 1),
        ("m2", 0),
    ]


def test_dedup_refresh_window(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        ("k", t0),
        ("k", t0 + dt.timedelta(seconds=10)),  # same window: suppressed
        ("k", t0 + dt.timedelta(seconds=500)),  # next 450s window: resent
        ("j", t0),
    ]
    df = spark.createDataFrame(rows, "key string, warc_ts timestamp")
    out = dedup_within_refresh_window(df, ["key"], ttl_seconds=900, refresh_fraction=0.5)
    assert out.count() == 3


def test_dedup_elements_idempotent(spark):
    df = spark.createDataFrame(
        [("m", "logs", "urn:x"), ("m", "logs", "urn:x"), ("m", "logs", "urn:y")],
        "data_source string, signal string, external_id string",
    )
    once = dedup_elements(df)
    assert once.count() == 2
    # re-send of an identical batch yields no growth (e2e dedup suppression)
    assert dedup_elements(df.unionAll(df)).count() == 2


def test_resource_ref_content_addressed(spark):
    df = spark.createDataFrame(
        [({"a": "1"},), ({"a": "1"},), ({"a": "2"},)], "attrs map<string,string>"
    )
    out = resource_ref(df)
    assert out.select("resource_ref").distinct().count() == 2


def test_near_dup_plans_have_no_cartesian(spark):
    """Scale gate: neither near-dup operator may plan a cartesian product /
    BroadcastNestedLoopJoin — candidates must come from bucket equi-joins."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over dog {i % 3}", "en")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )
    for op in (ngram_jaccard_pairs, simhash_near_dup_pairs):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{op.__name__}: cartesian in plan"
        assert "BroadcastNestedLoopJoin" not in plan, f"{op.__name__}: BNLJ in plan"

    # the embedding near-dup family too: since r3, even the label-blocked
    # form delegates candidates to the banded LSH equi-join — no all-pairs
    # plan is reachable from the catalog
    from sts_opentelemetry_collector_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_lsh,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(64)], f"l{i % 3}")
         for i in range(30)],
        "vec_id long, embedding array<float>, label string",
    )
    for df, nm in (
        (near_dup_pairs_lsh(emb, bands=2, n_planes=8), "near_dup_pairs_lsh"),
        (near_dup_pairs(emb), "near_dup_pairs"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{nm}: cartesian in plan"
        assert "BroadcastNestedLoopJoin" not in plan, f"{nm}: BNLJ in plan"


@pytest.mark.parametrize("n", [2, 3])
def test_near_dup_chain_survives_short_docs(spark, n):
    """A doc of one token or the empty string has no shingles: it gets a
    NULL bucket and no pair (the oracle's range(1, len) yields []), and
    the near-dup pair beside it is still found and grouped."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        near_dup_groups,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two words"), (4, base), (5, base + " again")],
        "doc_id long, text string",
    )
    # 8 vs 9 bigrams (J = 8/9), 7 vs 8 trigrams (J = 7/8)
    jac = {2: 0.8889, 3: 0.875}[n]
    pairs = {tuple(r) for r in ngram_jaccard_pairs(docs, n=n).collect()}
    assert pairs == {(4, 5, jac)}
    groups = {tuple(r) for r in near_dup_groups(docs, n=n).collect()}
    assert groups == {(4, 4), (5, 4)}


def test_connected_components_transitive(spark):
    """Min-label propagation must find the min doc_id of each CONNECTED
    component, not just direct neighbors: a 5-hop chain (descending ids so
    the min label must travel the full diameter) + a disjoint pair."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(50, 40), (40, 30), (30, 20), (20, 10), (10, 1), (100, 99)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.group_rep for r in connected_components(pairs).collect()}
    assert got == {1: 1, 10: 1, 20: 1, 30: 1, 40: 1, 50: 1, 99: 99, 100: 99}


def test_near_dup_groups_matches_pairs(spark):
    """End-to-end: near_dup_groups groups exactly the docs its own pair
    generator connects (grouping = connected components of the pair
    graph), with group_rep = component min."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        near_dup_groups,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (10, base + "alpha beta", "en"),
            (11, base + "alpha gamma", "en"),
            (20, "completely different words entirely here nothing shared at all", "en"),
            (21, "completely different words entirely here nothing shared at all", "en"),
            (30, "isolated singleton document with unique content xyzzy", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    pairs = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    got = {r.doc_id: r.group_rep for r in near_dup_groups(docs, threshold=0.4).collect()}
    # reference grouping via python union-find on the same pairs
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in parent}
    assert got == expected
    assert 30 not in got  # singleton emits nothing


def test_lsh_band_stacking_recall(spark):
    """OR-construction invariant: stacked bands can only ADD candidate
    pairs (union of per-band collisions), and every single-band pair
    survives in the stacked result with the same cosine."""
    import numpy as np

    from sts_opentelemetry_collector_spark.operators.similarity import (
        near_dup_pairs_lsh,
        plane_signs,
    )

    # planes must be genuinely distinct (the r2 arithmetic family repeated
    # with period 3, silently collapsing multi-plane buckets)
    sigs = {tuple(plane_signs(j)) for j in range(16)}
    assert len(sigs) == 16

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.normal(scale=0.05, size=64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    one = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in near_dup_pairs_lsh(emb, threshold=0.9, n_planes=8, bands=1).collect()
    }
    two = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in near_dup_pairs_lsh(emb, threshold=0.9, n_planes=8, bands=2).collect()
    }
    assert set(one) <= set(two)
    assert all(two[k] == v for k, v in one.items())
    # no duplicate pair rows despite multi-band collisions
    pairs = near_dup_pairs_lsh(emb, threshold=0.9, n_planes=8, bands=2)
    assert pairs.count() == pairs.select("vec_a", "vec_b").distinct().count()


def test_kafka_key_attr_override(spark):
    """K1: stskafka.key attr overrides the default element key."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.operators.routing import with_kafka_key

    df = spark.createDataFrame(
        [("e1", {"stskafka.key": "custom"}), ("e2", {})],
        "external_id string, attrs map<string,string>",
    )
    got = {r.external_id: r.kafka_key for r in with_kafka_key(df).collect()}
    assert got == {"e1": "custom", "e2": "e2"}


def test_apply_dedup_keeps_reps_and_singletons(spark):
    """Kept corpus = component reps + docs in no pair. Plan gate (VERDICT
    r3 #2): the drop side carries NO unconditional broadcast hint — a
    100 TB corpus at 30% dup rate has a driver-OOM-sized drop list, so
    broadcast must be AQE's size-gated runtime decision, not forced.
    With broadcast thresholds disabled the anti-join must therefore plan
    as a shuffle join; with defaults, AQE still broadcasts the tiny side."""
    from sts_opentelemetry_collector_spark.operators.textops import apply_dedup

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd", "en"), (2, "aa bb cc dd", "en"),  # dup pair -> keep 1
         (3, "zz yy xx ww", "en")],                            # singleton
        "doc_id long, text string, lang string",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, group_rep long"
    )
    out = apply_dedup(docs, groups=groups)
    assert {r.doc_id for r in out.collect()} == {1, 3}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    # a hint would broadcast regardless of size-threshold confs: disable
    # them and assert the join degrades to a shuffle join (no hint)
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        gated = apply_dedup(docs, groups=groups)
        assert {r.doc_id for r in gated.collect()} == {1, 3}
        gated_plan = gated._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in gated_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_multiprobe_recall_dominates_single_probe(spark):
    """The multiprobe candidate set is a strict superset of the one-bucket
    probe (same query, same planes), so its top-k cosine floor is >= the
    single-probe floor — the recall knob doing its job."""
    from sts_opentelemetry_collector_spark.operators.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_multiprobe,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + d * 7) % 29) - 14.0 for d in range(64)])
         for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    single = ann_lsh_topk(emb, query_vec_id=0, k=50).collect()
    multi = ann_lsh_topk_multiprobe(emb, query_vec_id=0, k=50).collect()
    assert len(multi) >= len(single)
    if len(multi) == 50 and len(single) == 50:
        assert multi[-1].cos_sim >= single[-1].cos_sim


def test_kmeans_refine_conserves_vectors(spark):
    """Every vector lands in exactly one refined cluster."""
    from sts_opentelemetry_collector_spark.operators.similarity import kmeans_refine

    emb = spark.createDataFrame(
        [(i, [float((i * 11 + d * 3) % 17) - 8.0 for d in range(64)])
         for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    sizes = kmeans_refine(emb, n_centroids=4).collect()
    assert sum(r.cluster_size for r in sizes) == 120
    assert all(r.cluster_size > 0 for r in sizes)


def test_incremental_dedup_completeness(spark):
    """Incremental dedup must be lossless: corpus-only pairs ∪ re-oriented
    incremental pairs == pairs over the full corpus (same bands/threshold).
    This is the invariant that lets a 10^12-doc corpus dedup per-ingest
    without ever re-pairing the corpus against itself."""
    import pyspark.sql.functions as F
    from sts_opentelemetry_collector_spark.operators.textops import (
        incremental_near_dup,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 6} jumps over the lazy dog {i % 4}", "en")
         for i in range(60)],
        "doc_id long, text string, lang string",
    )
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)

    full = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(docs).collect()}
    old = {(r.doc_a, r.doc_b, r.jaccard) for r in ngram_jaccard_pairs(corpus).collect()}
    inc = {
        (min(r.new_doc_id, r.dup_of), max(r.new_doc_id, r.dup_of), r.jaccard)
        for r in incremental_near_dup(new, corpus).collect()
    }
    assert old | inc == full
    assert old & inc == set()  # corpus pairs never recomputed


def _union_find(edges) -> dict:
    """Ground-truth components: vertex -> min vertex of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _hash_to_min_rounds(edges) -> int:
    """Rounds the hash-to-min loop runs on `edges`, the final round that
    changes nothing included: a pure-python model of the same messages."""
    cs: dict = {}
    for a, b in edges:
        cs.setdefault(a, {a}).add(b)
        cs.setdefault(b, {b}).add(a)
    rounds = 0
    while True:
        rounds += 1
        new = {v: set() for v in cs}
        for c in cs.values():
            m = min(c)
            new[m] |= c
            for u in c:
                new[u].add(m)
        if new == cs:
            return rounds
        cs = new


def test_connected_components_star_matches_propagation(spark):
    """Hash-to-min labels equal union-find on a seeded random graph: same
    vertex set, same group_rep (component min) per vertex. This sparse
    supercritical graph has component diameter > 20, which min-label
    propagation could not cross in the default max_iters."""
    import random

    from sts_opentelemetry_collector_spark.operators.textops import (
        connected_components,
    )

    rng = random.Random(42)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.group_rep for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def test_connected_components_star_long_path(spark):
    """A 60-vertex path (diameter 59, descending ids so the min must
    traverse it) converges within 10 rounds (hash-to-min needs 8, where
    min-label propagation needs O(n)); capped below that at 3 rounds it
    must RAISE, not return partial labels."""
    import pytest as _pytest

    from sts_opentelemetry_collector_spark.operators.textops import (
        connected_components,
    )

    path = [(i + 1, i) for i in range(1, 60)]  # 60-59-...-1
    pairs = spark.createDataFrame(path, "doc_a long, doc_b long")
    got = {r.doc_id: r.group_rep
           for r in connected_components(pairs, max_iters=10).collect()}
    assert got == {v: 1 for v in range(1, 61)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=3).collect()


def test_top_token_count_single_pass_equals_naive(spark):
    """Property pin for VERDICT r3 #3: the sorted-run-length fold equals
    the naive O(u·n) per-distinct-token count on every shape that
    stressed the old code — high-diversity long docs (u == n), heavy
    repetition, a single token, and the empty-ish edge."""
    import pyspark.sql.functions as F
    from sts_opentelemetry_collector_spark.operators.textops import (
        tokens_col,
        top_token_count,
    )

    texts = [
        " ".join(f"tok{i}" for i in range(500)),          # all-unique long doc
        " ".join(["spam"] * 40 + [f"u{i}" for i in range(30)]),
        "solo",
        "a b a b a c c c c",
        "",                                                # one empty token
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = tokens_col("text")
    naive = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda t: t == d)),
        )
    ).cast("long")
    rows = docs.select(
        "doc_id",
        top_token_count(toks).alias("fast"),
        naive.alias("slow"),
    ).collect()
    assert rows, "no rows"
    for r in rows:
        assert r.fast == r.slow, (r.doc_id, r.fast, r.slow)


def test_connected_components_star_more_shapes(spark, spark_jobs):
    """Hash-to-min == union-find ground truth on adversarial shapes: a
    dense near-clique, a binary-tree hierarchy, and two stars joined by a
    bridge edge. Each round is one explode + one groupBy whose
    localCheckpoint carries the changed-vertex count (observe), so the
    loop and the collect launch at most 2 jobs per round plus 3, and no
    per-round probe job."""
    from sts_opentelemetry_collector_spark.operators.cache import release_caches
    from sts_opentelemetry_collector_spark.operators.textops import (
        connected_components,
    )

    clique = [(i, j) for i in range(100, 110) for j in range(100, 110) if i < j]
    tree = [(i, 2 * i) for i in range(1, 16)] + [(i, 2 * i + 1) for i in range(1, 16)]
    two_stars = [(200, 200 + i) for i in range(1, 8)] + [
        (300, 300 + i) for i in range(1, 8)
    ] + [(207, 307)]  # bridge
    edges = clique + tree + two_stars
    rounds = _hash_to_min_rounds(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    try:
        with spark_jobs() as jobs:
            got = {r.doc_id: r.group_rep for r in connected_components(pairs).collect()}
        assert got == _union_find(edges)
        assert jobs.n <= 2 * rounds + 3, f"{jobs.n} jobs for {rounds} rounds"
    finally:
        release_caches()


def test_winnowing_guarantee_and_model(spark):
    """Winnowing (SIGMOD'03) pins: (1) exact equality with a pure-python
    model of the same k-gram/window/hash scheme; (2) the detection
    guarantee — two docs sharing a substring of length >= k+w-1 share at
    least one fingerprint; (3) density — fingerprints ~ n/w, far fewer
    than grams; (4) short-doc edges (n < k, k <= n < k+w-1) are empty /
    single-window."""
    import hashlib

    from sts_opentelemetry_collector_spark.operators.textops import (
        winnowing_fingerprints,
    )

    k, w = 5, 4
    shared = "the identical plagiarized passage lives here"
    texts = {
        1: "intro words before " + shared + " and an ending one",
        2: "completely different opening text then " + shared + " closing",
        3: "no overlap with anything else at all in this document",
        4: "tiny",          # n < k: zero grams
        5: "sevench",       # k <= n < k+w-1: grams but < one full window
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    def model_fps(text):
        # base-257 polynomial over code points (the paper's hash family)
        s = text.lower()

        def ph(g):
            v = 0
            for ch in g:
                v = v * 257 + ord(ch)
            return v

        hs = [ph(s[i : i + k]) for i in range(len(s) - k + 1)]
        return sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})

    rows = {r.doc_id: r for r in winnowing_fingerprints(docs, k=k, window=w).collect()}
    for i, t in texts.items():
        fps = model_fps(t)
        digest = hashlib.md5(",".join(str(x) for x in fps).encode()).hexdigest()
        assert rows[i].n_grams == max(len(t) - k + 1, 0), i
        assert rows[i].n_fingerprints == len(fps), i
        assert rows[i].fingerprints_digest == digest, i

    # detection guarantee: docs 1 and 2 share the passage (len >= k+w-1)
    assert set(model_fps(texts[1])) & set(model_fps(texts[2]))
    # density: selected minima are a small fraction of all grams
    assert rows[1].n_fingerprints < rows[1].n_grams / 2
    # edges
    assert rows[4].n_grams == 0 and rows[4].n_fingerprints == 0
    assert rows[5].n_grams == 3 and rows[5].n_fingerprints == 0  # < one window


def test_apply_dedup_keep_best_policy(spark):
    """Quality-keeper dedup keeps the HIGHEST-quality member per
    component (tie -> lowest doc_id), unlike apply_dedup's min-id rep;
    singletons always survive."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        apply_dedup_keep_best,
    )

    docs = spark.createDataFrame(
        [
            (1, "short", "en", "s1", 5),
            (2, "much longer copy", "en", "s1", 16),   # best of {1,2,3}
            (3, "mid copy", "en", "s1", 8),
            (7, "tie a", "en", "s2", 5),               # tie on quality with 9:
            (9, "tie b", "en", "s2", 5),               #   lowest id (7) wins
            (5, "lonely singleton", "en", "s3", 16),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], "doc_id long, group_rep long"
    )
    kept = {r.doc_id for r in apply_dedup_keep_best(docs, groups=groups).collect()}
    assert kept == {2, 7, 5}
    # plan gate: argmax is a hash aggregate, not a row_number window
    plan = (
        apply_dedup_keep_best(docs, groups=groups)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
