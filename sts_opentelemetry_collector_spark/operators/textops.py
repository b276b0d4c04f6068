"""Training-data text operators over the `documents` table: deduplication
(exact, n-gram Jaccard, MinHash+LSH, SimHash), language-ID, quality
scoring, token counting, fingerprinting.

These extend the reference's dedup family (SURVEY.md §2.5) to the
web-scale training-data pipeline. Everything is built-in Spark SQL
functions — HOFs (transform/filter/aggregate) keep shingling and hashing
JVM-side; the one exception is winnowing's Arrow-vectorized pandas UDF
(interpreted HOF lambdas measured ~9x slower there, see
winnowing_fingerprints). Cross-engine determinism for
the DuckDB oracle comes from md5 (bit-identical in both engines) instead
of engine-private hash functions.

Scale notes:
- exact dedup: one hash-partitioned groupBy on md5(text) — map-side
  partial agg, AQE-coalesced; no skew (hashes are uniform).
- n-gram Jaccard: candidates come from MinHash-LSH buckets (r=2 rows
  per band), never blocking keys or all-pairs — candidate volume tracks
  true near-dup density at any scale. Each doc is shingled once, in
  linear time (_token_windows), into one persisted per-doc frame that
  both the bucket join and the exact-Jaccard verify read.
- MinHash: per-band minima computed per row (no shuffle), then one
  groupBy band-value to form buckets: pairs only within buckets.
- SimHash: 16-bit signature via md5-derived token bits, all HOFs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

STOPWORDS = {
    "en": ["the", "and", "of", "with", "from"],
    "es": ["el", "y", "de", "con", "desde"],
    "de": ["der", "und", "von", "mit", "aus"],
}


def tokens_col(text_col: str = "text"):
    return F.split(F.lower(F.col(text_col)), " ")


def _token_windows(toks, n: int, combine):
    """combine(...) over every window of n consecutive tokens of the array
    `toks`, as zip_with over n shifted slices of that one array: each
    row splits its text a fixed number of times, so the cost is linear
    in its words. (Referencing the token expression inside a lambda
    instead re-splits the text once per element: interpreted HOFs have
    no CSE.) The slice length is clamped at 0, so an array of fewer than
    n tokens yields [] — the DuckDB range(1, len) semantics."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, k)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, j + 1, k), combine)
    return out


def shingles_col(text_col: str = "text", n: int = 2):
    """Distinct word n-gram shingles ("w1 w2" / "w1 w2 w3"), row-local and
    linear in the words (_token_windows). A doc of fewer than n tokens —
    the empty string included — has no shingles: []."""
    if n not in (2, 3):
        raise ValueError("n in (2, 3)")
    return F.array_distinct(
        _token_windows(tokens_col(text_col), n, lambda a, b: F.concat_ws(" ", a, b))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: content hash -> group size + keeper id."""
    return (
        docs.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keeper_doc_id"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard, candidates restricted to
    MinHash-LSH buckets — the 100 TB-safe shape: pairs are generated ONLY
    within (band, bucket) groups (equi-join on the bucket key), never
    all-pairs or coarse-block-pairs. r=2 rows per band keeps buckets tight
    (collision prob J^2) so candidate volume tracks true near-dup density;
    recall at J=0.5 is 1-(1-J^2)^4 ~ 0.68, rising steeply with J (0.98 at
    J=0.8) — the standard LSH knob, tune (bands, rows) per corpus.

    One pass per document: the persisted per-doc frame (_doc_signatures)
    holds each doc's shingles, their count and its band buckets. The
    bucket self-join reads its band rows and drops pairs whose shingle
    counts cannot reach the threshold before deduplicating pairs that
    share several bands; the exact-Jaccard verify joins the shingles from
    the same frame. doc_a < doc_b canonicalizes."""
    from .cache import register_cache

    sig = register_cache(_doc_signatures(docs, bands=bands, n=n).persist())
    rows = _band_rows(sig, bands, "sz")
    a, b = rows.alias("a"), rows.alias("b")
    candidates = (
        a.join(b, on=["band", "bucket"])  # shuffle equi-join, bucket-local
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(_size_ratio_ok(F.col("a.sz"), F.col("b.sz"), threshold))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])  # a pair may share several bands
    )
    return _jaccard_on_candidates(candidates, sig, threshold=threshold)


def _doc_signatures(docs: DataFrame, bands: int, n: int) -> DataFrame:
    """(doc_id, sh, mh_0.., sz): each doc's distinct shingles, its r=2
    band buckets and its shingle count. The near-dup operators persist it,
    because their bucket join and Jaccard verify both read it;
    lsh_band_index is its band rows, so an index built from the same docs
    reads that cache instead of shingling again. A doc with no shingles
    has NULL buckets (see minhash_signatures), which never equi-join."""
    sigs = minhash_signatures(docs, bands, rows_per_band=2, n=n)
    return sigs.withColumn("sz", F.size("sh"))


def _band_rows(sigs: DataFrame, bands: int, *keep: str) -> DataFrame:
    """(doc_id, *keep, band, bucket): one row per band of a
    minhash_signatures frame — a single explode, not a union of per-band
    branches, which would re-evaluate the signature subtree per band."""
    bb = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"mh_{b}").alias("bucket"))
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", *keep, F.explode(bb).alias("bb")).select(
        "doc_id", *keep, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _size_ratio_ok(sa, sb, threshold: float):
    """Size-ratio prefilter (provably output-preserving): inter <=
    min(|A|,|B|) and union >= max(|A|,|B|), so J <= min/max — a pair whose
    shingle-count ratio is below the threshold cannot pass the exact
    filter. The final compare is on round(J, 4), so keep a 1e-4 slack
    (round can lift J by at most 5e-5)."""
    floor = F.lit(max(threshold - 1e-4, 0.0))
    return F.least(sa, sb).cast("double") >= floor * F.greatest(sa, sb)


def lsh_band_index(docs: DataFrame, bands: int = 4, n: int = 2) -> DataFrame:
    """(doc_id, band, bucket) — the corpus MinHash-LSH index, the band
    rows of the per-doc signature. Signatures are row-local, so the index
    for an ingest batch never touches the rest of the corpus; at 100 TB
    this frame IS a materialized table bucketed on (band, bucket),
    appended per batch (see incremental_near_dup). Not persisted: its
    callers read it once, and where the docs' _doc_signatures frame is
    already persisted (the dedup stream) the index reads that cache."""
    return _band_rows(_doc_signatures(docs, bands=bands, n=n), bands)


def _jaccard_on_candidates(
    candidates: DataFrame,
    shingles: DataFrame,
    threshold: float,
    cache_registry: list | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs (doc_a, doc_b)
    against `shingles` (doc_id, sh, sz), which must hold every id of
    `candidates`: each side's shingles and count join on, the size-ratio
    prefilter drops pairs that cannot pass before the array intersect
    runs, and the rest are filtered at the threshold. Jaccard is over RAW
    shingles: word bigrams are shorter than md5 digests, so the
    intersect on them moves less data than on hashes; the union is
    counted from the two sizes, never built.

    cache_registry: callers that run this repeatedly in one session (the
    incremental-dedup stream, one call per micro-batch) pass a list; every
    frame persisted here is appended so the caller can unpersist after its
    consuming action — otherwise an always-on stream accumulates cached
    frames until LRU eviction (executor storage pressure). When None, the
    frames land in the module-level session registry
    (cache.release_caches() frees them)."""
    from .cache import register_cache

    def side(s: str) -> DataFrame:
        return shingles.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("sh").alias(f"sh_{s}"),
            F.col("sz").alias(f"sz_{s}"),
        )

    paired = (
        candidates.join(side("a"), on="doc_a")
        .join(side("b"), on="doc_b")
        .where(_size_ratio_ok(F.col("sz_a"), F.col("sz_b"), threshold))
    )
    # both shingle arrays are distinct (shingles_col), so the union is
    # counted, not built: |A ∪ B| = |A| + |B| - |A ∩ B|, the same int
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = F.round(inter.cast("double") / union, 4)
    pairs = paired.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )
    # persist the VERIFIED pair list: it is the terminal near-dup artifact
    # (true-pair-density rows, tiny next to the candidate volume) that the
    # whole downstream dedup family — connected components, apply,
    # keep-best, incremental — consumes; without it every consumer
    # re-runs the candidate join + exact-Jaccard verify, the most
    # expensive stage of the family (measured 4.4M candidates -> 2.5k
    # pairs at bench sf1.0). At 100 TB this frame IS the stored pair
    # table a corpus pipeline materializes between verify and grouping.
    return register_cache(pairs.persist(), cache_registry)


def incremental_near_dup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    bands: int = 4,
) -> DataFrame:
    """Per-ingest-batch dedup against an already-indexed corpus: candidate
    pairs are (corpus × new) ∪ (new × new) — NEVER corpus × corpus — so
    each ingest costs O(batch + bucket collisions), not O(corpus). This is
    the only dedup shape that survives a 10^12-doc corpus with daily
    ingest: the corpus side of the equi-join reads the STORED band index
    (lsh_band_index output, appended per batch, bucketed on (band,
    bucket) so the join is co-located); here it is built in-plan from
    corpus_docs for oracle-checkability.

    Returns (new_doc_id, dup_of, jaccard): dup_of is a corpus doc or an
    earlier (lower-id) doc of the same batch. Invariant (pytest-pinned):
    corpus-only pairs ∪ re-oriented incremental pairs == full-corpus
    pairs."""
    return incremental_near_dup_with_index(
        new_docs,
        corpus_docs,
        lsh_band_index(corpus_docs, bands=bands, n=n),
        n=n,
        threshold=threshold,
        bands=bands,
    )


def incremental_near_dup_with_index(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_idx: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    bands: int = 4,
    cache_registry: list | None = None,
) -> DataFrame:
    """incremental_near_dup against a PREBUILT (stored) corpus band index
    — the production entry point: corpus_idx is the accumulated
    lsh_band_index table, corpus_docs the doc store (text needed only for
    the exact-Jaccard verify: only the corpus docs of surviving
    candidates, semi-join-pruned, are shingled). The new docs are
    shingled once, in their persisted per-doc frame (_doc_signatures),
    which feeds both the bucket joins and the verify.
    cache_registry: see _jaccard_on_candidates — pass a list from
    repeated-call contexts (the dedup stream) and unpersist its entries
    after consuming the result."""
    from .cache import register_cache

    new_sig = register_cache(
        _doc_signatures(new_docs, bands=bands, n=n).persist(), cache_registry
    )
    new_idx = _band_rows(new_sig, bands)
    nc = (
        corpus_idx.alias("a")
        .join(new_idx.alias("b"), on=["band", "bucket"])
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    nn = (
        new_idx.alias("a")
        .join(new_idx.alias("b"), on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # referenced twice (corpus-member semi-join + verify): without persist
    # the second reference re-runs the bucket joins over the corpus index
    cands = register_cache(
        nc.unionByName(nn).dropDuplicates(["doc_a", "doc_b"]).persist(),
        cache_registry,
    )
    # doc_b is always a new doc; shingle only the corpus docs that appear
    # as doc_a. NO broadcast hint — on a templated corpus the candidate
    # member set can be a large fraction of the input (same driver-OOM
    # argument as apply_dedup's drop list); AQE broadcasts it at runtime
    # when it measures small, else a shuffled semi-join on uniform doc_id.
    # Persisted: both verify sides read it.
    corpus_sh = register_cache(
        corpus_docs.join(
            cands.select(F.col("doc_a").alias("doc_id")), on="doc_id", how="left_semi"
        )
        .select("doc_id", shingles_col(n=n).alias("sh"))
        .withColumn("sz", F.size("sh"))
        .persist(),
        cache_registry,
    )
    shingles = new_sig.select("doc_id", "sh", "sz").unionByName(corpus_sh)
    pairs = _jaccard_on_candidates(
        cands, shingles, threshold=threshold, cache_registry=cache_registry
    )
    return pairs.select(
        F.col("doc_b").alias("new_doc_id"), F.col("doc_a").alias("dup_of"), "jaccard"
    )


def near_dup_groups(
    docs: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    bands: int = 4,
    max_iters: int = 20,
) -> DataFrame:
    """Connected-components grouping over the LSH-restricted near-dup pair
    graph — the "which docs to keep" step of corpus dedup: every doc in a
    component maps to group_rep = min doc_id of the component (keep the
    rep, drop the rest). Only docs appearing in >=1 near-dup pair are
    emitted; singletons are trivially their own keeper.

    Spark shape: hash-to-min connected_components over the verified pair
    list — one shuffle per round over LSH-candidate-volume edges, never
    n², and O(log n) rounds for any component diameter; max_iters guards
    (non-convergence RAISES, never returns partial labels)."""
    pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold, bands=bands)
    return connected_components(pairs.select("doc_a", "doc_b"), max_iters=max_iters)


def apply_dedup(docs: DataFrame, groups: DataFrame | None = None, **kwargs) -> DataFrame:
    """Materialize the deduplicated corpus: drop every doc whose
    connected-component representative is a DIFFERENT doc; keep the reps
    and all singletons (docs in no near-dup pair). The final step of the
    near-dup flow: pairs -> components (near_dup_groups) -> kept corpus.

    Scale shape: one left-anti equi-join on doc_id against the drop list.
    NO broadcast hint: on a templated/boilerplate-heavy corpus the drop
    list can be a large fraction of the input (a 100 TB corpus at 30%
    dup rate has a ~30 TB drop side), so forcing a broadcast would OOM
    the driver. Left as a plain equi-join, AQE's size-gated planning
    broadcasts it automatically when (and only when) the built side is
    under spark.sql.autoBroadcastJoinThreshold at runtime; otherwise a
    shuffled hash join on uniformly-hashed doc_id (no skew)."""
    groups = groups if groups is not None else near_dup_groups(docs, **kwargs)
    drops = groups.where(F.col("doc_id") != F.col("group_rep")).select("doc_id")
    return docs.join(drops, on="doc_id", how="left_anti")


def apply_dedup_keep_best(
    docs: DataFrame,
    groups: DataFrame | None = None,
    quality_col: str = "n_chars",
    **kwargs,
) -> DataFrame:
    """apply_dedup with a QUALITY keeper policy: per near-dup component,
    keep the member with the highest quality_col (ties -> lowest doc_id)
    instead of the min-id representative — the policy real corpora use
    (keep the longest/cleanest copy, drop truncated mirrors).

    Scale shape: groups ⋈ docs on doc_id (uniform hash keys) for the
    quality lookup; one max_by hash aggregate per component (map-side
    partial — NOT a row_number window, which would sort-shuffle all
    members); then the same AQE-size-gated left-anti as apply_dedup."""
    groups = groups if groups is not None else near_dup_groups(docs, **kwargs)
    member = groups.join(docs.select("doc_id", quality_col), on="doc_id")
    # argmax via struct ordering: (quality asc, -doc_id asc) maximized
    # == highest quality then smallest id
    keepers = member.groupBy("group_rep").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col(quality_col).alias("q"), (-F.col("doc_id")).alias("t")),
        ).alias("keep_doc_id")
    )
    drops = (
        member.join(keepers, on="group_rep")
        .where(F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id")
    )
    return docs.join(drops, on="doc_id", how="left_anti")


def source_quality_rollup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus quality aggregates — the C4-style SOURCE-level
    filter signal (a crawl source whose docs are mostly rejected gets cut
    wholesale before per-doc filtering wastes compute on it):
    docs, mean tokens, mean stopword ratio, and the quality_gate keep
    rate per source.

    Scale shape: all per-doc stats are row-local HOFs; ONE groupBy on
    source (map-side partial agg). Sources are few (a dimension), so the
    final agg frame is tiny; AQE handles any mega-source skew."""
    # materialize the token array ONCE (no-CSE HOF rule, see
    # repetition_stats); every stat derives from the shared column.
    # spread: see language_id — the per-row HOF stats (sort+fold top-word
    # count, bigram distinct) would otherwise serialize in the one-task
    # scan of a single-row-group file.
    base = spread(docs).select("source", tokens_col(text_col).alias("_toks"))
    tt = F.col("_toks")
    nn = F.size(tt)
    stop = F.size(
        F.filter(
            tt,
            lambda t: (t == "the") | (t == "and") | (t == "of") | (t == "with") | (t == "from"),
        )
    )
    base = base.select(
        "source",
        "_toks",
        nn.alias("_n"),
        (stop.cast("double") / nn).alias("_stop_ratio"),
    )
    top_frac = top_token_count(tt).cast("double") / nn
    bigrams = F.when(
        nn >= 2,
        F.transform(
            F.sequence(F.lit(1), nn - 1),
            lambda i: F.concat_ws(" ", F.element_at(tt, i), F.element_at(tt, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_bg = F.when(
        F.size(bigrams) > 0,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams),
    ).otherwise(F.lit(0.0))
    keep = (
        (nn >= 16)
        & (F.round(top_frac, 4) <= 0.1)
        & (F.round(dup_bg, 4) <= 0.75)
        & (F.round(F.col("_stop_ratio"), 4) >= 0.01)
    )
    return (
        base.withColumn("_keep", keep.cast("int"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_n"), 4).alias("avg_tokens"),
            F.round(F.avg("_stop_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("_keep"), 4).alias("keep_rate"),
        )
    )


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    cache_registry: list | None = None,
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair list:
    (doc_id, group_rep = min doc_id reachable), every paired vertex
    emitted (reps map to themselves; singletons never appear in `pairs`).

    Hash-to-min (Rastogi et al., "Finding Connected Components in
    Map-Reduce in Logarithmic Rounds", ICDE 2013). The state is (v, C_v),
    C_v the sorted set of v and its neighbours. Each round is one explode
    and one groupBy: C_v goes to min(C_v), {min(C_v)} goes to every member
    of C_v, and the old C_v goes back to v so the reduce can tell whether
    C_v changed. At the fixpoint every C_v holds the component minimum,
    and group_rep = array_min(C_v). It takes O(log n) rounds on a path
    (11 on 300 vertices), where min-label propagation takes O(diameter).
    The price of one shuffle per round: the row of a component's minimum
    ends up holding the ids of every member, so one component must fit
    in one row.

    The count of changed vertices rides each round's localCheckpoint via
    observe(), so a round costs its own jobs and no probe job. If
    max_iters rounds pass without a fixpoint it raises RuntimeError: a
    partial labeling would emit wrong group_rep values downstream.

    Checkpoint hygiene: localCheckpoint, not persist, truncates each
    round's lineage (Catalyst would otherwise re-analyze a plan that
    grows every round). A round's blocks are freed as soon as the next
    round's checkpoint supersedes them, so the loop holds at most two
    rounds of blocks. The FINAL round's blocks back the returned frame
    and are registered in cache_registry (or the session registry) for
    release after the caller's consuming action (cache.py lifecycle). On
    a real cluster swap for reliable checkpoint(): an executor loss would
    otherwise kill the lineage-less job."""
    from pyspark.sql import Observation

    from .cache import CheckpointHandle, register_checkpoint

    # symmetrize via ONE explode, not a union of two selects: a union has
    # two subtrees each re-evaluating the (expensive) upstream pair
    # generator before its persist can serve either
    state = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("v"), F.col("doc_b").alias("u")),
                    F.struct(F.col("doc_b").alias("v"), F.col("doc_a").alias("u")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.v").alias("v"))
        .agg(F.collect_set("e.u").alias("n"))
        .select("v", F.array_sort(F.array_union(F.array("v"), "n")).alias("c"))
    )

    def msg(dst, ids, old: bool):
        return F.struct(dst.alias("dst"), ids.alias("c"), F.lit(old).alias("old"))

    c = F.col("c")
    m = c[0]  # C_v is sorted: its min
    msgs = F.concat(
        F.array(msg(m, c, False), msg(F.col("v"), c, True)),
        F.transform(c, lambda u: msg(u, F.array(m), False)),
    )
    prev = None
    for _ in range(max_iters):
        obs = Observation()
        state = (
            state.select(F.explode(msgs).alias("msg"))
            .groupBy(F.col("msg.dst").alias("v"))
            .agg(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(F.when(~F.col("msg.old"), F.col("msg.c")))
                        )
                    )
                ).alias("c"),
                F.max(F.when(F.col("msg.old"), F.col("msg.c"))).alias("old"),
            )
            .observe(obs, F.count_if(F.col("c") != F.col("old")).alias("changed"))
            .select("v", "c")
            .localCheckpoint()
        )
        # state is eagerly materialized: the previous round's blocks are
        # unreachable by any future plan, free them now
        if prev is not None:
            prev.free()
        prev = CheckpointHandle(state)
        if obs.get["changed"] == 0:
            break
    else:
        if prev is not None:
            prev.free()  # partial labels are garbage: drop their blocks now
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds: "
            "partial labels would be WRONG; raise max_iters"
        )
    # the final round's blocks back the returned frame: deferred release
    register_checkpoint(state, cache_registry)
    return state.select(F.col("v").alias("doc_id"), F.array_min(c).alias("group_rep"))


def spread(docs: DataFrame) -> DataFrame:
    """Round-robin exchange to defaultParallelism partitions, ahead of a
    compute-dense op: a single-file table scans as ONE task, serializing
    the hashing regardless of cluster size.

    The exchange is UNCONDITIONAL: every call shuffles the full input,
    even when it already arrives in defaultParallelism or more
    partitions, where the shuffle buys no fan-out. Every call site
    reads a single-file table, so no partition-count gate is kept."""
    return docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)


def minhash_signatures(
    docs: DataFrame, bands: int = 4, rows_per_band: int = 1, n: int = 2
) -> DataFrame:
    """MinHash signature, b bands x r rows: each row-hash is one 8-hex-char
    (32-bit) chunk of md5; chunks 0-3 slice md5(s), chunks 4-7 slice
    md5('r2:'||s) — disjoint slices of a cryptographic hash are independent
    hash functions, so r*b hashes cost ceil(r*b/4) md5 passes, not r*b.
    Band value = concat of its r row-minima: P(bucket collision) = J^r,
    the standard LSH false-positive knob (r=1 floods buckets via common
    shingles on templated corpora; r=2 squares that probability away).
    Output: doc_id, the shingle array sh, and one column per band
    (mh_0..mh_{bands-1}); md5 keeps the oracle bit-compatible. Row-local
    — zero shuffle."""
    n_chunks = bands * rows_per_band
    if n_chunks > 8:
        raise ValueError("bands*rows_per_band <= 8")
    # materialize the shingles and each md5 pass ONCE as their own array
    # columns: both md5 passes read sh, the chunk minima below each
    # reference a pass via substring, and CollapseProject keeps a
    # multiply-referenced expensive alias materialized instead of
    # inlining it into every consumer — one shingle build and 2 hash
    # passes, not 2 and 8.
    # (NB: HOF lambdas must be single-arg — a second (default) parameter is
    # interpreted by PySpark as the element-index argument.)
    sh = F.col("sh")
    out = spread(docs).select("doc_id", shingles_col(n=n).alias("sh")).select(
        "doc_id",
        "sh",
        F.transform(sh, lambda s: F.md5(s)).alias("_h1"),
        *(
            [F.transform(sh, lambda s: F.md5(F.concat(F.lit("r2:"), s))).alias("_h2")]
            if n_chunks > 4
            else []
        ),
    )

    def chunk_min(c: int):
        src = "_h1" if c < 4 else "_h2"
        off = c % 4
        return F.array_min(
            F.transform(F.col(src), lambda h: F.substring(h, 1 + 8 * off, 8))
        )

    for b in range(bands):
        mins = [chunk_min(b * rows_per_band + r) for r in range(rows_per_band)]
        # shingle-less docs (under n+1 tokens) must get a NULL bucket, not
        # '' — concat_ws drops null minima, which would collide every short
        # doc into one bucket per band (an all-pairs flood); null never
        # equi-joins, matching the oracle's NULL||NULL=NULL
        val = (
            mins[0]
            if rows_per_band == 1
            else F.when(F.size(F.col("_h1")) > 0, F.concat_ws("", *mins))
        )
        out = out.withColumn(f"mh_{b}", val)
    return out.drop("_h1", "_h2") if n_chunks > 4 else out.drop("_h1")


def minhash_lsh_buckets(docs: DataFrame, bands: int = 4) -> DataFrame:
    """LSH banding: docs sharing a band minimum land in one bucket.

    Output: (band, bucket, bucket_size) for buckets with >1 doc — the
    candidate-pair generator for near-dup at scale (pairs only within
    buckets, never all-pairs)."""
    return (
        _band_rows(minhash_signatures(docs, bands), bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("bucket_size") > 1)
    )


def simhash16(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash: bit j = sign of sum over tokens of ±1 from bit j of
    md5(token). Pure HOF composition (conv hex->dec, shiftright, aggregate).
    """
    toks = tokens_col(text_col)
    # hash each token ONCE into a materialized numeric array column (md5 is
    # the expensive part; a separate projection stops Catalyst re-evaluating
    # it per bit), then fold 16 bit sums over the array
    hashed = spread(docs).select(
        "doc_id",
        F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
        ).alias("_tok_vals"),
    )

    def bit_contrib(j: int):
        mask = 1 << j
        return lambda acc, v: acc + F.when(
            v.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bits = []
    for j in range(16):
        contrib = F.aggregate(F.col("_tok_vals"), F.lit(0).cast("long"), bit_contrib(j))
        bits.append(F.when(contrib > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    sim = bits[0]
    for b in bits[1:]:
        sim = sim + b
    return hashed.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = 2, cache_registry: list | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k via HAMMING-BALL
    QUERY EXPANSION: one side explodes each signature into the
    sum(C(16, i) for i <= k) xor-masked probes of its radius-k ball
    (k=2: 1 + 16 + 120 = 137 probes), the other side keeps the raw
    signature, and a single equi-join on the 16-bit value emits EXACTLY
    the true pairs — pair (a, b) matches on precisely one mask, the one
    equal to a.simhash XOR b.simhash.

    This replaces the earlier 4-bit-chunk pigeonhole banding: with only
    16 distinct values per chunk, every (chunk, value) bucket held ~n/16
    docs and the bucket self-join materialized ~n²/8 candidate rows
    before the Hamming filter — quadratic in the corpus. Expansion costs
    a fixed 137x row fan-out (linear in n) and the join output IS the
    result set; no candidate superset, no post-filter pass, no
    dropDuplicates shuffle (each pair appears exactly once by the
    unique-mask argument). Same output rows, columns, and hamming
    values.

    cache_registry: see cache.py — the persisted signature index registers
    there (or in the session registry) for release after the consuming
    action."""
    from itertools import combinations

    from .cache import register_cache

    masks = [0]
    for r in range(1, max_hamming + 1):
        for bits in combinations(range(16), r):
            m = 0
            for b_ in bits:
                m |= 1 << b_
            masks.append(m)

    s = simhash16(docs).persist()
    # ^ referenced by both join sides; persist is the materialized-
    # signature-index pattern (at scale this IS a stored table)
    s = register_cache(s, cache_registry)
    probes = s.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("_mask"),
    ).select(
        "doc_id",
        "simhash",
        F.col("simhash").bitwiseXOR(F.col("_mask")).alias("probe_sig"),
    )
    a, b = probes.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.probe_sig") == F.col("b.simhash"))
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & (ham <= max_hamming))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: stopword-hit counts per candidate language,
    argmax with a fixed priority tie-break (en > es > de)."""
    toks = tokens_col(text_col)

    def word_matcher(words: list[str]):
        # equality-OR chain: Column.isin is not supported on HOF lambda vars
        def match(t):
            cond = t == words[0]
            for w in words[1:]:
                cond = cond | (t == w)
            return cond

        return match

    hits = {}
    for lang, words in STOPWORDS.items():
        hits[lang] = F.size(F.filter(toks, word_matcher(list(words))))
    pred = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]), F.lit("en")
        )
        .when(hits["es"] >= hits["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    # spread: single-row-group input files scan as ONE task; the per-row
    # HOF stats would serialize on one core (see spread docstring)
    return spread(docs).select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["de"].alias("de_hits"),
        pred.alias("predicted_lang"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality features: token count, mean token length, stopword ratio,
    and a coarse quality bucket — the training-data filter primitives."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    mean_tok_len = F.round(
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tokens,
        4,
    )
    stop = F.size(
        F.filter(
            toks,
            lambda t: (t == "the") | (t == "and") | (t == "of") | (t == "with") | (t == "from"),
        )
    )
    stop_ratio = F.round(stop.cast("double") / n_tokens, 4)
    bucket = (
        F.when((n_tokens >= 32) & (stop_ratio <= 0.2), F.lit("high"))
        .when(n_tokens >= 16, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    # spread: see language_id — parallelize the row-local HOF stats
    return spread(docs).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        bucket.alias("quality_bucket"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, alpha tokens (BPE-ish regex),
    and a chars/4 subword estimate. spread: see language_id."""
    return spread(docs).select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[a-z]+"), 0)).alias("alpha_tokens"),
        F.ceil(F.length(text_col) / 4).cast("long").alias("bpe_est_tokens"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the punctuation/case-normalized text
    (the D5 content-hash pattern applied to documents)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
    # NO spread (measured): one regex rewrite + md5 per row is too cheap
    # to amortize a full-text shuffle — 1.1s single-task vs 1.8s spread
    # at sf1.0 (unlike the HOF-stat operators, where spread wins 3-4x)
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def top_token_count(toks):
    """Max occurrence count of any single token — single-pass: sort the
    array (O(n log n) row-local), then one fold tracking the longest
    equal-run. Replaces the naive O(u·n) per-distinct-token filter fold
    (u = distinct tokens), which degenerates on high-diversity long docs
    (u ≈ n → O(n²) per row). Equality with the naive fold is
    property-pinned (tests/test_textops.py)."""
    srt = F.array_sort(toks)
    zero = F.lit(0).cast("long")
    fold = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(t.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    # empty token array -> NULL (array_max semantics of the naive fold)
    return F.when(F.size(toks) > 0, fold)


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram, slide a
    w-window over the hash sequence, keep each window's minimum — the
    guarantee is every match of length >= k+w-1 shares a fingerprint, so
    the selected minima are a position-robust near-dup/plagiarism
    signature at ~1/w density.

    Spark shape: row-local — zero shuffles beyond the spread, scan-bound
    at any corpus size; O(n·w) per row with w small. Hash = the base-257
    polynomial over the k-gram's code points (the rolling-hash family the
    winnowing paper itself uses): max value 255·Σ257^j ≈ 1.1e12 fits a
    long EXACTLY, so Spark and the DuckDB oracle compute identical
    integers with plain arithmetic. Output keeps the count of distinct
    minima plus a digest of the sorted set for set-valued comparison.

    One struct-returning Arrow-batched pandas UDF, numpy inside: code
    points via a utf-32-le view (vectorized, no per-char python), gram
    hashes as k shifted adds over slices, window minima via
    sliding_window_view. This is the legitimate UDF-over-builtin case: an
    all-HOF form evaluates ~n·(k+w) INTERPRETED lambda expressions per row
    (no codegen inside HOFs), measured ~9x slower at sf0.1 for identical
    output."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    out_t = StructType(
        [
            StructField("n_grams", IntegerType()),
            StructField("n_fingerprints", IntegerType()),
            StructField("fingerprints_digest", StringType()),
        ]
    )
    empty_digest = hashlib.md5(b"").hexdigest()

    @F.pandas_udf(out_t)
    def _udf(text: pd.Series) -> pd.DataFrame:
        ngs, nfs, dgs = [], [], []
        for s_ in text:
            if s_ is None:
                ngs.append(0); nfs.append(0); dgs.append(empty_digest)
                continue
            c = np.frombuffer(
                s_.lower().encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            ng = len(c) - k + 1
            if ng < 1:
                ngs.append(0); nfs.append(0); dgs.append(empty_digest)
                continue
            h = np.zeros(ng, dtype=np.int64)
            for j in range(k):
                h = h * 257 + c[j : j + ng]
            ngs.append(ng)
            if ng < window:
                nfs.append(0); dgs.append(empty_digest)
                continue
            mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
            fps = np.unique(mins)
            nfs.append(int(fps.size))
            dgs.append(
                hashlib.md5(",".join(str(int(x)) for x in fps).encode()).hexdigest()
            )
        return pd.DataFrame(
            {
                "n_grams": pd.Series(ngs, dtype="int32"),
                "n_fingerprints": pd.Series(nfs, dtype="int32"),
                "fingerprints_digest": pd.Series(dgs, dtype=object),
            }
        )

    return spread(docs).select("doc_id", _udf(F.col(text_col)).alias("_w")).select(
        "doc_id",
        F.col("_w.n_grams").alias("n_grams"),
        F.col("_w.n_fingerprints").alias("n_fingerprints"),
        F.col("_w.fingerprints_digest").alias("fingerprints_digest"),
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    max_top_word_frac: float = 0.1,
    max_dup_bigram_frac: float = 0.75,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-word fraction, top-word fraction, and duplicate-bigram
    fraction, plus the keep/drop verdict — the standard "excessively
    repetitious page" gate a webtext training pipeline runs before dedup.

    Scale shape: every stat is row-local (HOFs over the token array inside
    whole-stage codegen) — zero shuffles, scan-bound at any corpus size.
    The top-word count is a single sort+run-length fold per row
    (top_token_count), O(n log n) regardless of vocabulary diversity."""
    # materialize the token array ONCE: interpreted HOFs have no CSE, so
    # a `tokens_col()` expression referenced inside the per-distinct-token
    # count lambda would re-split the text u times per row (the same
    # O(dim^2) trap as the embedding-LSH norm hoist, similarity.py)
    base = docs.select("doc_id", tokens_col(text_col).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    top = top_token_count(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nb = F.size(bigrams)
    dup_word_frac = F.round(F.lit(1.0) - F.size(uniq).cast("double") / n, 4)
    top_word_frac = F.round(top.cast("double") / n, 4)
    dup_bigram_frac = F.when(
        nb > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / nb, 4),
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        dup_word_frac.alias("dup_word_frac"),
        top_word_frac.alias("top_word_frac"),
        dup_bigram_frac.alias("dup_bigram_frac"),
        (
            (top_word_frac <= F.lit(max_top_word_frac))
            & (dup_bigram_frac <= F.lit(max_dup_bigram_frac))
        ).alias("keep"),
    )


def quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The composed webtext filter chain (C4/Gopher-style): ordered rules,
    first failure wins as reject_reason — the decision log a training-data
    pipeline keeps for filter auditing.

      1. too_short            n_tokens < 16
      2. repetitive_top_word  top-word fraction > 0.1
      3. repetitive_bigrams   duplicate-bigram fraction > 0.75
      4. low_stopword         stopword ratio < 0.01 (gibberish heuristic)

    Row-local like its component filters: one when-cascade over HOF stats
    computed from a once-materialized token array — zero shuffles."""
    base = docs.select("doc_id", tokens_col(text_col).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    top_frac = top_token_count(toks).cast("double") / n
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_bg_frac = F.when(
        F.size(bigrams) > 0,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams),
    ).otherwise(F.lit(0.0))
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: (t == "the") | (t == "and") | (t == "of") | (t == "with") | (t == "from"),
            )
        ).cast("double")
        / n
    )
    reason = (
        F.when(n < 16, F.lit("too_short"))
        .when(F.round(top_frac, 4) > 0.1, F.lit("repetitive_top_word"))
        .when(F.round(dup_bg_frac, 4) > 0.75, F.lit("repetitive_bigrams"))
        .when(F.round(stop_ratio, 4) < 0.01, F.lit("low_stopword"))
    )
    return base.select(
        "doc_id", reason.isNull().alias("keep"), reason.alias("reject_reason")
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus TF-IDF: per-doc top-scoring term (the classic keyword /
    topic-signal extraction a training-data pipeline runs for domain
    bucketing). score = tf · ln(N/df).

    Scale shape (10^12 docs): (doc, token) term frequencies and per-token
    document frequencies are both hash groupBys with map-side partial
    combine; tf⋈df is a token-keyed equi-join (Zipf-skewed heads handled
    by AQE skew-join); the corpus size N is a 1-row broadcast; the per-doc
    argmax is a min_by hash aggregate over struct(-score, token) — NOT a
    row_number window, which would sort-shuffle the full exploded frame.
    Tie-break on the ROUNDED score then token asc keeps the argmax
    engine-portable (ln ULP differences can't flip the winner)."""
    # spread: the split+explode feeding BOTH aggregates runs inside the
    # scan stage — a single-row-group file would serialize it on one core
    tf = (
        spread(docs).select("doc_id", F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf is the (doc, token, count) term-frequency dim consumed TWICE (the
    # df aggregation and the scoring join): persist so the explode+partial
    # agg runs once (cache.py lifecycle; at scale this is the stored TF
    # table of an inverted index build)
    from .cache import register_cache

    tf = register_cache(tf.persist())
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, on="token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    best = F.min_by(
        F.struct("token", "tf", "df", "tfidf"),
        F.struct((-F.col("tfidf")).alias("neg"), F.col("token")),
    )
    return (
        scored.groupBy("doc_id")
        .agg(best.alias("_m"))
        .select(
            "doc_id",
            F.col("_m.token").alias("top_term"),
            F.col("_m.tf").alias("tf"),
            F.col("_m.df").alias("df"),
            F.col("_m.tfidf").alias("tfidf"),
        )
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style LM quality signal, unigram flavor: per-doc mean token
    log-probability under the corpus unigram MLE — docs full of rare/
    gibberish tokens score low, fluent ones high (the KenLM-perplexity
    bucketing of CCNet, with the corpus itself as the LM).

    Scale shape: ONE explode feeding both the frequency table (token
    groupBy, map-side partial agg, AQE skew-join for Zipf heads) and the
    per-doc average (doc groupBy); corpus token total is a 1-row
    broadcast. Mean rounded to 4 (cross-engine double summation order +
    ln ULP)."""
    # NO spread here (measured): unlike bigram_logprob there is no
    # persisted intermediate to amortize the repartition over — the tok
    # subtree is re-evaluated by both the freq and scored legs, and the
    # extra exchange made the query 1.8x SLOWER (1.3s -> 2.4s at sf1.0)
    tok = docs.select("doc_id", F.explode(tokens_col(text_col)).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus token total == Σ per-token counts: derive it from the freq
    # dim (token-cardinality rows) instead of a third full explode pass
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        tok.join(freq, on="token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def _bigram_structs(text_col: str):
    """array<struct<w1, w2>> of a doc's bigram instances, in token order
    (_token_windows: linear in the words; [] under 2 tokens)."""
    return _token_windows(
        tokens_col(text_col), 2, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """CCNet-style LM quality signal, order-2: per-doc mean
    ln P(w_i | w_{i-1}) under the corpus bigram MLE
    (count(w_{i-1} w_i) / count(w_{i-1} ·)) — the next step up from
    unigram_logprob toward the KenLM scoring CCNet uses; repetitive/
    templated docs score near 0, high-entropy gibberish scores low.
    This is the SELF-scoring variant (corpus scores itself, every bigram
    seen, exact MLE, no smoothing needed); for the production filter
    shape — a reference LM scoring held-out/new ingest docs — use
    bigram_logprob_scored (Stupid Backoff handles unseen bigrams/OOV).
    Docs with < 2 tokens have no bigrams and are omitted (no P() terms).

    Scale shape: ONE bigram explode feeding the bigram-count table and
    the per-doc mean; the prefix (history) counts REUSE the same exploded
    frame grouped by w1 — two partial-agg groupBys + one bigram-keyed
    equi-join (AQE skew-join for templated heads) + a 0-row-safe per-doc
    mean. Mean rounded to 4 (cross-engine summation order)."""
    bigrams = _bigram_structs(text_col)
    # spread: the bigram build + explode feeding the persisted doc_bg
    # would otherwise run single-task on a single-row-group file
    bg = spread(docs).select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # pre-aggregate to (doc, bigram, multiplicity) FIRST: webtext is
    # templated, so distinct (doc, bigram) is far smaller than bigram
    # instances — the two count tables AND the scoring join all run over
    # the reduced frame (weighted by m). persist: three consumers of the
    # same explode subtree (no-CSE across actions).
    from .cache import register_cache

    doc_bg = register_cache(
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("m"))
        .persist(),
        cache_registry,
    )
    pair_cnt = doc_bg.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    prefix_cnt = doc_bg.groupBy("w1").agg(F.sum("m").alias("c1"))
    scored = (
        doc_bg.join(pair_cnt, on=["w1", "w2"])
        .join(prefix_cnt, on="w1")
        .select(
            "doc_id",
            F.col("m"),
            F.log(F.col("c2").cast("double") / F.col("c1")).alias("lp"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("lp") * F.col("m")) / F.sum("m"), 4).alias(
            "avg_bigram_logprob"
        ),
        F.sum("m").alias("n_bigrams"),
    )
    # persist the per-doc score table (3 narrow columns): it is the
    # LM-quality artifact consumers build on (ccnet_buckets thresholds
    # and buckets over it) — without this every consumer re-runs the
    # count-dim joins over the token-scale doc_bg frame. Registered for
    # release after the consuming action (cache.py lifecycle).
    return register_cache(out.persist(), cache_registry)


def bigram_logprob_scored(
    train_docs: DataFrame,
    score_docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.4,
    cache_registry: list | None = None,
) -> DataFrame:
    """Held-out LM quality scoring with Stupid Backoff — the actual CCNet
    filter shape: an LM built on a REFERENCE corpus scores NEW ingest
    batches (bigram_logprob scores the corpus against itself, where every
    bigram is seen by construction; this operator scores disjoint docs,
    so unseen bigrams are the normal case and need backoff).

    Score per bigram instance (w1, w2), Stupid Backoff (Brants et al.,
    EMNLP'07 — "Large Language Models in Machine Translation"):
      S(w2|w1) = c(w1 w2) / c(w1 ·)        if the bigram was seen in train
               = alpha * c(w2) / N          else (unigram backoff)
               = alpha / N                  if w2 is OOV (deterministic
                                            floor: one pseudo-count)
    c(w1 ·) is the bigram-prefix count (consistent with the MLE in
    bigram_logprob); N is the train token total. Output per scored doc:
    mean ln S over bigram instances (rounded 4), n_bigrams, and
    backoff_frac — the fraction of instances that backed off (a domain-
    shift signal in its own right). Docs with < 2 tokens are omitted.

    Scale shape: train-side tables are (bigram, count) / (token, count)
    partial aggregates; the score side pre-aggregates to (doc, bigram,
    multiplicity) then LEFT-joins the count tables on bigram/token keys
    (AQE skew handles Zipf heads; at 100 TB the train tables are stored
    dims, rebuilt only when the reference corpus changes). N is a 1-row
    broadcast. No windows, no UDFs."""
    from .cache import register_cache

    def doc_bigrams(docs: DataFrame) -> DataFrame:
        return (
            spread(docs)  # see bigram_logprob — parallelize the explode
            .select("doc_id", F.explode(_bigram_structs(text_col)).alias("b"))
            .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count(F.lit(1)).alias("m"))
        )

    train_bg = register_cache(doc_bigrams(train_docs).persist(), cache_registry)
    pair_cnt = train_bg.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    prefix_cnt = train_bg.groupBy("w1").agg(F.sum("m").alias("c1"))
    train_tok = spread(train_docs).select(
        F.explode(tokens_col(text_col)).alias("token")
    )
    uni_cnt = train_tok.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    # train token total == Σ unigram counts: one tiny agg over the token
    # dim instead of a second full explode pass over the train corpus
    total = uni_cnt.agg(F.sum("cu").alias("n_total"))

    scored = (
        doc_bigrams(score_docs)
        .join(pair_cnt, on=["w1", "w2"], how="left")
        .join(prefix_cnt, on="w1", how="left")
        .join(uni_cnt.withColumnRenamed("token", "w2"), on="w2", how="left")
        .crossJoin(F.broadcast(total))
    )
    seen = F.col("c2").isNotNull() & F.col("c1").isNotNull()
    lp = F.when(
        seen, F.log(F.col("c2").cast("double") / F.col("c1"))
    ).otherwise(
        F.log(
            F.lit(alpha)
            * F.coalesce(F.col("cu"), F.lit(1)).cast("double")
            / F.col("n_total")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(lp * F.col("m")) / F.sum("m"), 4).alias("avg_bigram_logprob"),
        F.sum("m").alias("n_bigrams"),
        F.round(
            F.sum(F.when(~seen, F.col("m")).otherwise(F.lit(0))).cast("double")
            / F.sum("m"),
            4,
        ).alias("backoff_frac"),
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level LINE deduplication — the CCNet/RefinedWeb boilerplate
    remover (CCNet, Wenzek et al. LREC'20 §3.1: paragraph-hash dedup
    across shards; RefinedWeb repeats it line-wise): a line whose exact
    text appears in >= min_docs DISTINCT documents is boilerplate
    (headers, nav bars, cookie banners) and is dropped from EVERY doc;
    the surviving lines are reassembled in original order. This is the
    step that runs before doc-level near-dup in real corpus pipelines —
    boilerplate otherwise dominates MinHash signatures.

    Output: (doc_id, text, n_lines_kept, n_lines_dropped) — one row per
    input doc, empty text when every line was boilerplate.

    Scale shape: line explode is row-local; line identity travels as
    md5(line), so the count-distinct/boilerplate leg shuffles 16-byte
    digests — Catalyst prunes the text column out of that subtree —
    instead of full line text as the grouping key (boilerplate lines are
    long; key width is that leg's shuffle bill at 100 TB). The drop is a
    digest-keyed left-anti against the dimension-sized boilerplate set
    (probe rows carry text exactly once — reassembly needs it);
    reassembly is one doc-keyed groupBy with an array_sort over
    (idx, line) structs — NO window, no per-doc sort shuffle beyond the
    group itself."""
    from .cache import register_cache

    lines = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "line")
    ).withColumn("_lh", F.md5("line"))
    # the boilerplate-count leg AND the keep leg both consume the
    # exploded+hashed line table; without persist the explode + per-line
    # md5 (and whatever expression produced `text`) evaluate once per
    # leg. This frame IS the materialized line-digest table a CCNet-style
    # pipeline stores between stages; registered for release after the
    # consuming action (cache.py lifecycle).
    lines = register_cache(lines.persist())
    boiler = (
        lines.groupBy("_lh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("_lh")
    )
    kept = lines.join(boiler, on="_lh", how="left_anti").drop("_lh")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = docs.select(
        "doc_id", F.size(F.split(F.col(text_col), sep)).alias("_n_total")
    )
    return totals.join(reassembled, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
        (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
        .cast("long")
        .alias("n_lines_dropped"),
    )


def hash_mod_expr(key_col: str = "doc_id", mod: int = 100):
    """Engine-portable deterministic pseudo-random bucket in [0, mod):
    first 8 hex chars of md5(key) as an int, mod'ed. md5 is bit-identical
    in Spark and DuckDB, unlike xxhash64/hash() — the same portability
    rule as the dedup family."""
    return F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % mod


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    rate_pct: int = 10,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its md5-derived
    bucket < rate_pct — every stratum is sampled at the same rate with
    zero coordination (no count pass, no RNG state), the only sampling
    shape that works on 10^12 rows: embarrassingly parallel, reproducible
    across runs/engines/cluster sizes, and stable under re-partitioning
    (the keep decision depends only on the key). Returns the kept rows
    with their bucket (for audit)."""
    bucket = hash_mod_expr(key_col)
    return (
        docs.select(key_col, strata_col, bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < rate_pct)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an evaluation/benchmark set (the standard leakage gate
    before training). Output: (doc_id, matched_ngrams) for contaminated
    docs only.

    Scale shape: the benchmark side is tiny (eval sets are thousands of
    docs) — its DISTINCT shingles broadcast; the corpus side explodes
    shingles and inner-joins the broadcast, so cost is corpus-linear with
    NO shuffle of corpus rows (broadcast hash join), then one groupBy on
    the surviving (rare) matches."""
    bench_sh = benchmark.select(
        F.explode(shingles_col(text_col, n=n)).alias("shingle")
    ).distinct()
    # spread: a compacted single-file corpus sample would otherwise run
    # the whole shingle explode in ONE task (at 100 TB inputs arrive
    # pre-split and this repartition is a no-op to remove)
    doc_sh = spread(docs).select(
        "doc_id", F.explode(shingles_col(text_col, n=n)).alias("shingle")
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), on="shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("shingle")).alias("matched_ngrams"))
    )
