"""Vector similarity over the `embeddings` table (array<float> column).

- Brute-force cosine top-k: the correctness baseline.
- Sign-LSH bucketing: the scale path — 100 TB of vectors can't all-pairs;
  random-hyperplane signs bucket vectors so search touches one bucket.
  Hyperplanes are deterministic ±1 patterns (engine-portable, matching the
  DuckDB oracle) rather than RNG-dependent floats.
- Near-dup pairs: label-blocked cosine threshold — embedding-cosine
  near-duplicate detection for training-data dedup.

The hot 64-dim math runs in Arrow-vectorized numpy kernels (guide §4.2;
see the kernel block below for why neither JVM path can be fast here);
declarative zip_with+aggregate folds remain as the reference forms. All
math is double precision after widening the float32 input, with strictly
left-to-right summation in every implementation and both engines, so
results are bit-comparable with the oracle after rounding.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

# the embeddings file is one parquet row group: unspread, the per-vector
# math would run as ONE task
from .textops import spread

DIM = 64


def _dot(a, b):
    """JVM fold dot product (zip_with + aggregate). Kept for low-volume
    sites; the hot 64-dim paths use the Arrow kernels below — HOF lambdas
    are interpreted per element, and an unrolled 64-term expression blows
    the 64 KB Janino method limit inside whole-stage codegen (measured:
    the stage falls back to full interpretation, ~3x slower than the
    fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


# ---------------------------------------------------------------------------
# Arrow-vectorized exact kernels (guide §4.2): the per-row vector math is
# the dominant cost of every embedding operator, and neither JVM path can
# make it fast — HOF folds are interpreted per element, and unrolled
# 64-term expressions exceed the 64 KB Janino method limit inside
# whole-stage codegen (the stage then falls back to interpretation).
# These pandas UDFs hand whole Arrow batches to numpy and reproduce the
# fold's EXACT IEEE semantics: float32 inputs widen to float64 first
# (exact), products are elementwise, and the sum is accumulated strictly
# left-to-right starting from +0.0 via a column-wise vector loop — the
# same add order as `aggregate(zip_with(...), 0.0, acc + v)`, so results
# (and the DuckDB oracles) stay bit-identical. sqrt and division are
# correctly-rounded IEEE ops in both numpy and the JVM.


def _stack(s: pd.Series) -> np.ndarray:
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def _exact_rowsum(m: np.ndarray) -> np.ndarray:
    """Left-associative per-row sum starting at +0.0 — bit-identical to
    the Spark fold (64 vectorized adds, not numpy's pairwise sum)."""
    out = np.zeros(m.shape[0], dtype=np.float64)
    for j in range(m.shape[1]):
        out = out + m[:, j]
    return out


@F.pandas_udf(DoubleType())
def _dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    if not len(a):
        return pd.Series([], dtype="float64")
    return pd.Series(_exact_rowsum(_stack(a) * _stack(b)))


@F.pandas_udf(DoubleType())
def _cos_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """cosine = dot/(norm_a * norm_b), every op in fold-identical order."""
    if not len(a):
        return pd.Series([], dtype="float64")
    av, bv = _stack(a), _stack(b)
    d = _exact_rowsum(av * bv)
    na = np.sqrt(_exact_rowsum(av * av))
    nb = np.sqrt(_exact_rowsum(bv * bv))
    return pd.Series(d / (na * nb))


def _band_buckets_arrow(n_planes: int, bands: int = 1, plane_offset: int = 0):
    """Factory: pandas UDF computing every band's sign-LSH bucket in one
    Arrow crossing — array<int>, entry b = bucket of band b (planes
    b*n_planes..+n_planes-1 offset by plane_offset). Bit j of a bucket is
    [dot(v, plane) > 0] with the plane dot accumulated in fold order, so
    buckets match lsh_bucket_expr exactly."""
    planes = np.array(
        [
            plane_signs(plane_offset + b * n_planes + j)
            for b in range(bands)
            for j in range(n_planes)
        ],
        dtype=np.float64,
    )

    @F.pandas_udf(ArrayType(IntegerType()))
    def _f(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        av = _stack(v)
        buckets = np.zeros((len(av), bands), dtype=np.int32)
        for b in range(bands):
            for j in range(n_planes):
                d = _exact_rowsum(av * planes[b * n_planes + j])
                buckets[:, b] |= (d > 0).astype(np.int32) << j
        return pd.Series(list(buckets))

    return _f


@F.pandas_udf(ArrayType(DoubleType()))
def _normalize_arrow(v: pd.Series) -> pd.Series:
    """v / ||v|| with the norm's sum in fold order and one elementwise
    IEEE division per dim — bit-identical to
    transform(v, x -> cast(x as double) / norm)."""
    if not len(v):
        return pd.Series([], dtype=object)
    av = _stack(v)
    n = np.sqrt(_exact_rowsum(av * av))
    return pd.Series(list(av / n[:, None]))


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k vs one stored vector (broadcast the query:
    a 1-row cross join never shuffles the big side)."""
    q = embeddings.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        embeddings.where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cos_arrow(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def plane_signs(plane: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane, engine-portable: the sign
    of dim i in plane j derives from md5(f"{j}:{i}"). Computed ONCE on the
    driver and embedded as literals in both the Spark plan and the DuckDB
    oracle SQL, so every plane is genuinely independent. (The former
    arithmetic family ((i*7 + j*13) % 3 < 2) repeated with period 3 in j —
    planes j and j+3 were the SAME hyperplane, so an "8-plane" bucket had
    only 3 independent bits = 8 effective buckets, wrecking both recall
    math and bucket balance.)"""
    return [
        1.0 if hashlib.md5(f"{plane}:{i}".encode()).digest()[0] % 2 == 0 else -1.0
        for i in range(dim)
    ]


def lsh_bucket_expr(emb_col, n_planes: int = 4, plane_offset: int = 0):
    """Sign-LSH bucket id: bit j set iff dot(v, plane_{offset+j}) > 0.
    plane_offset selects a disjoint plane set per band (band stacking).
    JVM fold form, kept as the declarative reference; the operators below
    compute buckets through _band_buckets_arrow (same bits, one Arrow
    crossing instead of n_planes interpreted folds per row)."""
    bucket = F.lit(0)
    for j in range(n_planes):
        signs = F.array(*[F.lit(s) for s in plane_signs(plane_offset + j)])
        dot_j = _dot(emb_col, signs)
        bucket = bucket + F.when(dot_j > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_buckets(embeddings: DataFrame, n_planes: int = 4) -> DataFrame:
    """Bucket histogram: the IVF/LSH partitioning an ANN query would probe."""
    bucket = F.element_at(
        _band_buckets_arrow(n_planes)(F.col("embedding")), 1
    )
    return (
        embeddings.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
    )


def ann_lsh_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, n_planes: int = 4
) -> DataFrame:
    """ANN: probe only the query's LSH bucket, then exact cosine within it.
    At scale: bucket becomes the partition key (one-bucket scan)."""
    with_bucket = embeddings.withColumn(
        "bucket",
        F.element_at(_band_buckets_arrow(n_planes)(F.col("embedding")), 1),
    )
    q = with_bucket.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    candidates = with_bucket.join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    ).where(F.col("vec_id") != query_vec_id)
    scored = candidates.select(
        "vec_id",
        F.round(_cos_arrow(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def ann_lsh_topk_multiprobe(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, n_planes: int = 4
) -> DataFrame:
    """Multiprobe sign-LSH ANN: probe the query's bucket AND its
    n_planes Hamming-1 neighbors (flip one sign bit each) — the standard
    recall knob that trades one extra bucket scan per plane for the
    near-misses a single-bucket probe drops (vectors near a hyperplane
    land on either side). At scale: still a broadcast of (n_planes+1)
    probe rows against the bucket-partitioned table — the scan touches
    (n_planes+1)/2^n_planes of the data, never all of it."""
    with_bucket = embeddings.withColumn(
        "bucket",
        F.element_at(_band_buckets_arrow(n_planes)(F.col("embedding")), 1),
    )
    q = with_bucket.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    probes = q.select(
        "qv",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    candidates = with_bucket.join(F.broadcast(probes), on="bucket").where(
        F.col("vec_id") != query_vec_id
    )
    scored = candidates.select(
        "vec_id",
        F.round(_cos_arrow(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def ivf_assign(
    embeddings: DataFrame, n_centroids: int = 8
) -> DataFrame:
    """IVF-style partition assignment: each vector joins its nearest
    centroid (deterministic centroids = the first K stored vectors;
    kmeans_refine below runs the real Lloyd build step — the ASSIGNMENT
    plan is identical either way).

    At 100 TB this is the ANN partitioner: vectors land in centroid-keyed
    partitions and queries probe one (or few) partitions. Plan shape:
    broadcast K centroids x fact side, per-row argmin — no shuffle of the
    vectors themselves."""
    return (
        ivf_assignments(embeddings, n_centroids)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )


def ivf_assignments(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Per-vector nearest-centroid assignment (vec_id, centroid_id,
    embedding) — the IVF partitioning used by both the build-side
    histogram (ivf_assign) and the query-side probe (ivf_topk).

    argmin via max_by over (sim, -centroid_id) — a hash aggregate with
    map-side partial combine. (A row_number window would shuffle AND sort
    the K-times-expanded frame; the agg shuffles at most one partial row
    per (vec_id, partition) — the difference between sort-based and
    hash-based top-1 at 100 TB.) Tie-break: highest sim, then lowest
    centroid id — identical to the previous window ordering."""
    cents = embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    scored = spread(embeddings).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(_cos_arrow(F.col("embedding"), F.col("cv")), 4).alias("sim"),
    )
    best = F.max_by(
        F.struct(F.col("centroid_id"), F.col("embedding")),
        F.struct(F.col("sim"), (-F.col("centroid_id")).alias("neg_cid")),
    )
    return (
        scored.groupBy("vec_id")
        .agg(best.alias("_m"))
        .select("vec_id", F.col("_m.embedding").alias("embedding"),
                F.col("_m.centroid_id").alias("centroid_id"))
    )


def kmeans_refine(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """One full Lloyd (k-means) iteration entirely in DataFrame ops — the
    real IVF BUILD step ivf_assign's docstring defers to: seed with the
    first K vectors, assign (broadcast centroids, per-row argmax cosine),
    recompute centroids as per-dimension means, re-assign against the
    refined centroids. Returns (centroid_id, cluster_size) of the refined
    partitioning.

    Scale shape (10^12 vectors): assignment never shuffles the vectors
    (K-row broadcast + hash-agg argmax, see ivf_assignments); the mean
    recompute is a posexplode to (centroid, dim) rows — dim*n rows but
    partial-aggregated map-side, so the shuffle carries only
    K*dim*n_partitions partial sums; array re-assembly is one K*dim-row
    groupBy. Additional Lloyd iterations repeat the same two stages.
    Means are rounded to 4 decimals BEFORE the re-assign: double summation
    order differs across engines/partitionings, and the rounding pins the
    refined centroids so the oracle's dot products are bit-identical."""
    a0 = ivf_assignments(embeddings, n_centroids)
    means = (
        a0.select("centroid_id", F.posexplode(F.col("embedding")).alias("dim", "val"))
        .groupBy("centroid_id", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("mval"))
    )
    cents = means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mval"))),
            lambda s: s["mval"],
        ).alias("cv")
    )
    scored = spread(embeddings).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(_cos_arrow(F.col("embedding"), F.col("cv")), 4).alias("sim"),
    )
    best = F.max_by(
        F.col("centroid_id"),
        F.struct(F.col("sim"), (-F.col("centroid_id")).alias("neg_cid")),
    )
    return (
        scored.groupBy("vec_id")
        .agg(best.alias("centroid_id"))
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search (query half of ivf_assign): probe only the nprobe
    centroids nearest the query, exact cosine within their clusters. At
    100 TB the assignment is the table's partition key, so this plan scans
    nprobe/n_centroids of the data — the whole point of IVF."""
    assigned = ivf_assignments(embeddings, n_centroids)
    q = embeddings.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    cents = embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            F.round(_cos_arrow(F.col("cv"), F.col("qv")), 4).alias("qsim"),
        )
        .orderBy(F.desc("qsim"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe), on="centroid_id").where(
        F.col("vec_id") != query_vec_id
    )
    scored = candidates.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(_cos_arrow(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    bands: int = 1,
    extra_cols: tuple[str, ...] = (),
    cache_registry: list | None = None,
) -> DataFrame:
    """Embedding near-dup via stacked sign-LSH bands — the 100 TB path:
    candidate pairs come from equi-joins on (band, bucket) — never
    all-pairs — then exact cosine filters.

    Band stacking (OR-construction, same knob as the text MinHash b×r in
    textops.py): each band uses a DISJOINT set of n_planes hyperplanes
    (plane_offset = band * n_planes); a pair is a candidate if it collides
    in ANY band, and duplicates across bands are dropped with one distinct.
    Recall at similarity cos=s: 1 - (1 - (1 - theta/pi)^planes)^bands with
    theta = acos(s) — e.g. at cos>=0.9 an 8-plane band catches ~29%, two
    bands ~50%, four ~75%; at cos>=0.99 one band already catches ~81%.
    Extra compute is linear in bands (one more explode row + equi-join
    probe per band), never quadratic.

    extra_cols are carried through to the output as <col>_a / <col>_b —
    the label post-filter path for blocked variants without a re-join.
    """
    # normalize ONCE per vector: cosine of candidates is then a single
    # dot per pair instead of dot + two norms. Both the normalized vector
    # and every band's bucket come from the Arrow kernels — one vectorized
    # numpy pass each, exact fold semantics (see the kernel block above).
    base = spread(embeddings).select(
        "vec_id",
        *extra_cols,
        _normalize_arrow(F.col("embedding")).alias("nv"),
        _band_buckets_arrow(n_planes, bands)(F.col("embedding")).alias("_bb"),
    )
    t = base.select(
        "vec_id",
        *extra_cols,
        "nv",
        F.posexplode(F.col("_bb")).alias("band", "bucket"),
    ).persist()
    # ^ the self-join references the normalized+bucketed frame twice and
    # Spark re-evaluates per reference (norms + bands recomputed). Persist
    # = the materialized LSH-index pattern; at 100 TB this frame IS a
    # bucketed table on disk, built once per corpus snapshot. Registered
    # for release after the consuming action (cache.py lifecycle).
    from .cache import register_cache

    t = register_cache(t, cache_registry)
    a, b = t.alias("a"), t.alias("b")
    cos = F.round(_dot_arrow(F.col("a.nv"), F.col("b.nv")), 4)
    out_cols = [
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in extra_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in extra_cols],
        cos.alias("cos_sim"),
    ]
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(*out_cols)
        .where(F.col("cos_sim") >= threshold)
        # a pair colliding in several bands appears once (cos_sim is
        # deterministic per pair, so distinct-on-all-columns == pair dedup)
        .distinct()
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    n_planes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pair counts per block. Candidates are
    delegated to the stacked-band LSH generator (block_col rides along as
    a carried column and filters AFTER candidate generation) — the former
    label-blocked all-pairs self-join melted at ~n^2/|labels| pairs; this
    plan is bucket-equi-join-bounded like every other near-dup operator."""
    cand = near_dup_pairs_lsh(
        embeddings, threshold, n_planes, bands, extra_cols=(block_col,)
    )
    return (
        cand.where(F.col(f"{block_col}_a") == F.col(f"{block_col}_b"))
        .groupBy(F.col(f"{block_col}_a").alias(block_col))
        .agg(F.count(F.lit(1)).alias("near_dup_pairs"))
    )


def _l2(a, b, dim: int = DIM):
    """Squared euclidean distance between two fixed-length arrays —
    unrolled left-associative sum, bit-identical to the former
    zip_with+aggregate fold (same term order, no casts, leading +0.0),
    codegen'd instead of interpreted (see _dot)."""
    s = F.lit(0.0)
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        s = s + d * d
    return s


def pq_subvector(emb_col, j: int, sub_dim: int):
    """Subspace j's slice of an embedding (1-based F.slice)."""
    return F.transform(
        F.slice(emb_col, j * sub_dim + 1, sub_dim), lambda x: x.cast("double")
    )


def pq_codebooks(embeddings: DataFrame, m: int = 4, k: int = 8,
                 dim: int = 64) -> DataFrame:
    """Per-subspace PQ codebooks (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): the embedding splits into m
    subvectors of dim/m; each subspace gets k centroids. Seeding: the
    first k vectors' subvectors (the same deterministic seed rule as the
    IVF family; production training iterates kmeans_refine's Lloyd step
    per subspace — identical plan shape, orthogonal to the encode/search
    mechanics pinned here). Output: (subspace, code, cv)."""
    sub = dim // m
    parts = []
    for j in range(m):
        parts.append(
            embeddings.where(F.col("vec_id") < k).select(
                F.lit(j).alias("subspace"),
                F.col("vec_id").cast("int").alias("code"),
                pq_subvector(F.col("embedding"), j, sub).alias("cv"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_codes(embeddings: DataFrame, m: int = 4, k: int = 8,
             dim: int = 64) -> DataFrame:
    """PQ ENCODE: each vector becomes m small codes — the nearest
    codebook centroid (squared L2) per subspace. 64 floats become 4
    bytes here; at 10^12 vectors this 64x compression is what lets an
    ANN index fit in memory at all.

    Scale shape: codebooks are a broadcast (m*k rows); the argmin per
    (vector, subspace) is a max_by hash aggregate over the broadcast
    join (vectors never shuffle); codes pivot back to one row per vector
    via a second hash aggregate on vec_id. No windows, no cartesian
    (the broadcast nested loop is the k-row codebook side)."""
    sub = dim // m
    books = pq_codebooks(embeddings, m, k, dim)
    subvecs = spread(embeddings).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        pq_subvector(F.col("embedding"), j, sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.subspace").alias("subspace"), F.col("s.sv").alias("sv"))
    scored = subvecs.join(F.broadcast(books), on="subspace").select(
        "vec_id",
        "subspace",
        "code",
        F.round(_l2(F.col("sv"), F.col("cv"), sub), 4).alias("d2"),
    )
    best = scored.groupBy("vec_id", "subspace").agg(
        F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias("code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_adc_topk(embeddings: DataFrame, query_vec_id: int = 0, k_top: int = 10,
                m: int = 4, k: int = 8, dim: int = 64) -> DataFrame:
    """PQ SEARCH with Asymmetric Distance Computation: the query stays
    exact; each database vector's distance is approximated as the sum of
    per-subspace lookup-table entries d_j[code_j] (L2 from the query's
    subvector to the centroid the vector was encoded to).

    Scale shape: the lookup table is m*k rows — broadcast; the scan
    touches only each vector's m CODES (4 ints, not 64 floats): at
    10^12 vectors ADC reads the compressed index, never the raw
    embeddings — the entire point of PQ. One broadcast join + one
    per-vector sum, top-k at the end."""
    sub = dim // m
    books = pq_codebooks(embeddings, m, k, dim)
    q = embeddings.where(F.col("vec_id") == query_vec_id).select(
        *[
            pq_subvector(F.col("embedding"), j, sub).alias(f"q{j}")
            for j in range(m)
        ]
    )
    # distance lookup table: (subspace, code) -> d2 to the query subvec
    qsub = F.array(*[F.col(f"q{j}") for j in range(m)])
    lut = books.crossJoin(F.broadcast(q)).select(
        "subspace",
        "code",
        F.round(
            _l2(F.col("cv"), F.element_at(qsub, F.col("subspace") + 1), sub), 4
        ).alias("d2"),
    )
    codes = pq_codes(embeddings, m, k, dim).where(F.col("vec_id") != query_vec_id)
    exploded = codes.select(
        "vec_id", F.posexplode(F.col("codes")).alias("subspace", "code")
    )
    # subspace-ORDERED fold, not F.sum: double addition is non-
    # associative and group aggregation order is nondeterministic — the
    # ordered fold makes the 4-term sum bit-identical across engines
    approx = (
        exploded.join(F.broadcast(lut), on=["subspace", "code"])
        .groupBy("vec_id")
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("subspace", "d2"))),
                        lambda s: s["d2"],
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                4,
            ).alias("approx_d2")
        )
    )
    return approx.orderBy(F.asc("approx_d2"), F.asc("vec_id")).limit(k_top)
