"""Driver-contract query catalog: every SURVEY.md §2 operator (plus the
training-data ops) as a named (Spark query, DuckDB oracle SQL) pair over
the driver's deterministic tables (TESTDATA.md).

Cross-engine determinism rules used throughout:
- counts stay integer; money/double sums become integer cents
  (SUM of doubles is partition-order dependent in the last bits — integer
  sums are exact and engine-identical);
- doubles produced row-locally (ratios, cosine) are fine: the arithmetic
  is sequential within a row in both engines; rounded to 4 decimals;
- hashes use md5 (bit-identical in Spark and DuckDB), never engine-private
  hash()/xxhash64;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.aggregate import bucket_index_expr, edge_metrics
from .operators.dedup import dedup_within_refresh_window
from .operators.routing import route_fanout, with_shard_id
from .operators.similarity import (
    cosine_topk,
    lsh_buckets,
    near_dup_pairs,
)
from .operators.textops import (
    exact_dedup,
    fingerprints,
    language_id,
    minhash_lsh_buckets,
    ngram_jaccard_pairs,
    quality_scores,
    simhash16,
    token_counts,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# §2.2 projections / filters / expression transforms


def q_p2_condition_filter(spark, sf):
    """P2: mapping condition cascade as a pushed-down filter."""
    return (
        _t(spark, sf, "events")
        .where((F.col("event_type") == "error") & (F.col("value") > 100))
        .select("event_id", "user_id", "ts", "value")
    )


SQL_P2 = """
SELECT event_id, user_id, ts, value FROM events
WHERE event_type = 'error' AND value > 100
"""


def q_p3_expression_transform(spark, sf):
    """P3: compiled column expressions (the CEL-replacement surface)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.upper("event_type").alias("event_type_uc"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("user_tag"),
        F.round(F.col("value") * 2, 2).alias("value_x2"),
        F.when(F.col("value") > 100, "hot").otherwise("cold").alias("heat"),
    )


SQL_P3 = """
SELECT event_id,
       upper(event_type) AS event_type_uc,
       'user-' || CAST(user_id AS VARCHAR) AS user_tag,
       round(value * 2, 2) AS value_x2,
       CASE WHEN value > 100 THEN 'hot' ELSE 'cold' END AS heat
FROM events
"""


def q_p7_component_projection(spark, sf):
    """P7: URN component projection (mapping.go:36-157 shape)."""
    return (
        _t(spark, sf, "events")
        .where(F.col("event_type") == "signup")
        .select(
            F.concat(F.lit("urn:event:user/"), F.col("user_id").cast("string")).alias(
                "external_id"
            ),
            F.col("user_id").cast("string").alias("name"),
            F.lit("user").alias("type_name"),
        )
        .dropDuplicates(["external_id"])
    )


SQL_P7 = """
SELECT DISTINCT 'urn:event:user/' || CAST(user_id AS VARCHAR) AS external_id,
       CAST(user_id AS VARCHAR) AS name,
       'user' AS type_name
FROM events WHERE event_type = 'signup'
"""


def q_p8_relation_projection(spark, sf):
    """P8: relation projection with concat external id + dependency enum."""
    e = _t(spark, sf, "events").where(F.col("event_type").isin("purchase", "signup"))
    src = F.concat(F.lit("urn:user/"), F.col("user_id").cast("string"))
    tgt = F.concat(F.lit("urn:type/"), F.col("event_type"))
    return e.select(
        F.concat_ws("-", src, tgt).alias("external_id"),
        src.alias("source_identifier"),
        tgt.alias("target_identifier"),
        F.lit("emits").alias("type_name"),
        F.lit("CONNECTION").alias("dependency_type"),
    ).dropDuplicates(["external_id"])


SQL_P8 = """
SELECT DISTINCT
       'urn:user/' || CAST(user_id AS VARCHAR) || '-' || 'urn:type/' || event_type AS external_id,
       'urn:user/' || CAST(user_id AS VARCHAR) AS source_identifier,
       'urn:type/' || event_type AS target_identifier,
       'emits' AS type_name,
       'CONNECTION' AS dependency_type
FROM events WHERE event_type IN ('purchase', 'signup')
"""


def q_p11_json_body_extract(spark, sf):
    """P11/log-body parse: JSON attr extraction + stringification."""
    return _t(spark, sf, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").alias("prop_k"),
    )


SQL_P11 = """
SELECT event_id, json_extract_string(props, '$.k') AS prop_k FROM events
"""


def q_p15_usage_bytes(spark, sf):
    """P15/A10: usage metering — serialized bytes per stream."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.octet_length("props")).alias("usage_bytes"),
            F.count(F.lit(1)).alias("record_count"),
        )
    )


SQL_P15 = """
SELECT event_type,
       CAST(SUM(strlen(props)) AS BIGINT) AS usage_bytes,
       COUNT(*) AS record_count
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# §2.5 dedup


def q_d1_dedup_first_wins(spark, sf):
    """D1: projection-key dedup, first-by-time wins. min_by over
    struct(ts, event_id) — a partial-mergeable hash aggregate (map-side
    combine, ONE shuffle of pre-reduced groups) instead of the
    row_number window that would sort every group's rows; same trick as
    apply_dedup_keep_best (textops.py). Struct comparison is
    lexicographic, so (ts, event_id) ties break exactly like the old
    ORDER BY ts, event_id."""
    e = _t(spark, sf, "events")
    win = F.min_by(
        F.struct("event_id", "ts"), F.struct("ts", "event_id")
    )
    return (
        e.groupBy("user_id", "event_type")
        .agg(win.alias("_w"))
        .select(
            F.col("_w.event_id").alias("event_id"),
            "user_id",
            "event_type",
            F.col("_w.ts").alias("ts"),
        )
    )


SQL_D1 = """
SELECT event_id, user_id, event_type, ts FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


def q_d3_refresh_window_dedup(spark, sf):
    """D3: TTL-refresh dedup — one survivor per (key, refresh window)."""
    e = _t(spark, sf, "events")
    out = dedup_within_refresh_window(
        e, ["user_id", "event_type"], ts_col="ts", ttl_seconds=900, refresh_fraction=0.5,
        order_col="event_id",
    )
    return out.select("event_id", "user_id", "event_type", "ts")


SQL_D3 = """
SELECT event_id, user_id, event_type, ts FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type, CAST(floor(epoch(ts)/450) AS BIGINT)
  ORDER BY event_id, ts, user_id, event_type, value, props) = 1
"""


def q_d4_settings_diff(spark, sf):
    """D4: snapshot diff as anti-join — first-day users absent on the last day."""
    e = _t(spark, sf, "events")
    bounds = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    early = (
        e.crossJoin(F.broadcast(bounds))
        .where(F.col("ts") < F.col("lo") + F.expr("INTERVAL 1 DAY"))
        .select("user_id")
        .distinct()
    )
    late = (
        e.crossJoin(F.broadcast(bounds))
        .where(F.col("ts") >= F.col("hi") - F.expr("INTERVAL 1 DAY"))
        .select("user_id")
        .distinct()
    )
    return early.join(late, on="user_id", how="left_anti")


SQL_D4 = """
WITH b AS (SELECT min(ts) lo, max(ts) hi FROM events),
early AS (SELECT DISTINCT user_id FROM events, b WHERE ts < lo + INTERVAL 1 DAY),
late  AS (SELECT DISTINCT user_id FROM events, b WHERE ts >= hi - INTERVAL 1 DAY)
SELECT user_id FROM early WHERE user_id NOT IN (SELECT user_id FROM late)
"""


def q_d5_resource_content_hash(spark, sf):
    """D5/K4: content-addressed resource dedup via md5 (ResourceRef)."""
    e = _t(spark, sf, "events")
    ref = F.md5(F.concat_ws("|", F.col("user_id").cast("string"), F.col("event_type")))
    return (
        e.select(ref.alias("resource_ref"))
        .groupBy("resource_ref")
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )


SQL_D5 = """
SELECT md5(CAST(user_id AS VARCHAR) || '|' || event_type) AS resource_ref,
       COUNT(*) AS ref_count
FROM events GROUP BY 1
"""


def q_dedup_exact(spark, sf):
    """Exact text dedup over documents (hash-groupBy)."""
    return exact_dedup(_t(spark, sf, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS dup_count, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark, sf):
    """n-gram Jaccard near-dup pairs, candidates from MinHash-LSH buckets
    (never all-pairs — the 100 TB shape); oracle mirrors the bucket
    restriction."""
    return ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.5)


# shared candidate-pair CTE body (also the edge source for the
# connected-components groups oracle below)
_NGRAM_SIG_CTES = """t AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(lower(text),' '))),
                       i -> string_split(lower(text),' ')[i] || ' ' || string_split(lower(text),' ')[i+1])) AS sh
  FROM documents
), sigs AS (
  -- r=2 rows/band: chunks 2b and 2b+1; chunks 0-3 slice md5(s),
  -- chunks 4-7 slice md5('r2:'||s); band value = concat of the two minima
  SELECT doc_id, b.band,
         list_min(list_transform(sh, s -> CASE WHEN 2*b.band < 4
             THEN substr(md5(s), 1 + 8*CAST(2*b.band AS INT), 8)
             ELSE substr(md5('r2:'||s), 1 + 8*CAST(2*b.band - 4 AS INT), 8) END))
         ||
         list_min(list_transform(sh, s -> CASE WHEN 2*b.band + 1 < 4
             THEN substr(md5(s), 1 + 8*CAST(2*b.band + 1 AS INT), 8)
             ELSE substr(md5('r2:'||s), 1 + 8*CAST(2*b.band - 3 AS INT), 8) END))
         AS bucket
  FROM t, (SELECT unnest(range(0, 4)) AS band) b
)"""

# exact-Jaccard verification applied to whatever `cand` CTE precedes it
_NGRAM_VERIFY_CTE = """pairs AS (
  SELECT da AS doc_a, db AS doc_b,
         round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(ta.sh, tb.sh))), 4) AS jaccard
  FROM cand JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db
  WHERE round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(ta.sh, tb.sh))), 4) >= 0.5
)"""

_NGRAM_PAIRS_CTES = _NGRAM_SIG_CTES + """, cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
), """ + _NGRAM_VERIFY_CTE

SQL_NGRAM_JACCARD = (
    "WITH " + _NGRAM_PAIRS_CTES + "\nSELECT doc_a, doc_b, jaccard FROM pairs"
)


def q_incremental_dedup(spark, sf):
    """Per-ingest-batch dedup: the 'new' batch (doc_id%5=0) deduped
    against the indexed corpus (the rest) — candidates are (corpus x new)
    ∪ (new x new), never corpus x corpus; per-ingest cost scales with the
    batch, not the corpus."""
    from .operators.textops import incremental_near_dup

    docs = _t(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return incremental_near_dup(new, corpus)


SQL_INCREMENTAL_DEDUP = (
    "WITH " + _NGRAM_SIG_CTES + """, cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bucket = b.bucket
  WHERE (a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0)
     OR (a.doc_id % 5 = 0 AND b.doc_id % 5 = 0 AND a.doc_id < b.doc_id)
), """ + _NGRAM_VERIFY_CTE + """
SELECT doc_b AS new_doc_id, doc_a AS dup_of, jaccard FROM pairs
"""
)


def q_repetition_stats(spark, sf):
    """Gopher-style repetition filters: duplicate-word / top-word /
    duplicate-bigram fractions + keep verdict, all row-local HOFs (zero
    shuffles — the scan-bound quality gate before dedup). spread() here
    only splits the compacted single-file sample; the operator itself
    stays shuffle-free (plan-gated)."""
    from .operators.textops import repetition_stats, spread

    return repetition_stats(spread(_t(spark, sf, "documents")))


SQL_REPETITION_STATS = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         len(list_distinct(toks)) AS u,
         list_max(list_transform(list_distinct(toks),
                  d -> len(list_filter(toks, t2 -> t2 = d)))) AS top,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bg
  FROM t
)
SELECT doc_id, n AS n_tokens,
       round(1.0 - CAST(u AS DOUBLE) / n, 4) AS dup_word_frac,
       round(CAST(top AS DOUBLE) / n, 4) AS top_word_frac,
       CASE WHEN len(bg) > 0
            THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
            ELSE 0.0 END AS dup_bigram_frac,
       (round(CAST(top AS DOUBLE) / n, 4) <= 0.1
        AND CASE WHEN len(bg) > 0
             THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
             ELSE 0.0 END <= 0.75) AS keep
FROM s
"""


def q_tfidf_top_terms(spark, sf):
    """Corpus TF-IDF top term per doc: two partial-agg groupBys, a
    token-keyed equi-join (AQE handles Zipf skew), a 1-row N broadcast,
    and a min_by hash-agg argmax — no windows, no all-pairs."""
    from .operators.textops import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"))


SQL_TFIDF_TOP_TERMS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
  FROM tf JOIN df USING (token), n
)
SELECT doc_id, token AS top_term, tf, df, tfidf FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) = 1
"""


def q_quality_gate(spark, sf):
    """Composed webtext filter chain (C4/Gopher-style): ordered rules,
    first failing rule logged as reject_reason — the filter-audit output
    of a training-data pipeline. Row-local HOFs; spread() only splits the
    compacted single-file sample."""
    from .operators.textops import quality_gate, spread

    return quality_gate(spread(_t(spark, sf, "documents")))


SQL_QUALITY_GATE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_max(list_transform(list_distinct(toks),
                  d -> len(list_filter(toks, t2 -> t2 = d)))) AS top,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bg,
         len(list_filter(toks, t2 -> t2 IN ('the','and','of','with','from'))) AS stop
  FROM t
), r AS (
  SELECT doc_id,
         CASE
           WHEN n < 16 THEN 'too_short'
           WHEN round(CAST(top AS DOUBLE) / n, 4) > 0.1 THEN 'repetitive_top_word'
           WHEN (CASE WHEN len(bg) > 0
                 THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
                 ELSE 0.0 END) > 0.75 THEN 'repetitive_bigrams'
           WHEN round(CAST(stop AS DOUBLE) / n, 4) < 0.01 THEN 'low_stopword'
         END AS reject_reason
  FROM s
)
SELECT doc_id, reject_reason IS NULL AS keep, reject_reason FROM r
"""


def q_unigram_logprob(spark, sf):
    """CCNet-style unigram LM quality score: per-doc mean ln P(token)
    under the corpus unigram MLE — one explode feeding the freq table
    (partial-agg groupBy + AQE skew-join) and the per-doc mean."""
    from .operators.textops import unigram_logprob

    return unigram_logprob(_t(spark, sf, "documents"))


SQL_UNIGRAM_LOGPROB = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
), freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
), tot AS (SELECT count(*) AS total FROM tok),
s AS (
  SELECT doc_id, ln(CAST(cnt AS DOUBLE) / total) AS lp
  FROM tok JOIN freq USING (token), tot
)
SELECT doc_id, round(avg(lp), 4) AS avg_logprob,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM s GROUP BY doc_id
"""


def q_bigram_logprob(spark, sf):
    """Order-2 LM quality score: per-doc mean ln P(w_i | w_{i-1}) under
    the corpus bigram MLE — one bigram explode feeding pair + prefix
    counts (partial-agg groupBys, AQE skew-join), no smoothing needed
    (self-corpus scoring: every bigram is seen)."""
    from .operators.textops import bigram_logprob

    return bigram_logprob(_t(spark, sf, "documents"))


SQL_BIGRAM_LOGPROB = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
  FROM t WHERE len(toks) >= 2
), p AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS m FROM p GROUP BY 1, 2, 3
), pair_cnt AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c2 FROM doc_bg GROUP BY 1, 2
), prefix_cnt AS (
  SELECT w1, CAST(SUM(m) AS BIGINT) AS c1 FROM doc_bg GROUP BY 1
)
SELECT d.doc_id,
       round(SUM(ln(CAST(c2 AS DOUBLE) / c1) * m) / SUM(m), 4)
         AS avg_bigram_logprob,
       CAST(SUM(m) AS BIGINT) AS n_bigrams
FROM doc_bg d JOIN pair_cnt USING (w1, w2) JOIN prefix_cnt USING (w1)
GROUP BY d.doc_id
"""


def q_bigram_backoff_scored(spark, sf):
    """Held-out LM scoring (CCNet filter shape): docs split by md5 bucket
    into a TRAIN corpus (bucket < 80) that builds the bigram LM and a
    disjoint SCORE batch (bucket >= 80) scored under Stupid Backoff —
    unseen bigrams take alpha * unigram, OOV takes the alpha/N floor.
    backoff_frac pins the seen/unseen join logic cross-engine."""
    from .operators.textops import bigram_logprob_scored, hash_mod_expr

    docs = _t(spark, sf, "documents")
    bucket = hash_mod_expr("doc_id", 100)
    return bigram_logprob_scored(
        docs.where(bucket < 80), docs.where(bucket >= 80)
    )


SQL_BIGRAM_BACKOFF_SCORED = """
WITH split AS (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
              AS bucket
  FROM documents
), t_train AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM split WHERE bucket < 80
), t_score AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM split WHERE bucket >= 80
), bg_train AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        FROM t_train WHERE len(toks) >= 2)
), train_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg_train GROUP BY 1, 2, 3
), pair_cnt AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c2 FROM train_bg GROUP BY 1, 2
), prefix_cnt AS (
  SELECT w1, CAST(SUM(m) AS BIGINT) AS c1 FROM train_bg GROUP BY 1
), uni_cnt AS (
  SELECT tok AS w2, COUNT(*) AS cu
  FROM (SELECT unnest(toks) AS tok FROM t_train) GROUP BY 1
), total AS (
  SELECT COUNT(*) AS n_total
  FROM (SELECT unnest(toks) AS tok FROM t_train)
), score_bg AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        FROM t_score WHERE len(toks) >= 2)
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS m FROM score_bg GROUP BY 1, 2, 3
), j AS (
  SELECT d.doc_id, d.m,
         (p.c2 IS NOT NULL AND x.c1 IS NOT NULL) AS seen,
         CASE WHEN p.c2 IS NOT NULL AND x.c1 IS NOT NULL
              THEN ln(CAST(p.c2 AS DOUBLE) / x.c1)
              ELSE ln(0.4 * CAST(COALESCE(u.cu, 1) AS DOUBLE) / t.n_total)
         END AS lp
  FROM doc_bg d
  LEFT JOIN pair_cnt p USING (w1, w2)
  LEFT JOIN prefix_cnt x USING (w1)
  LEFT JOIN uni_cnt u USING (w2)
  CROSS JOIN total t
)
SELECT doc_id,
       round(SUM(lp * m) / SUM(m), 4) AS avg_bigram_logprob,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       round(SUM(CASE WHEN NOT seen THEN m ELSE 0 END) * 1.0 / SUM(m), 4)
         AS backoff_frac
FROM j GROUP BY doc_id
"""


def q_ccnet_buckets(spark, sf):
    """CCNet's head/middle/tail LM-quality bucketing (Wenzek et al.
    LREC'20 §3.3): per-doc bigram-LM scores split at the exact tercile
    thresholds — head = most fluent third, tail = least. Thresholds are
    exact interpolated percentiles (R-7 in both engines); at 100 TB the
    same plan swaps percentile for percentile_approx (documented in the
    operator family). Counts per (lang, bucket) keep the compare
    compact and pin the threshold comparisons."""
    from .operators.textops import bigram_logprob

    docs = _t(spark, sf, "documents")
    scored = bigram_logprob(docs).join(
        docs.select("doc_id", "lang"), on="doc_id"
    )
    th = scored.agg(
        F.percentile("avg_bigram_logprob", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("avg_bigram_logprob", F.lit(2.0 / 3)).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_bigram_logprob") < F.col("t1"), "tail")
        .when(F.col("avg_bigram_logprob") < F.col("t2"), "middle")
        .otherwise("head")
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_CCNET_BUCKETS = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        FROM t WHERE len(toks) >= 2)
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg GROUP BY 1, 2, 3
), pair_cnt AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c2 FROM doc_bg GROUP BY 1, 2
), prefix_cnt AS (
  SELECT w1, CAST(SUM(m) AS BIGINT) AS c1 FROM doc_bg GROUP BY 1
), scored AS (
  SELECT d.doc_id,
         round(SUM(ln(CAST(c2 AS DOUBLE) / c1) * m) / SUM(m), 4) AS s
  FROM doc_bg d JOIN pair_cnt USING (w1, w2) JOIN prefix_cnt USING (w1)
  GROUP BY d.doc_id
), th AS (
  SELECT quantile_cont(s, 1.0/3) AS t1, quantile_cont(s, 2.0/3) AS t2
  FROM scored
)
SELECT doc.lang,
       CASE WHEN s < t1 THEN 'tail'
            WHEN s < t2 THEN 'middle'
            ELSE 'head' END AS bucket,
       COUNT(*) AS n_docs
FROM scored JOIN documents doc USING (doc_id) CROSS JOIN th
GROUP BY 1, 2
"""


def q_line_dedup(spark, sf):
    """CCNet-style corpus line dedup: documents are re-lined into 8-token
    lines (deterministic in both engines), then every line appearing in
    >= 2 distinct docs (boilerplate) is dropped from all of them and the
    survivors reassemble in order. Digest keeps the compare compact."""
    from .operators.textops import line_dedup, spread

    # spread BEFORE the relining expression: the transform/slice re-lining
    # is the expensive part and would otherwise evaluate inside the
    # one-task scan of the single-row-group documents file
    docs = spread(_t(spark, sf, "documents").select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    out = line_dedup(docs.select("doc_id", lined.alias("text")), min_docs=2)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_digest"),
        "n_lines_kept",
        "n_lines_dropped",
    )


SQL_LINE_DEDUP = """
WITH lined AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                          i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ')),
           chr(10)) AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), lines AS (
  SELECT doc_id, ord - 1 AS idx, line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
               generate_subscripts(string_split(text, chr(10)), 1) AS ord
        FROM lined)
), boiler AS (
  SELECT line
  FROM (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY 1)
  WHERE nd >= 2
), kept AS (
  SELECT l.doc_id, l.idx, l.line FROM lines l ANTI JOIN boiler b USING (line)
), reass AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
         COUNT(*) AS n_lines_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       md5(COALESCE(r.text, '')) AS text_digest,
       CAST(COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(len(string_split(d.text, chr(10))) - COALESCE(r.n_lines_kept, 0)
            AS BIGINT) AS n_lines_dropped
FROM lined d LEFT JOIN reass r USING (doc_id)
"""


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling: keep a doc iff its md5-derived
    bucket < rate — reproducible across engines/runs/partitionings, zero
    coordination (the only sampling shape that works at 10^12 rows)."""
    from .operators.textops import stratified_sample

    return stratified_sample(_t(spark, sf, "documents"), rate_pct=10)


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, sample_bucket FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS sample_bucket
  FROM documents
) WHERE sample_bucket < 10
"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination: flag training docs sharing any word
    trigram with the held-out eval set (docs with doc_id % 97 = 0 stand in
    for the benchmark). Broadcast the tiny benchmark shingle set; corpus
    side never shuffles."""
    from .operators.textops import decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.where((F.col("doc_id") % 97) == 0)
    return decontaminate(docs.where((F.col("doc_id") % 97) != 0), bench, n=3)


SQL_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
)
SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS matched_ngrams
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


def q_near_dup_groups(spark, sf):
    """Connected-components grouping over the LSH near-dup pair graph:
    every paired doc -> min doc_id of its component (keep the rep, drop
    the rest). Spark runs hash-to-min connected components; the oracle
    computes the same min-reachable label with a recursive CTE."""
    from .operators.textops import near_dup_groups

    return near_dup_groups(_t(spark, sf, "documents"))


_NEAR_DUP_GROUPS_CTES = (
    "WITH RECURSIVE " + _NGRAM_PAIRS_CTES + """
, edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), verts AS (
  SELECT DISTINCT src AS doc_id FROM edges
), reach(v, r) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
), groups AS (
  SELECT v AS doc_id, MIN(r) AS group_rep FROM reach GROUP BY v
)"""
)

SQL_NEAR_DUP_GROUPS = _NEAR_DUP_GROUPS_CTES + """
SELECT doc_id, group_rep FROM groups
"""


def q_near_dup_groups_star(spark, sf):
    """The same connected-components grouping as dedup_groups, kept as
    its own driver query and bench leaf: both call near_dup_groups and
    are checked against the same recursive-CTE oracle."""
    from .operators.textops import near_dup_groups

    return near_dup_groups(_t(spark, sf, "documents"))


def q_dedup_apply(spark, sf):
    """End of the near-dup flow: the KEPT corpus — drop non-representative
    members of every connected component, keep reps + singletons, via one
    broadcast left-anti join (corpus side never shuffles)."""
    from .operators.textops import apply_dedup

    return apply_dedup(_t(spark, sf, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_APPLY = _NEAR_DUP_GROUPS_CTES + """
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
ANTI JOIN (SELECT doc_id FROM groups WHERE doc_id <> group_rep) x USING (doc_id)
"""


def q_dedup_apply_best(spark, sf):
    """Quality-keeper dedup: per near-dup component keep the member with
    the most characters (tie -> lowest doc_id) — the keep-the-longest-copy
    policy real corpora use; max_by hash aggregate, no windows."""
    from .operators.textops import apply_dedup_keep_best

    return apply_dedup_keep_best(_t(spark, sf, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_APPLY_BEST = _NEAR_DUP_GROUPS_CTES + """
, keepers AS (
  SELECT group_rep, doc_id AS keep_doc_id
  FROM (SELECT g.group_rep, g.doc_id, d.n_chars
        FROM groups g JOIN documents d USING (doc_id))
  QUALIFY row_number() OVER (PARTITION BY group_rep
                             ORDER BY n_chars DESC, doc_id ASC) = 1
), drops AS (
  SELECT g.doc_id FROM groups g JOIN keepers k USING (group_rep)
  WHERE g.doc_id <> k.keep_doc_id
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d ANTI JOIN drops USING (doc_id)
"""


def q_source_quality_rollup(spark, sf):
    """Per-source quality aggregates (C4-style source-level filter
    signal): docs, mean tokens, mean stopword ratio, quality-gate keep
    rate — one partial-agg groupBy over row-local HOF stats."""
    from .operators.textops import source_quality_rollup

    return source_quality_rollup(_t(spark, sf, "documents"))


SQL_SOURCE_QUALITY_ROLLUP = """
WITH t AS (
  SELECT source, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT source, len(toks) AS n,
         CAST(len(list_filter(toks, t2 -> t2 IN ('the','and','of','with','from')))
              AS DOUBLE) / len(toks) AS stop_ratio,
         list_max(list_transform(list_distinct(toks),
                  d -> len(list_filter(toks, t2 -> t2 = d)))) AS top,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bg
  FROM t
), k AS (
  SELECT source, n, stop_ratio,
         CASE WHEN n >= 16
               AND round(CAST(top AS DOUBLE) / n, 4) <= 0.1
               AND (CASE WHEN len(bg) > 0
                    THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
                    ELSE 0.0 END) <= 0.75
               AND round(stop_ratio, 4) >= 0.01
              THEN 1 ELSE 0 END AS keep
  FROM s
)
SELECT source, COUNT(*) AS n_docs,
       round(avg(n), 4) AS avg_tokens,
       round(avg(stop_ratio), 4) AS avg_stopword_ratio,
       round(avg(keep), 4) AS keep_rate
FROM k GROUP BY source
"""


def q_dedup_simhash_pairs(spark, sf):
    """SimHash near-dup pairs (Hamming <= 2), banded on 4-bit signature
    chunks — pigeonhole guarantees completeness, equi-join kills the
    cartesian."""
    from .operators.textops import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_t(spark, sf, "documents"), max_hamming=2)


def _simhash_pairs_oracle_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(tv, v -> CASE WHEN (v >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(lower(text), ' '),
                        tok -> ('0x' || substr(md5(tok), 1, 4))::BIGINT) AS tv
  FROM documents
), s AS (
  SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM t
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


SQL_SIMHASH_PAIRS = _simhash_pairs_oracle_sql()


def q_minhash_lsh(spark, sf):
    """MinHash + LSH banding: candidate buckets with >1 doc."""
    return minhash_lsh_buckets(_t(spark, sf, "documents"), bands=4)


SQL_MINHASH_LSH = """
WITH t AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(range(1, len(string_split(lower(text),' '))),
                         i -> string_split(lower(text),' ')[i] || ' ' || string_split(lower(text),' ')[i+1])),
           s -> md5(s)) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, b.band,
         list_min(list_transform(hs, h -> substr(h, 1 + 8*CAST(b.band AS INT), 8))) AS bucket
  FROM t, (SELECT unnest(range(0, 4)) AS band) b
)
SELECT band, bucket, COUNT(*) AS bucket_size, MIN(doc_id) AS min_doc_id
FROM sigs GROUP BY band, bucket HAVING COUNT(*) > 1
"""


def q_simhash(spark, sf):
    """SimHash signatures — oracle-checked via generated 16-term bit SQL."""
    return simhash16(_t(spark, sf, "documents"))


def _simhash_oracle_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(tv, v -> CASE WHEN (v >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(lower(text), ' '),
                        tok -> ('0x' || substr(md5(tok), 1, 4))::BIGINT) AS tv
  FROM documents
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM t
"""


SQL_SIMHASH = _simhash_oracle_sql()


# ---------------------------------------------------------------------------
# §2.3 joins


def q_j1_pair_join(spark, sf):
    """J1: service-graph-style pair join — click followed by purchase by
    the same user within 1 hour (client/server edge completion analog)."""
    e = _t(spark, sf, "events")
    a = e.where(F.col("event_type") == "click").alias("a")
    b = e.where(F.col("event_type") == "purchase").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("pair_total"))
    )


SQL_J1 = """
SELECT a.user_id AS user_id, COUNT(*) AS pair_total
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.user_id
"""


def q_j2_broadcast_enrich(spark, sf):
    """J2: broadcast-join enrichment against small dims (settings lookup)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
                "acctbal_cents"
            ),
        )
    )


SQL_J2 = """
SELECT r_name AS region_name, COUNT(*) AS customer_count,
       CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_j3_enrichment_cascade(spark, sf):
    """J3: conditional denormalization (when-cascade, topology.go:110-198)."""
    e = _t(spark, sf, "events")
    tier = (
        F.when(F.col("value") > 150, "high")
        .when(F.col("value") > 50, "mid")
        .otherwise("low")
    )
    return e.groupBy(tier.alias("tier")).agg(F.count(F.lit(1)).alias("n"))


SQL_J3 = """
SELECT CASE WHEN value > 150 THEN 'high' WHEN value > 50 THEN 'mid' ELSE 'low' END AS tier,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# §2.4 aggregations


def q_a1_edge_counters(spark, sf):
    """A1: req_total / req_failed_total per dimension (exact — see A2)."""
    e = _t(spark, sf, "events").withColumn("failed", F.col("event_type") == "error")
    return edge_metrics(e, ["user_id"], failed_col="failed")


SQL_A1 = """
SELECT user_id, COUNT(*) AS req_total,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS req_failed_total
FROM events GROUP BY user_id
"""

_BOUNDS = [1.0, 5.0, 10.0, 50.0, 100.0, 200.0]


def q_a3_histogram(spark, sf):
    """A3: explicit-bucket histogram (bucket index + counts)."""
    e = _t(spark, sf, "events").withColumnRenamed("value", "v")
    return (
        e.withColumn("bucket", bucket_index_expr("v", _BOUNDS).cast("int"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


SQL_A3 = """
SELECT event_type,
       CAST(CASE WHEN value <= 1 THEN 0 WHEN value <= 5 THEN 1 WHEN value <= 10 THEN 2
            WHEN value <= 50 THEN 3 WHEN value <= 100 THEN 4 WHEN value <= 200 THEN 5
            ELSE 6 END AS INT) AS bucket,
       COUNT(*) AS bucket_count
FROM events GROUP BY 1, 2
"""


def q_k5_exp_histogram(spark, sf):
    """A3b/K5: scale-0 exponential histogram per event_type over a SIGNED
    integer latency-delta (floor(value*10) % 2000 - 50 — negatives and
    zeros present by construction), in the reference's full ClickHouse
    exp-histogram row shape incl. negative buckets
    (exponential_histogram_metrics.go:34-41). Dense bucket-counts arrays
    compared via md5 digest (engine array stringification differs)."""
    from .operators.aggregate import exp_histogram

    e = _t(spark, sf, "events")
    m = e.select(
        "event_type",
        (F.floor(F.col("value") * 10).cast("long") % 2000 - 50).alias("lat_ms"),
    )
    h = exp_histogram(m, ["event_type"], "lat_ms")

    def digest(col):
        return F.md5(
            F.array_join(F.transform(F.col(col), lambda x: x.cast("string")), ",")
        )

    return h.select(
        "event_type",
        "scale",
        "zero_count",
        "positive_offset",
        digest("positive_bucket_counts").alias("pos_counts_digest"),
        "negative_offset",
        digest("negative_bucket_counts").alias("neg_counts_digest"),
        "count",
        "sum",
    )


SQL_K5_EXP_HISTOGRAM = """
WITH m AS (
  SELECT event_type, CAST(floor(value*10) AS BIGINT) % 2000 - 50 AS x FROM events
  WHERE value IS NOT NULL
), b AS (
  SELECT event_type, x,
         CASE WHEN x <> 0 THEN CAST(length(bin(abs(x))) - 1 AS INT) END AS idx,
         CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn
  FROM m
), g AS (
  SELECT event_type,
         list(idx) FILTER (WHERE sgn = 1) AS pidxs,
         list(idx) FILTER (WHERE sgn = -1) AS nidxs,
         COUNT(*) AS count,
         CAST(SUM(x) AS BIGINT) AS sum,
         CAST(COALESCE(COUNT(*) FILTER (WHERE x = 0), 0) AS BIGINT) AS zero_count,
         MIN(idx) FILTER (WHERE sgn = 1) AS poff,
         MAX(idx) FILTER (WHERE sgn = 1) AS pmx,
         MIN(idx) FILTER (WHERE sgn = -1) AS noff,
         MAX(idx) FILTER (WHERE sgn = -1) AS nmx
  FROM b GROUP BY 1
)
SELECT event_type, 0 AS scale, zero_count,
       COALESCE(poff, 0) AS positive_offset,
       md5(CASE WHEN poff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(poff AS BIGINT), CAST(pmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(pidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS pos_counts_digest,
       COALESCE(noff, 0) AS negative_offset,
       md5(CASE WHEN noff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(noff AS BIGINT), CAST(nmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(nidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS neg_counts_digest,
       count, sum
FROM g
"""


def q_k5_exp_histogram_scaled(spark, sf):
    """A3b/K5 at scale -2: coarser base-2^4 buckets (idx = floor(
    (bit_length-1)/4) — exact integer shift, no float logs), same signed
    measure and full row shape as k5_exp_histogram. Pins the scale
    parameter cross-engine (the DuckDB oracle uses // integer
    division)."""
    from .operators.aggregate import exp_histogram

    e = _t(spark, sf, "events")
    m = e.select(
        "event_type",
        (F.floor(F.col("value") * 10).cast("long") % 2000 - 50).alias("lat_ms"),
    )
    h = exp_histogram(m, ["event_type"], "lat_ms", scale=-2)

    def digest(col):
        return F.md5(
            F.array_join(F.transform(F.col(col), lambda x: x.cast("string")), ",")
        )

    return h.select(
        "event_type",
        "scale",
        "zero_count",
        "positive_offset",
        digest("positive_bucket_counts").alias("pos_counts_digest"),
        "negative_offset",
        digest("negative_bucket_counts").alias("neg_counts_digest"),
        "count",
        "sum",
    )


SQL_K5_EXP_HISTOGRAM_SCALED = """
WITH m AS (
  SELECT event_type, CAST(floor(value*10) AS BIGINT) % 2000 - 50 AS x FROM events
  WHERE value IS NOT NULL
), b AS (
  SELECT event_type, x,
         CASE WHEN x <> 0
              THEN CAST((length(bin(abs(x))) - 1) // 4 AS INT) END AS idx,
         CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn
  FROM m
), g AS (
  SELECT event_type,
         list(idx) FILTER (WHERE sgn = 1) AS pidxs,
         list(idx) FILTER (WHERE sgn = -1) AS nidxs,
         COUNT(*) AS count,
         CAST(SUM(x) AS BIGINT) AS sum,
         CAST(COALESCE(COUNT(*) FILTER (WHERE x = 0), 0) AS BIGINT) AS zero_count,
         MIN(idx) FILTER (WHERE sgn = 1) AS poff,
         MAX(idx) FILTER (WHERE sgn = 1) AS pmx,
         MIN(idx) FILTER (WHERE sgn = -1) AS noff,
         MAX(idx) FILTER (WHERE sgn = -1) AS nmx
  FROM b GROUP BY 1
)
SELECT event_type, -2 AS scale, zero_count,
       COALESCE(poff, 0) AS positive_offset,
       md5(CASE WHEN poff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(poff AS BIGINT), CAST(pmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(pidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS pos_counts_digest,
       COALESCE(noff, 0) AS negative_offset,
       md5(CASE WHEN noff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(noff AS BIGINT), CAST(nmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(nidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS neg_counts_digest,
       count, sum
FROM g
"""


def q_k5_exp_histogram_fine(spark, sf):
    """A3b/K5 at scale +1: two sub-buckets per octave via the exact
    decimal square compare (idx = 2m + [x² >= 2^(2m+1)], no float logs).
    The DuckDB oracle mirrors the identical integer arithmetic (the
    driver measure is < 2^31 so BIGINT squares exactly)."""
    from .operators.aggregate import exp_histogram

    e = _t(spark, sf, "events")
    m = e.select(
        "event_type",
        (F.floor(F.col("value") * 10).cast("long") % 2000 - 50).alias("lat_ms"),
    )
    h = exp_histogram(m, ["event_type"], "lat_ms", scale=1)

    def digest(col):
        return F.md5(
            F.array_join(F.transform(F.col(col), lambda x: x.cast("string")), ",")
        )

    return h.select(
        "event_type",
        "scale",
        "zero_count",
        "positive_offset",
        digest("positive_bucket_counts").alias("pos_counts_digest"),
        "negative_offset",
        digest("negative_bucket_counts").alias("neg_counts_digest"),
        "count",
        "sum",
    )


SQL_K5_EXP_HISTOGRAM_FINE = """
WITH m AS (
  SELECT event_type, CAST(floor(value*10) AS BIGINT) % 2000 - 50 AS x FROM events
  WHERE value IS NOT NULL
), b AS (
  SELECT event_type, x,
         CASE WHEN x <> 0 THEN CAST(
           2 * (length(bin(abs(x))) - 1)
           + CASE WHEN abs(x) * abs(x) >=
                  (CAST(1 AS BIGINT) << (2 * (length(bin(abs(x))) - 1) + 1))
             THEN 1 ELSE 0 END AS INT) END AS idx,
         CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn
  FROM m
), g AS (
  SELECT event_type,
         list(idx) FILTER (WHERE sgn = 1) AS pidxs,
         list(idx) FILTER (WHERE sgn = -1) AS nidxs,
         COUNT(*) AS count,
         CAST(SUM(x) AS BIGINT) AS sum,
         CAST(COALESCE(COUNT(*) FILTER (WHERE x = 0), 0) AS BIGINT) AS zero_count,
         MIN(idx) FILTER (WHERE sgn = 1) AS poff,
         MAX(idx) FILTER (WHERE sgn = 1) AS pmx,
         MIN(idx) FILTER (WHERE sgn = -1) AS noff,
         MAX(idx) FILTER (WHERE sgn = -1) AS nmx
  FROM b GROUP BY 1
)
SELECT event_type, 1 AS scale, zero_count,
       COALESCE(poff, 0) AS positive_offset,
       md5(CASE WHEN poff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(poff AS BIGINT), CAST(pmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(pidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS pos_counts_digest,
       COALESCE(noff, 0) AS negative_offset,
       md5(CASE WHEN noff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(noff AS BIGINT), CAST(nmx AS BIGINT) + 1),
                        i -> CAST(len(list_filter(nidxs, v -> v = i)) AS VARCHAR)),
         ',') END) AS neg_counts_digest,
       count, sum
FROM g
"""


def q_k5_exp_histogram_passthrough(spark, sf):
    """K5 passthrough path: pre-bucketed OTLP exp-histogram datapoints at
    ARBITRARY scales (here 2..5 — beyond the exact-aggregation cap of 1)
    are merged per metric group WITHOUT re-bucketing raw values: target
    scale = group min, finer buckets fold by floor(idx / 2^delta) — what
    exponential_histogram_metrics.go:34-41 stores. Datapoints are
    synthesized deterministically from events per (event_type, user
    shard): varied scales, negative offsets, and count ==
    zero_count + Σpos + Σneg by construction."""
    from .operators.aggregate import exp_histogram_merge

    e = _t(spark, sf, "events")
    g = e.groupBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 10).cast("long")).alias("s"),
    )
    n = F.col("n")
    pbc = F.array(
        n,
        F.floor(n / 2).cast("long") + 1,
        F.floor(n / 3).cast("long") + 1,
    )
    nbc = F.array(
        F.floor(n / 4).cast("long") + 1,
        F.floor(n / 5).cast("long") + 1,
    )
    zc = (n % 5).cast("long")
    dp = g.select(
        "event_type",
        (F.col("shard") + 2).alias("scale"),
        zc.alias("zero_count"),
        (n % 7 - 3).cast("int").alias("positive_offset"),
        pbc.alias("positive_bucket_counts"),
        (n % 5 - 2).cast("int").alias("negative_offset"),
        nbc.alias("negative_bucket_counts"),
        (
            zc
            + F.aggregate(pbc, F.lit(0).cast("long"), lambda a, x: a + x)
            + F.aggregate(nbc, F.lit(0).cast("long"), lambda a, x: a + x)
        ).alias("count"),
        F.col("s").alias("sum"),
    )
    h = exp_histogram_merge(dp, ["event_type"])

    def digest(col):
        return F.md5(
            F.array_join(F.transform(F.col(col), lambda x: x.cast("string")), ",")
        )

    return h.select(
        "event_type",
        "scale",
        "zero_count",
        "positive_offset",
        digest("positive_bucket_counts").alias("pos_counts_digest"),
        "negative_offset",
        digest("negative_bucket_counts").alias("neg_counts_digest"),
        "count",
        "sum",
    )


SQL_K5_EXP_HISTOGRAM_PASSTHROUGH = """
WITH g AS (
  SELECT event_type, CAST(user_id % 4 AS INT) AS shard,
         COUNT(*) AS n,
         CAST(SUM(CAST(floor(value*10) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
), dp AS (
  SELECT event_type,
         shard + 2 AS scale,
         CAST(n % 5 AS BIGINT) AS zero_count,
         CAST(n % 7 - 3 AS INT) AS positive_offset,
         [CAST(n AS BIGINT), CAST(floor(n/2) AS BIGINT)+1,
          CAST(floor(n/3) AS BIGINT)+1] AS pbc,
         CAST(n % 5 - 2 AS INT) AS negative_offset,
         [CAST(floor(n/4) AS BIGINT)+1, CAST(floor(n/5) AS BIGINT)+1] AS nbc,
         s
  FROM g
), dp2 AS (
  SELECT *, zero_count + pbc[1] + pbc[2] + pbc[3] + nbc[1] + nbc[2] AS cnt_total
  FROM dp
), tgt AS (
  SELECT event_type, MIN(scale) AS tscale FROM dp2 GROUP BY 1
), pex AS (
  SELECT u.event_type, t.tscale, 1 AS sgn,
         CAST(floor((u.positive_offset + u.ord - 1) * 1.0
                    / pow(2, u.scale - t.tscale)) AS INT) AS idx,
         u.cnt
  FROM (SELECT event_type, scale, positive_offset,
               unnest(pbc) AS cnt, generate_subscripts(pbc, 1) AS ord
        FROM dp2) u
  JOIN tgt t USING (event_type)
  WHERE u.cnt <> 0
), nex AS (
  SELECT u.event_type, t.tscale, -1 AS sgn,
         CAST(floor((u.negative_offset + u.ord - 1) * 1.0
                    / pow(2, u.scale - t.tscale)) AS INT) AS idx,
         u.cnt
  FROM (SELECT event_type, scale, negative_offset,
               unnest(nbc) AS cnt, generate_subscripts(nbc, 1) AS ord
        FROM dp2) u
  JOIN tgt t USING (event_type)
  WHERE u.cnt <> 0
), gb AS (
  SELECT event_type, tscale, sgn, idx, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM (SELECT * FROM pex UNION ALL SELECT * FROM nex)
  GROUP BY 1, 2, 3, 4
), agg AS (
  SELECT event_type, tscale,
         MIN(idx) FILTER (WHERE sgn = 1) AS poff,
         MAX(idx) FILTER (WHERE sgn = 1) AS pmx,
         map_from_entries(list(struct_pack(k := idx, v := cnt))
                          FILTER (WHERE sgn = 1)) AS pmap,
         MIN(idx) FILTER (WHERE sgn = -1) AS noff,
         MAX(idx) FILTER (WHERE sgn = -1) AS nmx,
         map_from_entries(list(struct_pack(k := idx, v := cnt))
                          FILTER (WHERE sgn = -1)) AS nmap
  FROM gb GROUP BY 1, 2
), totals AS (
  SELECT event_type,
         CAST(SUM(zero_count) AS BIGINT) AS zero_count,
         CAST(SUM(cnt_total) AS BIGINT) AS count,
         CAST(SUM(s) AS BIGINT) AS sum
  FROM dp2 GROUP BY 1
)
SELECT t.event_type, tg.tscale AS scale, t.zero_count,
       COALESCE(a.poff, 0) AS positive_offset,
       md5(CASE WHEN a.poff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(a.poff AS BIGINT), CAST(a.pmx AS BIGINT) + 1),
                        i -> CAST(coalesce(map_extract(a.pmap, CAST(i AS INT))[1],
                                           0) AS VARCHAR)),
         ',') END) AS pos_counts_digest,
       COALESCE(a.noff, 0) AS negative_offset,
       md5(CASE WHEN a.noff IS NULL THEN '' ELSE array_to_string(
         list_transform(range(CAST(a.noff AS BIGINT), CAST(a.nmx AS BIGINT) + 1),
                        i -> CAST(coalesce(map_extract(a.nmap, CAST(i AS INT))[1],
                                           0) AS VARCHAR)),
         ',') END) AS neg_counts_digest,
       t.count, t.sum
FROM totals t
JOIN tgt tg USING (event_type)
LEFT JOIN agg a USING (event_type)
"""


def q_a6_envelope_groups(spark, sf):
    """A6: message coalescing — per (key, ts-minute) envelope stats."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", F.date_trunc("minute", "ts").alias("ts_minute"))
        .agg(
            F.count(F.lit(1)).alias("element_count"),
            F.sum(F.octet_length("props")).alias("payload_bytes"),
        )
    )


SQL_A6 = """
SELECT user_id, date_trunc('minute', ts) AS ts_minute,
       COUNT(*) AS element_count,
       CAST(SUM(strlen(props)) AS BIGINT) AS payload_bytes
FROM events GROUP BY 1, 2
"""


def q_w1_tumbling_rollup(spark, sf):
    """Tumbling-window rollup keyed (hour bucket, type) — the north rule's
    (host, warc_ts bucket) rollup shape over oracle-checkable data."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )


SQL_W1 = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
"""


def q_tpch_q1(spark, sf):
    """TPC-H Q1 pricing summary (engine-basics witness)."""
    li = _t(spark, sf, "lineitem")
    cents = lambda c: F.sum(F.round(F.col(c) * 100, 0).cast("long"))  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.expr("timestamp '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            cents("l_extendedprice").alias("sum_base_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.6 routing


def q_r1_shard_routing(spark, sf):
    """R1: FNV-1a-32 shard assignment (message_builder.go:259-263),
    oracle-checked: DuckDB folds the same FNV over the id's bytes via
    list_reduce (ids are pure ASCII so ascii()==utf-8 byte). Golden
    vectors additionally pinned in tests/test_routing_dedup.py."""
    comp = q_p7_component_projection(spark, sf)
    return (
        with_shard_id(comp)
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_R1 = """
WITH c AS (SELECT DISTINCT 'urn:event:user/' || CAST(user_id AS VARCHAR) AS external_id
           FROM events WHERE event_type = 'signup'),
h AS (
  SELECT external_id,
         list_reduce(
           list_prepend(CAST(2166136261 AS BIGINT),
             list_transform(range(1, length(external_id)+1),
                            i -> CAST(ascii(substr(external_id, CAST(i AS INT), 1)) AS BIGINT))),
           (h, b) -> (xor(h, b) * 16777619) % 4294967296
         ) AS fnv
  FROM c
)
SELECT CAST(fnv % 4 AS BIGINT) AS shard_id, COUNT(*) AS n FROM h GROUP BY 1
"""


def q_r3_fanout_counts(spark, sf):
    """R3: fan-out routing with per-sink routed-row counts."""
    e = _t(spark, sf, "events")
    routes = {
        "errors": "event_type = 'error'",
        "purchases": "event_type = 'purchase'",
        "high_value": "value > 150",
        "all": "true",
    }
    routed = route_fanout(e, routes)
    parts = [
        df.agg(F.count(F.lit(1)).alias("routed_rows")).select(
            F.lit(name).alias("sink"), "routed_rows"
        )
        for name, df in sorted(routed.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_R3 = """
SELECT 'all' AS sink, COUNT(*) AS routed_rows FROM events
UNION ALL SELECT 'errors', COUNT(*) FROM events WHERE event_type = 'error'
UNION ALL SELECT 'high_value', COUNT(*) FROM events WHERE value > 150
UNION ALL SELECT 'purchases', COUNT(*) FROM events WHERE event_type = 'purchase'
"""


def q_s3_cdc_diff(spark, sf):
    """S3: CDC-style snapshot diff (k8sresource receiver poll-diff,
    crd_collector.go:105-141): ADDED/REMOVED/MODIFIED user states between
    the first and last week, state = per-user event count."""
    e = _t(spark, sf, "events")
    bounds = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    week1 = (
        e.crossJoin(F.broadcast(bounds))
        .where(F.col("ts") < F.col("lo") + F.expr("INTERVAL 7 DAY"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    week2 = (
        e.crossJoin(F.broadcast(bounds))
        .where(F.col("ts") >= F.col("hi") - F.expr("INTERVAL 7 DAY"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    joined = week1.join(week2, on="user_id", how="full_outer")
    delta = (
        F.when(F.col("n2").isNull(), "REMOVED")
        .when(F.col("n1").isNull(), "ADDED")
        .when(F.col("n1") != F.col("n2"), "MODIFIED")
        .otherwise("UNCHANGED")
    )
    return joined.select("user_id", delta.alias("delta_type"))


SQL_S3 = """
WITH b AS (SELECT min(ts) lo, max(ts) hi FROM events),
w1 AS (SELECT user_id, COUNT(*) n1 FROM events, b WHERE ts < lo + INTERVAL 7 DAY GROUP BY user_id),
w2 AS (SELECT user_id, COUNT(*) n2 FROM events, b WHERE ts >= hi - INTERVAL 7 DAY GROUP BY user_id)
SELECT COALESCE(w1.user_id, w2.user_id) AS user_id,
       CASE WHEN n2 IS NULL THEN 'REMOVED' WHEN n1 IS NULL THEN 'ADDED'
            WHEN n1 <> n2 THEN 'MODIFIED' ELSE 'UNCHANGED' END AS delta_type
FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id
"""


def q_p16_auth_quarantine(spark, sf):
    """P16: API-key auth — broadcast join against the valid-key dim;
    invalid rows route to quarantine (servicetokenauthextension analog).
    Valid keys = even user ids (deterministic dim)."""
    e = _t(spark, sf, "events")
    valid = (
        e.select("user_id").distinct().where(F.col("user_id") % 2 == 0)
    )
    tagged = e.join(
        F.broadcast(valid.withColumn("_valid", F.lit(1))), on="user_id", how="left"
    )
    return tagged.groupBy(
        F.when(F.col("_valid").isNotNull(), "authorized")
        .otherwise("quarantine")
        .alias("route")
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_P16 = """
SELECT CASE WHEN user_id % 2 = 0 THEN 'authorized' ELSE 'quarantine' END AS route,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_a6_envelope_split(spark, sf):
    """A6 (full): size-capped envelope splitting — running payload-byte
    total per (user, minute) integer-divided by the cap assigns envelope
    ordinals (message_builder.go:162-171, 768KiB cap scaled down)."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id", F.date_trunc("minute", "ts"))
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = e.withColumn("_b", F.octet_length("props"))
    env = sized.withColumn(
        "envelope_id", ((F.sum("_b").over(w) - F.col("_b")) / F.lit(64)).cast("long")
    )
    return (
        env.groupBy("user_id", F.date_trunc("minute", "ts").alias("ts_minute"), "envelope_id")
        .agg(
            F.count(F.lit(1)).alias("element_count"),
            F.sum("_b").alias("envelope_bytes"),
        )
    )


SQL_A6_SPLIT = """
WITH sized AS (
  SELECT user_id, date_trunc('minute', ts) AS ts_minute, event_id,
         strlen(props) AS b,
         SUM(strlen(props)) OVER (PARTITION BY user_id, date_trunc('minute', ts)
                                  ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM events
)
SELECT user_id, ts_minute, CAST(floor((cum - b) / 64.0) AS BIGINT) AS envelope_id,
       COUNT(*) AS element_count, CAST(SUM(b) AS BIGINT) AS envelope_bytes
FROM sized GROUP BY 1, 2, 3
"""


def q_w2_sessionize(spark, sf):
    """Sessionization via lag(): a >30-min gap starts a new session —
    the windowed stateful pattern the reference's TTL stores imply."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("_new", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("_new").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
    )


SQL_W2 = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS session_count,
       COUNT(*) AS event_count
FROM g GROUP BY user_id
"""


def q_set_ops(spark, sf):
    """Set ops (flattenMappings dedup-union + intersect/except analogs,
    snapshot_manager.go:225-253): clickers ∩ purchasers, minus error-ers."""
    e = _t(spark, sf, "events")
    clickers = e.where("event_type = 'click'").select("user_id").distinct()
    purchasers = e.where("event_type = 'purchase'").select("user_id").distinct()
    error_ers = e.where("event_type = 'error'").select("user_id").distinct()
    return clickers.intersect(purchasers).exceptAll(error_ers)


SQL_SET_OPS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""


def q_tpch_q3_agg(spark, sf):
    """Shuffle-join + aggregation across 3 tables (shipping-priority
    shape, revenue in integer cents for engine-exact sums)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    revenue_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue_cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


SQL_TPCH_Q3 = """
SELECT o_orderpriority,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS line_count
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# text analysis / similarity


def _sg_spans(spark, sf):
    """Shared span source for the service-graph queries: spans derive from
    (event_id, user_id, event_type, value) only — project narrow, then
    spread (single-row-group events file scans as ONE task; the span
    projection would serialize on one core). The client/server legs'
    identical scan+repartition subtrees collapse into one exchange
    (ReuseExchange)."""
    from .operators.textops import spread
    from .sources.spans import spans_from_events

    return spans_from_events(
        spread(
            _t(spark, sf, "events").select(
                "event_id", "user_id", "event_type", "value"
            )
        )
    )


def _sg_edges(spark, sf):
    """Shared COMPLETED-EDGE table for the service-graph query family:
    build_edges' pair join is the expensive stage and its output is
    identical for all four consumers (edge counters, latency quantiles,
    relations, components — they differ only in aggregation dims), so the
    joined edge frame persists once per session (the service-graph
    connector's edge store, materialized; cache.py lifecycle)."""
    from .operators.cache import register_cache
    from .operators.service_graph import build_edges

    return register_cache(build_edges(_sg_spans(spark, sf)).persist())


def q_sg_edge_metrics(spark, sf):
    """J1+A1: service-graph pair-join counters over spans derived in-plan
    from the events table (sources/spans.py spans_from_events) — runs the
    REAL build_edges pair join; the oracle mirrors the derivation + 1:1
    join algebraically (connector.go:253-343, :387-455)."""
    from .operators.aggregate import edge_metrics

    return edge_metrics(
        _sg_edges(spark, sf), ["client", "server", "connection_type"]
    )


# The oracle skips the spans union + self-join: client and server rows of a
# pair derive from the SAME event row, so the (trace_id, join_key) equi-join
# is 1:1 by construction and the edge columns are direct expressions.
# Namespace / instance-id / peer columns mirror spans_from_events' resource
# attr derivation exactly (sources/spans.py).
_SG_EDGES_CTE = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         (CAST(floor(value*10) AS BIGINT) % 2000) AS lat_ms,
         (event_type='purchase' AND event_id%10<2) AS is_db,
         (event_type='signup') AS is_async,
         (event_type='error' AND event_id%2=0) AS cfail,
         (event_type='error' AND event_id%3=0) AS sfail,
         list_value('frontend','checkout','payments','cart','shipping','auth') AS s
  FROM events
  WHERE NOT (event_type='click' AND event_id%5=0)
), e2 AS (
  SELECT *,
         s[CAST(user_id%6 AS INT)+1] AS client_svc,
         s[CAST((user_id+1+event_id%3)%6 AS INT)+1] AS server_svc,
         CASE WHEN (is_db OR is_async) AND event_id%7=0
              THEN 'peer-' || CAST(event_id%3 AS VARCHAR) END AS peer
  FROM e
), edges AS (
  SELECT client_svc AS client,
         CASE WHEN is_db THEN COALESCE(peer, CASE WHEN event_id%2=0 THEN 'postgres' ELSE 'redis' END)
              ELSE server_svc END AS server,
         CASE WHEN is_db THEN 'database'
              WHEN is_async THEN 'messaging_system' ELSE '' END AS connection_type,
         CASE WHEN is_db THEN cfail ELSE (cfail OR sfail) END AS failed,
         'ns-' || CAST(user_id%2 AS VARCHAR) AS client_namespace,
         CASE WHEN is_db THEN NULL
              ELSE 'ns-' || CAST((user_id+1)%2 AS VARCHAR) END AS server_namespace,
         CASE WHEN event_id%4=0
              THEN client_svc || '-i' || CAST(user_id%3 AS VARCHAR) END AS client_instance_id,
         CASE WHEN is_db THEN NULL WHEN event_id%3=0
              THEN server_svc || '-i' || CAST(user_id%2 AS VARCHAR) END AS server_instance_id,
         peer AS client_peer_service,
         lat_ms / 1000.0 AS client_latency_sec
  FROM e2
)
"""

# the connector's client_/server_-prefixed dimension attrs consumed by
# AddConnection (topology.go:199-226)
_CONN_DIMS = [
    "client_namespace", "server_namespace",
    "client_instance_id", "server_instance_id", "client_peer_service",
]

SQL_SG_EDGE_METRICS = _SG_EDGES_CTE + """
SELECT client, server, connection_type,
       COUNT(*) AS req_total,
       CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS req_failed_total
FROM edges GROUP BY client, server, connection_type
"""


def q_sg_latency_quantiles(spark, sf):
    """A3-adjacent: exact p50/p95/p99 client latency per service edge via
    Spark's partial-mergeable native percentile aggregate (the SLO numbers
    the A3 histogram approximates); oracle mirrors Spark's exact
    lowerKey + (pos - floor(pos)) * (higherKey - lowerKey) interpolation
    over a sorted list, bit-identical IEEE ops."""
    from .operators.aggregate import latency_quantiles

    edges = _sg_edges(spark, sf)
    return latency_quantiles(
        edges, ["client", "server", "connection_type"], "client_latency_sec"
    )


def _pct_interp_sql(q: float) -> str:
    """Mirror of Spark Percentile.getPercentile (exact interpolation at
    pos = q*(n-1)) over DuckDB's sorted list v."""
    pos = f"{q}*(n-1)"
    lo = f"v[CAST(floor({pos}) AS BIGINT)+1]"
    hi = f"v[CAST(ceil({pos}) AS BIGINT)+1]"
    return f"round({lo} + ({pos} - floor({pos})) * ({hi} - {lo}), 6)"


SQL_SG_LATENCY_QUANTILES = _SG_EDGES_CTE + f"""
, vals AS (
  SELECT client, server, connection_type,
         list_sort(list(client_latency_sec)) AS v, COUNT(*) AS n
  FROM edges GROUP BY 1, 2, 3
)
SELECT client, server, connection_type, n,
       {_pct_interp_sql(0.5)} AS p50_sec,
       {_pct_interp_sql(0.95)} AS p95_sec,
       {_pct_interp_sql(0.99)} AS p99_sec
FROM vals
"""


def q_sg_relations(spark, sf):
    """A8: service-graph metrics -> topology relations — the faithful
    AddConnection with namespace-scoped serviceInstance URNs, instance-id
    name fallback, and peer-service target overrides (including the extra
    consumer->peer relation for async edges)
    (ststopologyexporter/internal/topology.go:199-333)."""
    from .operators.aggregate import edge_metrics
    from .operators.service_graph import metrics_to_relations

    counters = edge_metrics(
        _sg_edges(spark, sf),
        ["client", "server", "connection_type"] + _CONN_DIMS,
    )
    return metrics_to_relations(counters)


_SG_CONN_CTE = _SG_EDGES_CTE + """
, counters AS (
  SELECT client, server, connection_type, client_namespace, server_namespace,
         client_instance_id, server_instance_id, client_peer_service,
         COUNT(*) AS req_total
  FROM edges
  GROUP BY client, server, connection_type, client_namespace, server_namespace,
           client_instance_id, server_instance_id, client_peer_service
), conn AS (
  SELECT *,
         'urn:opentelemetry:namespace/' || client_namespace || ':service/' || client
           || ':serviceInstance/' || COALESCE(client_instance_id, client) AS source_id,
         'urn:opentelemetry:namespace/' || server_namespace || ':service/' || server
           || ':serviceInstance/' || COALESCE(server_instance_id, server) AS server_target,
         'urn:opentelemetry:namespace/' || client_namespace || ':service/'
           || client_peer_service AS peer_target,
         'urn:opentelemetry:namespace/' || client_namespace || ':service/' || client
           || ':database/' || server AS db_target
  FROM counters
  WHERE client IS NOT NULL AND client_namespace IS NOT NULL AND server IS NOT NULL
    AND connection_type IN ('', 'messaging_system', 'database')
)
"""

SQL_SG_RELATIONS = _SG_CONN_CTE + """
, rels AS (
  SELECT source_id, server_target AS target_id, 'synchronous' AS type_name
  FROM conn WHERE connection_type = '' AND server_namespace IS NOT NULL
  UNION ALL
  SELECT source_id,
         CASE WHEN client_peer_service IS NOT NULL THEN peer_target
              ELSE server_target END,
         'asynchronous'
  FROM conn WHERE connection_type = 'messaging_system' AND server_namespace IS NOT NULL
  UNION ALL
  SELECT server_target, peer_target, 'asynchronous'
  FROM conn WHERE connection_type = 'messaging_system' AND server_namespace IS NOT NULL
    AND client_peer_service IS NOT NULL
  UNION ALL
  SELECT source_id,
         CASE WHEN client_peer_service IS NOT NULL THEN peer_target
              ELSE db_target END,
         'database'
  FROM conn WHERE connection_type = 'database'
)
SELECT DISTINCT source_id || '-' || target_id AS external_id,
       source_id AS source_identifier,
       target_id AS target_identifier,
       type_name
FROM rels
"""


def q_sg_components(spark, sf):
    """A8: the database component rows emitted alongside 'database'
    relations when no peer.service names the target
    (ststopologyexporter/internal/topology.go:252-269)."""
    from .operators.aggregate import edge_metrics
    from .operators.service_graph import metrics_to_components

    counters = edge_metrics(
        _sg_edges(spark, sf),
        ["client", "server", "connection_type"] + _CONN_DIMS,
    )
    return metrics_to_components(counters)


SQL_SG_COMPONENTS = _SG_CONN_CTE + """
SELECT DISTINCT db_target AS external_id,
       'database' AS type_name,
       server AS name,
       'urn:stackpack:common:layer:databases' AS layer,
       client_namespace AS tag_service_namespace,
       client AS tag_service_name
FROM conn WHERE connection_type = 'database' AND client_peer_service IS NULL
"""


def _a7_resources(spark, sf):
    from .operators.textops import spread
    from .operators.topology_derive import resource_attrs_from_events

    # the derived attrs are functions of (user_id, event_id) ONLY: project
    # narrow, then spread — the driver's events file is a single parquet
    # row group, so without the repartition the whole when/concat cascade
    # + candidate explode + partial distinct would run in ONE scan task
    return resource_attrs_from_events(
        spread(_t(spark, sf, "events").select("user_id", "event_id"))
    )


def q_a7_resource_components(spark, sf):
    """A7: resource-attrs -> component derivation cascade
    (ststopologyexporter/internal/topology.go:29-198)."""
    from .operators.topology_derive import derive_components

    return derive_components(_a7_resources(spark, sf))


def q_a7_resource_relations(spark, sf):
    """A7: resource-attrs -> relation derivation (provided-by / executes /
    kubernetes-to-otel)."""
    from .operators.topology_derive import derive_relations

    return derive_relations(_a7_resources(spark, sf))


_A7_CTE = """
WITH r AS (
  SELECT CASE WHEN event_id%11<>0 THEN 'svc-'||CAST(user_id%6 AS VARCHAR) END AS service_name,
         CASE WHEN event_id%4<>0 THEN 'ns-'||CAST(user_id%3 AS VARCHAR) END AS service_namespace,
         CASE WHEN event_id%3<>0 THEN 'inst-'||CAST(event_id%20 AS VARCHAR) END AS service_instance_id,
         CASE WHEN event_id%5<2 THEN 'host-'||CAST(user_id%10 AS VARCHAR) END AS host_id,
         CASE WHEN event_id%5=2 THEN 'fn-'||CAST(user_id%7 AS VARCHAR) END AS faas_id,
         CASE WHEN event_id%5=3 THEN 'task-'||CAST(user_id%5 AS VARCHAR) END AS ecs_task_id,
         CASE WHEN event_id%7<2 THEN 'cl-'||CAST(user_id%2 AS VARCHAR) END AS k8s_cluster,
         CASE WHEN event_id%7=0 THEN 'kns-'||CAST(user_id%3 AS VARCHAR) END AS k8s_namespace,
         CASE WHEN event_id%7=0 THEN 'pod-'||CAST(event_id%50 AS VARCHAR) END AS k8s_pod
  FROM events
), v AS (
  SELECT *, COALESCE(service_namespace, 'default') AS ns,
         COALESCE(service_instance_id, service_name) AS inst_id
  FROM r WHERE service_name IS NOT NULL
), w AS (
  SELECT *,
    'urn:opentelemetry:namespace/'||ns AS ns_urn,
    'urn:opentelemetry:namespace/'||ns||':service/'||service_name AS svc_urn,
    'urn:opentelemetry:namespace/'||ns||':service/'||service_name
      ||':serviceInstance/'||inst_id AS inst_urn,
    CASE WHEN service_instance_id IS NOT NULL
         THEN service_name||' - '||service_instance_id
         ELSE service_name||' - instance' END AS inst_name,
    CASE WHEN host_id IS NOT NULL THEN 'urn:opentelemetry:host/'||host_id
         WHEN faas_id IS NOT NULL THEN 'urn:opentelemetry:function/'||faas_id
         WHEN ecs_task_id IS NOT NULL THEN 'urn:opentelemetry:task/'||ecs_task_id
         END AS host_urn,
    CASE WHEN host_id IS NOT NULL THEN 'host'
         WHEN faas_id IS NOT NULL THEN 'function'
         WHEN ecs_task_id IS NOT NULL THEN 'task' END AS host_type,
    COALESCE(host_id, faas_id, ecs_task_id) AS host_name,
    CASE WHEN k8s_cluster IS NOT NULL AND k8s_namespace IS NOT NULL
              AND k8s_pod IS NOT NULL
         THEN 'urn:opentelemetry:kubernetes:/'||k8s_cluster||':'||k8s_namespace
              ||':pod/'||k8s_pod END AS pod_urn
  FROM v
)
"""

SQL_A7_COMPONENTS = _A7_CTE + """
SELECT ns_urn AS external_id, 'namespace' AS type_name, ns AS name FROM w
UNION
SELECT svc_urn, 'service', service_name FROM w
UNION
SELECT inst_urn, 'service-instance', inst_name FROM w
UNION
SELECT host_urn, host_type, host_name FROM w WHERE host_urn IS NOT NULL
UNION
SELECT pod_urn, 'pod', k8s_pod FROM w WHERE pod_urn IS NOT NULL
"""

SQL_A7_RELATIONS = _A7_CTE + """
SELECT svc_urn||'-'||inst_urn AS external_id, svc_urn AS source_identifier,
       inst_urn AS target_identifier, 'provided-by' AS type_name FROM w
UNION
SELECT host_urn||'-'||inst_urn, host_urn, inst_urn, 'executes'
FROM w WHERE host_urn IS NOT NULL
UNION
SELECT pod_urn||'-'||inst_urn, pod_urn, inst_urn, 'kubernetes-to-otel'
FROM w WHERE pod_urn IS NOT NULL
"""


def q_k6_intake_groups(spark, sf):
    """K6/A9: per-API-key grouped, ExternalID-sorted intake payloads
    (exporter.go:44-54, topology.go:335-355); the order digest pins the
    canonical ordering cross-engine."""
    from .operators.intake import intake_payloads

    e = _t(spark, sf, "events").select("user_id", "event_type")
    api_key = F.concat(F.lit("key-"), (F.col("user_id") % 4).cast("string"))
    comps = (
        e.where(F.col("event_type") == "signup")
        .select(
            api_key.alias("api_key"),
            F.concat(F.lit("urn:event:user/"), F.col("user_id").cast("string"))
            .alias("external_id"),
            F.col("user_id").cast("string").alias("name"),
            F.lit("user").alias("type_name"),
        )
    )
    src = F.concat(F.lit("urn:user/"), F.col("user_id").cast("string"))
    tgt = F.concat(F.lit("urn:type/"), F.col("event_type"))
    rels = (
        e.where(F.col("event_type").isin("purchase", "signup"))
        .select(
            api_key.alias("api_key"),
            F.concat_ws("-", src, tgt).alias("external_id"),
            src.alias("source_identifier"),
            tgt.alias("target_identifier"),
            F.lit("emits").alias("type_name"),
        )
    )
    return intake_payloads(comps, rels).select(
        "api_key", "n_components", "n_relations",
        "components_order_digest", "relations_order_digest",
    )


SQL_K6 = """
WITH c AS (
  SELECT DISTINCT 'key-'||CAST(user_id%4 AS VARCHAR) AS api_key,
         'urn:event:user/'||CAST(user_id AS VARCHAR) AS external_id
  FROM events WHERE event_type = 'signup'
), r AS (
  SELECT DISTINCT 'key-'||CAST(user_id%4 AS VARCHAR) AS api_key,
         'urn:user/'||CAST(user_id AS VARCHAR)||'-urn:type/'||event_type AS external_id
  FROM events WHERE event_type IN ('purchase', 'signup')
), cg AS (
  SELECT api_key, COUNT(*) AS n_components,
         md5(string_agg(external_id, ',' ORDER BY external_id)) AS cd
  FROM c GROUP BY api_key
), rg AS (
  SELECT api_key, COUNT(*) AS n_relations,
         md5(string_agg(external_id, ',' ORDER BY external_id)) AS rd
  FROM r GROUP BY api_key
)
SELECT COALESCE(cg.api_key, rg.api_key) AS api_key,
       CAST(COALESCE(n_components, 0) AS INT) AS n_components,
       CAST(COALESCE(n_relations, 0) AS INT) AS n_relations,
       COALESCE(cd, md5('')) AS components_order_digest,
       COALESCE(rd, md5('')) AS relations_order_digest
FROM cg FULL OUTER JOIN rg ON cg.api_key = rg.api_key
"""


def q_k3_traces_sink(spark, sf):
    """K3: complete ClickHouse traces sink shape — events/links Nested
    arrays + content-addressed ResourceRef (exporter_traces.go:104-178,
    DDL :214-249). Arrays are digest-projected for cross-engine hashing:
    failed spans carry one 'exception' event; producer spans one link."""
    from .operators.exporters import EVENT_STRUCT, LINK_STRUCT, traces_table

    spans = _sg_spans(spark, sf)
    spans = spans.withColumn(
        "events",
        F.when(
            F.col("failed"),
            F.array(
                F.struct(
                    F.col("end_ts").alias("ts"), F.lit("exception").alias("name")
                )
            ),
        ).cast(EVENT_STRUCT),
    ).withColumn(
        "links",
        F.when(
            F.col("kind") == "PRODUCER",
            F.array(
                F.struct(
                    F.col("trace_id").alias("trace_id"),
                    F.lit("").alias("span_id"),
                    F.lit("sampled").alias("trace_state"),
                )
            ),
        ).cast(LINK_STRUCT),
    )
    t = traces_table(spans)
    return t.select(
        "resource_ref", "trace_id", "span_id", "parent_span_id", "span_kind",
        "service_name", "duration_ns", "status_code", "span_parent_type",
        F.size("events_name").alias("n_events"),
        F.md5(F.concat_ws("|", "events_name")).alias("events_digest"),
        F.size("links_trace_id").alias("n_links"),
        F.md5(F.concat_ws("|", "links_trace_id", "links_trace_state")).alias(
            "links_digest"
        ),
    )


SQL_K3 = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         (CAST(floor(value*10) AS BIGINT) % 2000) AS lat_ms,
         (event_type='purchase' AND event_id%10<2) AS is_db,
         (event_type='click' AND event_id%5=0) AS is_unmatched,
         (event_type='signup') AS is_async,
         (event_type='error' AND event_id%2=0) AS cfail,
         (event_type='error' AND event_id%3=0) AS sfail,
         list_value('frontend','checkout','payments','cart','shipping','auth') AS s
  FROM events
), spans AS (
  SELECT CAST(event_id AS VARCHAR) AS trace_id,
         'c-'||CAST(event_id AS VARCHAR) AS span_id,
         '' AS parent_span_id,
         CASE WHEN is_async THEN 'PRODUCER' ELSE 'CLIENT' END AS kind,
         s[CAST(user_id%6 AS INT)+1] AS service,
         0.0 AS start_ts, lat_ms/1000.0 AS end_ts, cfail AS failed
  FROM e
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         's-'||CAST(event_id AS VARCHAR),
         'c-'||CAST(event_id AS VARCHAR),
         CASE WHEN is_async THEN 'CONSUMER' ELSE 'SERVER' END,
         s[CAST((user_id+1+event_id%3)%6 AS INT)+1],
         0.0, lat_ms/2000.0, sfail
  FROM e WHERE NOT is_db AND NOT is_unmatched
)
SELECT md5(service) AS resource_ref, trace_id, span_id, parent_span_id,
       kind AS span_kind, service AS service_name,
       CAST(floor((end_ts - start_ts) * 1e9) AS BIGINT) AS duration_ns,
       CASE WHEN failed THEN 'Error' ELSE 'Unset' END AS status_code,
       CASE WHEN parent_span_id = '' THEN 'ROOT'
            WHEN kind IN ('SERVER','CONSUMER') THEN 'EXTERNAL'
            ELSE 'INTERNAL' END AS span_parent_type,
       CAST(CASE WHEN failed THEN 1 ELSE 0 END AS INT) AS n_events,
       md5(CASE WHEN failed THEN 'exception' ELSE '' END) AS events_digest,
       CAST(CASE WHEN kind = 'PRODUCER' THEN 1 ELSE 0 END AS INT) AS n_links,
       md5(CASE WHEN kind = 'PRODUCER' THEN trace_id||'|sampled' ELSE '' END)
         AS links_digest
FROM spans
"""


def q_p14_ottl_transform(spark, sf):
    """P14: OTTL set/delete_key statements over an attrs map
    (transform-processor analog, telemetry-gateway.yaml:31-45) — applied
    in order, `where`-gated, nulls keep keys absent."""
    from .operators.ottl import apply_ottl
    from .operators.textops import spread

    # spread: the per-row JSON extraction below is the dominant cost and
    # would serialize in the one-task scan of the single-row-group file
    e = spread(
        _t(spark, sf, "events").select("event_id", "event_type", "value", "props")
    ).select(
        "event_id",
        "event_type",
        "value",
        F.map_from_arrays(
            F.array(F.lit("k"), F.lit("type")),
            F.array(
                F.get_json_object("props", "$.k"),
                F.col("event_type"),
            ),
        ).alias("attrs"),
    )
    out = apply_ottl(
        e,
        [
            'set(attrs["env"], case when value > 100 then \'hot\' end)',
            'delete_key(attrs, "k") where event_type = \'click\'',
        ],
    )
    return out.select(
        "event_id",
        F.size("attrs").alias("n_attrs"),
        F.col("attrs").getItem("env").alias("env"),
        F.col("attrs").getItem("k").alias("k_attr"),
    )


SQL_P14 = """
SELECT event_id,
       CAST(1 + (CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
              + (CASE WHEN value > 100 THEN 1 ELSE 0 END) AS INT) AS n_attrs,
       CASE WHEN value > 100 THEN 'hot' END AS env,
       CASE WHEN event_type = 'click' THEN NULL
            ELSE json_extract_string(props, '$.k') END AS k_attr
FROM events
"""


def q_r4_topic_override(spark, sf):
    """R4: per-record topic override via the stskafka.topic attr
    (stskafkaexporter/exporter.go:22-27, :182-184)."""
    from .operators.routing import with_topic

    e = _t(spark, sf, "events").select(
        "event_id",
        F.when(
            F.col("event_type") == "error",
            F.create_map(F.lit("stskafka.topic"), F.lit("sts_internal_errors")),
        )
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("attrs"),
    )
    return (
        with_topic(e, default_topic="sts_topology")
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_R4 = """
SELECT CASE WHEN event_type = 'error' THEN 'sts_internal_errors'
            ELSE 'sts_topology' END AS topic,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_lang_id(spark, sf):
    return language_id(_t(spark, sf, "documents"))


SQL_LANG_ID = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
h AS (
  SELECT doc_id,
    len(list_filter(toks, t -> t IN ('the','and','of','with','from'))) AS en_hits,
    len(list_filter(toks, t -> t IN ('el','y','de','con','desde'))) AS es_hits,
    len(list_filter(toks, t -> t IN ('der','und','von','mit','aus'))) AS de_hits
  FROM t
)
SELECT doc_id, CAST(en_hits AS INT) AS en_hits, CAST(es_hits AS INT) AS es_hits,
       CAST(de_hits AS INT) AS de_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
            WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS predicted_lang
FROM h
"""


def q_quality_scores(spark, sf):
    return quality_scores(_t(spark, sf, "documents"))


SQL_QUALITY = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS mean_token_len,
         round(CAST(len(list_filter(toks, x -> x IN ('the','and','of','with','from'))) AS DOUBLE) / len(toks), 4) AS stopword_ratio
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, mean_token_len, stopword_ratio,
       CASE WHEN n_tokens >= 32 AND stopword_ratio <= 0.2 THEN 'high'
            WHEN n_tokens >= 16 THEN 'mid' ELSE 'low' END AS quality_bucket
FROM f
"""


def q_token_counts(spark, sf):
    return token_counts(_t(spark, sf, "documents"))


SQL_TOKENS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens
FROM documents
"""


def q_fingerprints(spark, sf):
    return fingerprints(_t(spark, sf, "documents"))


SQL_FINGERPRINTS = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
FROM documents
"""


def q_fingerprints_winnow(spark, sf):
    """Winnowing fingerprints (MOSS): per-window minima of md5-derived
    k-gram rolling hashes — row-local HOFs, zero shuffles. Set-valued
    output compared via sorted-distinct digest."""
    from .operators.textops import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf, "documents"), k=5, window=4)


SQL_FINGERPRINTS_WINNOW = """
WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 5
              THEN list_transform(range(1, length(s) - 5 + 2),
                   i -> ((((CAST(ord(substr(s, CAST(i AS INT), 1)) AS BIGINT) * 257
                          + ord(substr(s, CAST(i+1 AS INT), 1))) * 257
                          + ord(substr(s, CAST(i+2 AS INT), 1))) * 257
                          + ord(substr(s, CAST(i+3 AS INT), 1))) * 257
                          + ord(substr(s, CAST(i+4 AS INT), 1))))
              ELSE [] END AS h
  FROM t
), w AS (
  SELECT doc_id, len(h) AS ng,
         CASE WHEN len(h) >= 4
              THEN list_sort(list_distinct(
                   list_transform(range(1, len(h) - 4 + 2),
                                  i -> list_min(h[i:i+3]))))
              ELSE [] END AS fps
  FROM g
)
SELECT doc_id,
       CAST(ng AS INT) AS n_grams,
       CAST(len(fps) AS INT) AS n_fingerprints,
       md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ','))
         AS fingerprints_digest
FROM w
"""


def q_ann_cosine_topk(spark, sf):
    return cosine_topk(_t(spark, sf, "embeddings"), query_vec_id=0, k=10)


SQL_ANN_TOPK = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
               / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ann_lsh_buckets(spark, sf):
    return lsh_buckets(_t(spark, sf, "embeddings"), n_planes=4)


# NOTE: defined lazily below (after _lsh_bucket_sql) — see SQL_ANN_LSH.


def q_ann_ivf_assign(spark, sf):
    from .operators.similarity import ivf_assign

    return ivf_assign(_t(spark, sf, "embeddings"), n_centroids=8)


SQL_ANN_IVF = """
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, v AS cv FROM p WHERE vec_id < 8
), scored AS (
  SELECT p.vec_id, c.centroid_id,
         round(list_dot_product(p.v, c.cv)
               / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS sim
  FROM p CROSS JOIN c
), best AS (
  SELECT vec_id, centroid_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
)
SELECT centroid_id, COUNT(*) AS cluster_size FROM best GROUP BY centroid_id
"""


def q_ann_kmeans_refine(spark, sf):
    """One Lloyd iteration of the IVF build: seed-assign -> per-dim mean
    recompute (rounded to pin cross-engine double summation) -> re-assign.
    Cluster sizes of the refined partitioning."""
    from .operators.similarity import kmeans_refine

    return kmeans_refine(_t(spark, sf, "embeddings"), n_centroids=8)


SQL_ANN_KMEANS_REFINE = """
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS centroid_id, v AS cv FROM p WHERE vec_id < 8
), s0 AS (
  SELECT p.vec_id, c0.centroid_id,
         round(list_dot_product(p.v, c0.cv)
               / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c0.cv, c0.cv))), 4) AS sim
  FROM p CROSS JOIN c0
), a0 AS (
  SELECT vec_id, centroid_id FROM s0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
), d AS (
  SELECT a0.centroid_id, generate_subscripts(p.v, 1) - 1 AS dim, unnest(p.v) AS val
  FROM a0 JOIN p USING (vec_id)
), m AS (
  SELECT centroid_id, dim, round(avg(val), 4) AS mval FROM d GROUP BY 1, 2
), c1 AS (
  SELECT centroid_id, list(mval ORDER BY dim) AS cv FROM m GROUP BY 1
), s1 AS (
  SELECT p.vec_id, c1.centroid_id,
         round(list_dot_product(p.v, c1.cv)
               / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c1.cv, c1.cv))), 4) AS sim
  FROM p CROSS JOIN c1
), a1 AS (
  SELECT vec_id, centroid_id FROM s1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
)
SELECT centroid_id, COUNT(*) AS cluster_size FROM a1 GROUP BY centroid_id
"""


def q_ann_pq_codes(spark, sf):
    """PQ encode: every vector's per-subspace nearest-codebook-centroid
    codes (m=4 subspaces x 16 dims, k=8 codes, seeded codebooks) — the
    64x-compression step of Jégou et al.'s product quantization.
    Exploded to (vec_id, subspace, code) for direct value compare."""
    from .operators.similarity import pq_codes

    return pq_codes(_t(spark, sf, "embeddings"), m=4, k=8, dim=64).select(
        "vec_id", F.posexplode(F.col("codes")).alias("subspace", "code")
    )


SQL_ANN_PQ_CODES = """
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), sub AS (
  SELECT vec_id, j.subspace,
         list_slice(v, j.subspace*16 + 1, j.subspace*16 + 16) AS sv
  FROM p CROSS JOIN (SELECT unnest([0,1,2,3]) AS subspace) j
), books AS (
  SELECT subspace, CAST(vec_id AS INT) AS code, sv AS cv
  FROM sub WHERE vec_id < 8
), scored AS (
  SELECT s.vec_id, s.subspace, b.code,
         round(list_sum(list_transform(range(1, 17),
               i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))), 4) AS d2
  FROM sub s JOIN books b USING (subspace)
)
SELECT vec_id, subspace, code FROM scored
QUALIFY row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2, code) = 1
"""


def q_ann_pq_adc_topk(spark, sf):
    """PQ asymmetric-distance search: approx distance = sum of the
    per-subspace lookup-table entries for each vector's codes. The scan
    reads only the 4-int codes, never the 64-float embeddings — the PQ
    memory story at 10^12 vectors."""
    from .operators.similarity import pq_adc_topk

    return pq_adc_topk(
        _t(spark, sf, "embeddings"), query_vec_id=0, k_top=10, m=4, k=8, dim=64
    )


SQL_ANN_PQ_ADC_TOPK = """
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), sub AS (
  SELECT vec_id, j.subspace,
         list_slice(v, j.subspace*16 + 1, j.subspace*16 + 16) AS sv
  FROM p CROSS JOIN (SELECT unnest([0,1,2,3]) AS subspace) j
), books AS (
  SELECT subspace, CAST(vec_id AS INT) AS code, sv AS cv
  FROM sub WHERE vec_id < 8
), scored AS (
  SELECT s.vec_id, s.subspace, b.code,
         round(list_sum(list_transform(range(1, 17),
               i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))), 4) AS d2
  FROM sub s JOIN books b USING (subspace)
), codes AS (
  SELECT vec_id, subspace, code FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2, code) = 1
), q AS (
  SELECT subspace, sv AS qv FROM sub WHERE vec_id = 0
), lut AS (
  SELECT b.subspace, b.code,
         round(list_sum(list_transform(range(1, 17),
               i -> (b.cv[i] - q.qv[i]) * (b.cv[i] - q.qv[i]))), 4) AS d2
  FROM books b JOIN q USING (subspace)
)
SELECT c.vec_id,
       round(list_sum(list(l.d2 ORDER BY c.subspace)), 4) AS approx_d2
FROM codes c JOIN lut l USING (subspace, code)
WHERE c.vec_id <> 0
GROUP BY c.vec_id
ORDER BY approx_d2, c.vec_id
LIMIT 10
"""


def q_embedding_near_dup(spark, sf):
    """Per-label near-dup pair counts. Candidates come from the stacked-band
    LSH generator (label filters post-candidates) — the all-pairs
    label-blocked self-join this query used in rounds 1-2 is retired; the
    oracle mirrors the same band/bucket candidate restriction."""
    return near_dup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.9, n_planes=8, bands=2
    )


# NOTE: defined lazily below (after _lsh_bucket_sql) — see SQL_NEAR_DUP.


def q_ann_ivf_topk(spark, sf):
    """IVF search: probe the nprobe nearest clusters only, exact cosine
    within — the query half of ann_ivf_assign."""
    from .operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf, "embeddings"), query_vec_id=0, k=10, nprobe=2)


SQL_ANN_IVF_TOPK = """
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, v AS cv FROM p WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT p.vec_id, p.v, c.centroid_id,
           round(list_dot_product(p.v, c.cv)
                 / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS sim
    FROM p CROSS JOIN c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
), q AS (SELECT v AS qv FROM p WHERE vec_id = 0
), probe AS (
  SELECT centroid_id FROM c, q
  ORDER BY round(list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 4) DESC,
           centroid_id
  LIMIT 2
)
SELECT a.vec_id,
       round(list_dot_product(a.v, q.qv)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
FROM assigned a JOIN probe USING (centroid_id), q
WHERE a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id LIMIT 10
"""


def q_k5_metrics_dispatch(spark, sf):
    """K5: metrics sink 5-type dispatch + int/double value coalesce
    (exporter_metrics.go:73-83, metrics_model.go:147-179): one stream fans
    to five typed tables; per-type counts + exact integer-cents sums."""
    from .operators.exporters import METRIC_TYPES, dispatch_metrics

    e = _t(spark, sf, "events")
    types = F.array(*[F.lit(t) for t in METRIC_TYPES])
    metrics = e.select(
        F.concat(F.lit("m_"), F.col("event_type")).alias("metric_name"),
        F.element_at(types, (F.col("user_id") % 5 + 1).cast("int")).alias(
            "metric_type"
        ),
        F.col("ts"),
        F.when(F.col("event_id") % 2 == 0, F.floor("value").cast("long")).alias(
            "int_value"
        ),
        F.when(F.col("event_id") % 2 == 1, F.col("value")).alias("double_value"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    routed = dispatch_metrics(metrics)
    parts = [
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.floor(F.col("value") * 100).cast("long")), F.lit(0)
            ).alias("value_cents"),
        ).select(F.lit(t).alias("metric_type"), "n", "value_cents")
        for t, df in sorted(routed.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_K5 = """
WITH m AS (
  SELECT list_value('gauge','sum','histogram','exp_histogram','summary')
           [CAST(user_id%5 AS INT)+1] AS metric_type,
         COALESCE(CASE WHEN event_id%2=0 THEN CAST(floor(value) AS DOUBLE) END,
                  CASE WHEN event_id%2=1 THEN value END) AS value
  FROM events
)
SELECT t.metric_type, COALESCE(n, 0) AS n,
       CAST(COALESCE(value_cents, 0) AS BIGINT) AS value_cents
FROM (SELECT unnest(list_value('exp_histogram','gauge','histogram','sum','summary')) AS metric_type) t
LEFT JOIN (
  SELECT metric_type, COUNT(*) AS n,
         CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM m GROUP BY metric_type
) g USING (metric_type)
"""


def _lsh_bucket_sql(var: str = "v", n_planes: int = 4, plane_offset: int = 0) -> str:
    """DuckDB mirror of similarity.lsh_bucket_expr: the ±1 hyperplanes are
    generated by the SAME python function (plane_signs) and embedded as
    list literals, so both engines fold identical doubles left-to-right."""
    from .operators.similarity import plane_signs

    terms = []
    for j in range(n_planes):
        signs = "[" + ", ".join(str(s) for s in plane_signs(plane_offset + j)) + "]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(range(1, 65), i -> {var}[i] * "
            f"({signs})[i])) > 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


SQL_ANN_LSH = f"""
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b AS (
  SELECT vec_id, CAST({_lsh_bucket_sql()} AS INT) AS bucket FROM p
)
SELECT bucket, COUNT(*) AS bucket_size FROM b GROUP BY 1
"""


def q_ann_lsh_topk(spark, sf):
    """ANN probe: exact cosine only within the query's sign-LSH bucket —
    at scale the bucket is the partition key (one-bucket scan)."""
    from .operators.similarity import ann_lsh_topk

    return ann_lsh_topk(_t(spark, sf, "embeddings"), query_vec_id=0, k=10)


SQL_ANN_LSH_TOPK = f"""
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, CAST({_lsh_bucket_sql()} AS INT) AS bucket FROM p
), q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
FROM b, q WHERE b.bucket = q.qb AND b.vec_id <> 0
ORDER BY cos_sim DESC, b.vec_id LIMIT 10
"""


def q_ann_lsh_topk_multiprobe(spark, sf):
    """Multiprobe ANN: the query's LSH bucket + its n_planes Hamming-1
    neighbor buckets — the recall knob over the one-bucket probe; scan
    still touches (n_planes+1)/2^n_planes of the data."""
    from .operators.similarity import ann_lsh_topk_multiprobe

    return ann_lsh_topk_multiprobe(
        _t(spark, sf, "embeddings"), query_vec_id=0, k=10
    )


SQL_ANN_LSH_TOPK_MULTIPROBE = f"""
WITH p AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, CAST({_lsh_bucket_sql()} AS INT) AS bucket FROM p
), q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
probes AS (
  SELECT qv, unnest(list_value(qb, xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8))) AS bucket
  FROM q
)
SELECT b.vec_id,
       round(list_dot_product(b.v, probes.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(probes.qv, probes.qv))), 4) AS cos_sim
FROM b JOIN probes ON b.bucket = probes.bucket
WHERE b.vec_id <> 0
ORDER BY cos_sim DESC, b.vec_id LIMIT 10
"""


def q_embedding_near_dup_lsh(spark, sf):
    """Embedding near-dup, stacked-band sign-LSH candidate generation (the
    scale path: (band, bucket) equi-joins, no label blocking, no all-pairs;
    two disjoint 8-plane bands OR'd together ~doubles recall at cos>=0.9
    for one extra linear probe)."""
    from .operators.similarity import near_dup_pairs_lsh

    # 8 planes => 256 buckets/band: bucket population ~n/256 keeps the
    # within-bucket exact-cosine pass subquadratic at bench scale
    return near_dup_pairs_lsh(
        _t(spark, sf, "embeddings"), threshold=0.9, n_planes=8, bands=2
    )


def _banded_lsh_cte(n_planes: int = 8, bands: int = 2, extra: str = "") -> str:
    """Shared candidate CTE for the stacked-band near-dup oracles: one
    (band, bucket) row per vector per band, normalized vectors, DISTINCT
    candidate pairs above threshold (a pair colliding in several bands
    counts once). `extra` carries additional projected columns (e.g.
    ', label')."""
    bucket_cols = ",\n         ".join(
        f"CAST({_lsh_bucket_sql(n_planes=n_planes, plane_offset=b * n_planes)} AS INT)"
        f" AS bucket{b}"
        for b in range(bands)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id{extra}, nv, {b} AS band, bucket{b} AS bucket FROM b"
        for b in range(bands)
    )
    extra_a = "".join(f", a.{c.strip()} AS {c.strip()}_a" for c in extra.split(",") if c.strip())
    extra_b = "".join(f", b2.{c.strip()} AS {c.strip()}_b" for c in extra.split(",") if c.strip())
    return f"""
WITH p AS (
  SELECT vec_id{extra}, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), pn AS (
  SELECT vec_id{extra}, v, sqrt(list_dot_product(v, v)) AS n,
         {bucket_cols}
  FROM p
), b AS (
  SELECT vec_id{extra}, list_transform(v, x -> x / n) AS nv,
         {", ".join(f"bucket{b}" for b in range(bands))}
  FROM pn
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b{extra_a}{extra_b},
         round(list_dot_product(a.nv, b2.nv), 4) AS cos_sim
  FROM banded a JOIN banded b2 ON a.band = b2.band AND a.bucket = b2.bucket
                             AND a.vec_id < b2.vec_id
  WHERE round(list_dot_product(a.nv, b2.nv), 4) >= 0.9
)
"""


SQL_NEAR_DUP_LSH = _banded_lsh_cte() + """
SELECT vec_a, vec_b, cos_sim FROM cand
"""

SQL_NEAR_DUP = _banded_lsh_cte(extra=", label") + """
SELECT label_a AS label, COUNT(*) AS near_dup_pairs
FROM cand WHERE label_a = label_b GROUP BY 1
"""


# ---------------------------------------------------------------------------
# catalog

# Dict ORDER is meaningful: the correctness driver checks the first 50
# entries. Queries added or rewritten most recently sit at the FRONT so
# every not-yet-driver-verified (or just-changed) query lands inside the
# check window; long-stable queries (driver-green since r2/r3, unchanged
# since) rotate to the tail.
QUERIES = {
    # Driver-window rotation policy (standing invariant since r5): the
    # driver checks the FIRST 50 entries each round. Window composition:
    #   (1) every query rotated out of the previous round's window
    #       (no catalog query goes >2 rounds without a driver row),
    #   (2) every query added this round,
    #   (3) every query whose operator code changed this round.
    # The tail is prior-round driver-green with untouched code, and stays
    # green in the local all-catalog mirror (tests/test_oracle.py).
    # --- (1) the 22 queries rotated out of the r4 window (r3-certified)
    "a3_histogram": q_a3_histogram,
    "a6_envelope_groups": q_a6_envelope_groups,
    "w1_tumbling_rollup": q_w1_tumbling_rollup,
    "tpch_q1": q_tpch_q1,
    "r1_shard_routing": q_r1_shard_routing,
    "r3_fanout_counts": q_r3_fanout_counts,
    "s3_cdc_diff": q_s3_cdc_diff,
    "p16_auth_quarantine": q_p16_auth_quarantine,
    "a6_envelope_split": q_a6_envelope_split,
    "w2_sessionize": q_w2_sessionize,
    "set_ops": q_set_ops,
    "tpch_q3_agg": q_tpch_q3_agg,
    "sg_edge_metrics": q_sg_edge_metrics,
    "sg_latency_quantiles": q_sg_latency_quantiles,
    "sg_relations": q_sg_relations,
    "sg_components": q_sg_components,
    "a7_resource_components": q_a7_resource_components,
    "a7_resource_relations": q_a7_resource_relations,
    "k6_intake_groups": q_k6_intake_groups,
    "k3_traces_sink": q_k3_traces_sink,
    "p14_ottl_transform": q_p14_ottl_transform,
    "r4_topic_override": q_r4_topic_override,
    # --- (2) r5 additions
    "k5_exp_histogram_passthrough": q_k5_exp_histogram_passthrough,
    "bigram_backoff_scored": q_bigram_backoff_scored,
    "line_dedup": q_line_dedup,
    "ccnet_buckets": q_ccnet_buckets,
    "ann_pq_codes": q_ann_pq_codes,
    "ann_pq_adc_topk": q_ann_pq_adc_topk,
    # --- (3) queries whose operator code changed in r5
    "d1_dedup_first_wins": q_d1_dedup_first_wins,
    "k5_exp_histogram": q_k5_exp_histogram,
    "k5_exp_histogram_scaled": q_k5_exp_histogram_scaled,
    "k5_exp_histogram_fine": q_k5_exp_histogram_fine,
    "dedup_groups": q_near_dup_groups,
    "dedup_groups_star": q_near_dup_groups_star,
    "dedup_apply": q_dedup_apply,
    "dedup_apply_best": q_dedup_apply_best,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "incremental_dedup": q_incremental_dedup,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "bigram_logprob": q_bigram_logprob,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    # --- tail (out of the 50-entry driver window): driver-green at r4,
    # code untouched in r5; verified every round by tests/test_oracle.py
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "token_counts": q_token_counts,
    "fingerprints": q_fingerprints,
    "fingerprints_winnow": q_fingerprints_winnow,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_assign": q_ann_ivf_assign,
    "ann_kmeans_refine": q_ann_kmeans_refine,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_lsh_topk_multiprobe": q_ann_lsh_topk_multiprobe,
    "k5_metrics_dispatch": q_k5_metrics_dispatch,
    "source_quality_rollup": q_source_quality_rollup,
    "p2_condition_filter": q_p2_condition_filter,
    "p3_expression_transform": q_p3_expression_transform,
    "p7_component_projection": q_p7_component_projection,
    "p8_relation_projection": q_p8_relation_projection,
    "p11_json_body_extract": q_p11_json_body_extract,
    "p15_usage_bytes": q_p15_usage_bytes,
    "d3_refresh_window_dedup": q_d3_refresh_window_dedup,
    "d4_settings_diff": q_d4_settings_diff,
    "d5_resource_content_hash": q_d5_resource_content_hash,
    "dedup_exact": q_dedup_exact,
    "repetition_stats": q_repetition_stats,
    "quality_gate": q_quality_gate,
    "unigram_logprob": q_unigram_logprob,
    "tfidf_top_terms": q_tfidf_top_terms,
    "stratified_sample": q_stratified_sample,
    "decontaminate": q_decontaminate,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_simhash": q_simhash,
    "j1_pair_join": q_j1_pair_join,
    "j2_broadcast_enrich": q_j2_broadcast_enrich,
    "j3_enrichment_cascade": q_j3_enrichment_cascade,
    "a1_edge_counters": q_a1_edge_counters,
}

ORACLES = {
    "p2_condition_filter": SQL_P2,
    "p3_expression_transform": SQL_P3,
    "p7_component_projection": SQL_P7,
    "p8_relation_projection": SQL_P8,
    "p11_json_body_extract": SQL_P11,
    "p15_usage_bytes": SQL_P15,
    "d1_dedup_first_wins": SQL_D1,
    "d3_refresh_window_dedup": SQL_D3,
    "d4_settings_diff": SQL_D4,
    "d5_resource_content_hash": SQL_D5,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_groups": SQL_NEAR_DUP_GROUPS,
    "dedup_apply": SQL_DEDUP_APPLY,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "repetition_stats": SQL_REPETITION_STATS,
    "quality_gate": SQL_QUALITY_GATE,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_minhash_lsh": SQL_MINHASH_LSH,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_simhash_pairs": SQL_SIMHASH_PAIRS,
    "j1_pair_join": SQL_J1,
    "j2_broadcast_enrich": SQL_J2,
    "j3_enrichment_cascade": SQL_J3,
    "a1_edge_counters": SQL_A1,
    "a3_histogram": SQL_A3,
    "a6_envelope_groups": SQL_A6,
    "w1_tumbling_rollup": SQL_W1,
    "tpch_q1": SQL_TPCH_Q1,
    "r1_shard_routing": SQL_R1,
    "r3_fanout_counts": SQL_R3,
    "sg_edge_metrics": SQL_SG_EDGE_METRICS,
    "sg_latency_quantiles": SQL_SG_LATENCY_QUANTILES,
    "sg_relations": SQL_SG_RELATIONS,
    "sg_components": SQL_SG_COMPONENTS,
    "a7_resource_components": SQL_A7_COMPONENTS,
    "a7_resource_relations": SQL_A7_RELATIONS,
    "k6_intake_groups": SQL_K6,
    "k3_traces_sink": SQL_K3,
    "p14_ottl_transform": SQL_P14,
    "r4_topic_override": SQL_R4,
    "s3_cdc_diff": SQL_S3,
    "p16_auth_quarantine": SQL_P16,
    "a6_envelope_split": SQL_A6_SPLIT,
    "w2_sessionize": SQL_W2,
    "set_ops": SQL_SET_OPS,
    "tpch_q3_agg": SQL_TPCH_Q3,
    "lang_id": SQL_LANG_ID,
    "quality_scores": SQL_QUALITY,
    "token_counts": SQL_TOKENS,
    "fingerprints": SQL_FINGERPRINTS,
    "ann_cosine_topk": SQL_ANN_TOPK,
    "ann_lsh_buckets": SQL_ANN_LSH,
    "ann_ivf_assign": SQL_ANN_IVF,
    "ann_kmeans_refine": SQL_ANN_KMEANS_REFINE,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "ann_lsh_topk_multiprobe": SQL_ANN_LSH_TOPK_MULTIPROBE,
    "k5_metrics_dispatch": SQL_K5,
    "k5_exp_histogram": SQL_K5_EXP_HISTOGRAM,
    "k5_exp_histogram_passthrough": SQL_K5_EXP_HISTOGRAM_PASSTHROUGH,
    "bigram_backoff_scored": SQL_BIGRAM_BACKOFF_SCORED,
    "line_dedup": SQL_LINE_DEDUP,
    "ccnet_buckets": SQL_CCNET_BUCKETS,
    "ann_pq_codes": SQL_ANN_PQ_CODES,
    "ann_pq_adc_topk": SQL_ANN_PQ_ADC_TOPK,
    "embedding_near_dup": SQL_NEAR_DUP,
    "embedding_near_dup_lsh": SQL_NEAR_DUP_LSH,
    "dedup_groups_star": SQL_NEAR_DUP_GROUPS,
    "k5_exp_histogram_scaled": SQL_K5_EXP_HISTOGRAM_SCALED,
    "k5_exp_histogram_fine": SQL_K5_EXP_HISTOGRAM_FINE,
    "fingerprints_winnow": SQL_FINGERPRINTS_WINNOW,
    "dedup_apply_best": SQL_DEDUP_APPLY_BEST,
    "source_quality_rollup": SQL_SOURCE_QUALITY_ROLLUP,
    "bigram_logprob": SQL_BIGRAM_LOGPROB,
}
