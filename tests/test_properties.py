"""Property-based tests (hypothesis) for the pure-Python kernels —
no SparkSession needed, so these run anywhere instantly."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
import pandas as pd

from sts_opentelemetry_collector_spark.functions.hashes import fnv1a32_py
from sts_opentelemetry_collector_spark.functions.text import (
    extract_text_bytes,
    parse_html_batch,
)


@given(st.integers(min_value=0, max_value=0xFFFFFFFF))
@settings(max_examples=50, deadline=None)
def test_fnv_output_is_32bit(n):
    s = str(n)
    assert 0 <= fnv1a32_py(s) <= 0xFFFFFFFF


@given(st.text(alphabet=st.characters(blacklist_characters="<>", max_codepoint=0x2FFF), max_size=500))
@settings(max_examples=50, deadline=None)
def test_parse_roundtrip_byte_identical(payload):
    """Any payload embedded in the html template is extracted byte-identically."""
    html = f"<html><body><p>{payload}</p></body></html>".encode("utf-8")
    assert extract_text_bytes(html) == payload


@given(
    st.lists(
        st.text(alphabet=st.characters(blacklist_characters="<>", max_codepoint=0x2FFF), max_size=100),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=25, deadline=None)
def test_parse_batch_matches_scalar(payloads):
    htmls = [f"<html><body><p>{p}</p></body></html>".encode("utf-8") for p in payloads]
    out = parse_html_batch(pd.Series(htmls))
    assert out["text"].tolist() == payloads


def test_stupid_backoff_hand_model(spark):
    """bigram_logprob_scored pins Stupid Backoff against a hand-computed
    model: seen bigram -> c2/c1; unseen bigram with in-vocab w2 ->
    alpha*cu/N; OOV w2 -> alpha*1/N; backoff_frac counts instances."""
    import math

    from sts_opentelemetry_collector_spark.operators.textops import (
        bigram_logprob_scored,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame([(10, "a b x c")], "doc_id long, text string")
    [r] = bigram_logprob_scored(train, score).collect()
    # train: N=6 tokens, cu(c)=1; c2(a,b)=2, c1(a)=2
    # score bigrams: (a,b) seen -> ln(1); (b,x) OOV w2 -> ln(0.4*1/6);
    # (x,c) unseen prefix -> ln(0.4*1/6)
    expected = round((0.0 + 2 * math.log(0.4 / 6)) / 3, 4)
    assert r.avg_bigram_logprob == expected
    assert r.n_bigrams == 3
    assert r.backoff_frac == round(2 / 3, 4)


def test_stupid_backoff_disjoint_split_runs_clean(spark):
    """Held-out scoring never scores a train doc: output doc_ids are
    exactly the scored split with >= 2 tokens."""
    from sts_opentelemetry_collector_spark.operators.textops import (
        bigram_logprob_scored,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common w{i % 5} tail") for i in range(20)],
        "doc_id long, text string",
    )
    train = docs.where("doc_id < 15")
    score = docs.where("doc_id >= 15")
    out = bigram_logprob_scored(train, score)
    ids = {r.doc_id for r in out.collect()}
    assert ids == set(range(15, 20))


def test_line_dedup_semantics(spark):
    """Hand-pinned CCNet line-dedup semantics: a line in >= min_docs
    DISTINCT docs drops everywhere; a line repeated within ONE doc stays
    (distinct-doc count is 1); order is preserved; an all-boilerplate
    doc survives as an empty row."""
    from sts_opentelemetry_collector_spark.operators.textops import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nunique alpha\ncookie banner\nunique beta"),
            (2, "cookie banner\nunique gamma"),
            (3, "cookie banner"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs, min_docs=2).collect()}
    # 'cookie banner' is in 3 distinct docs -> boilerplate everywhere
    assert got[1].text == "unique alpha\nunique beta"
    assert got[1].n_lines_kept == 2 and got[1].n_lines_dropped == 2
    assert got[2].text == "unique gamma"
    assert got[3].text == "" and got[3].n_lines_kept == 0
    assert got[3].n_lines_dropped == 1

    # a line repeated only WITHIN one doc is not boilerplate
    solo = spark.createDataFrame(
        [(1, "echo\necho\nother"), (2, "something else")],
        "doc_id long, text string",
    )
    [r1] = [r for r in line_dedup(solo, min_docs=2).collect() if r.doc_id == 1]
    assert r1.text == "echo\necho\nother" and r1.n_lines_dropped == 0


def test_pq_seed_vectors_encode_to_themselves(spark):
    """PQ sanity pin: a vector that IS a codebook seed (vec_id < k) has
    squared-L2 distance exactly 0 to its own subvector centroid, so it
    must encode to its own code in EVERY subspace."""
    from sts_opentelemetry_collector_spark.operators.similarity import pq_codes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r.vec_id: r.codes
        for r in pq_codes(emb, m=4, k=8, dim=64).where("vec_id < 8").collect()
    }
    assert got == {i: [i, i, i, i] for i in range(8)}
