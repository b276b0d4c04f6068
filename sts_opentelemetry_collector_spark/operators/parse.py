"""Parse stage: webtext (url, warc_ts, html, ...) -> flat page-record frame.

Spark analog of the reference's receive+traverse stage: the OTLP receiver
decodes protobuf batches and the signal traverser flattens the
Resource->Scope->Leaf tree into per-record attribute views
(connector/topologyconnector/internal/signal_traverser.go:133-211,
internal/model.go:30-45). Here the "resource attributes" are the structured
markers embedded in the page html, extracted by one Arrow-vectorized pandas
UDF (the only Python in the hot path), and the hierarchy is already flat.

Plan shape: scan -> project(host via JVM-side regexp) -> single pandas UDF
(struct-returning, so one Python round-trip per batch, not five) ->
unpack struct. Column pruning pushes the scan down to just the columns
used downstream.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.text import parse_html_batch

PARSED_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("html_lang", StringType()),
        StructField("service", StringType()),
        StructField("cluster", StringType()),
        StructField("namespace", StringType()),
    ]
)


@F.pandas_udf(PARSED_STRUCT)
def _parse_html_udf(html: pd.Series) -> pd.DataFrame:
    return parse_html_batch(html)


def parse_pages(webtext: DataFrame, keep_extra: list[str] | None = None) -> DataFrame:
    """webtext -> page records with extracted_text + attribute columns.

    host/path are extracted JVM-side (regexp_extract, whole-stage codegen);
    only the html-payload extraction crosses into Python, Arrow-batched.
    The ground-truth `text` column (present only in test fixtures) is kept
    as expected_text when available.
    """
    df = webtext.withColumn("_p", _parse_html_udf(F.col("html")))
    cols = [
        F.col("url"),
        F.col("warc_ts"),
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"https?://[^/]+(/.*)$", 1).alias("path"),
        F.col("_p.text").alias("extracted_text"),
        F.col("_p.title").alias("title"),
        F.col("_p.html_lang").alias("html_lang"),
        F.col("_p.service").alias("service"),
        F.col("_p.cluster").alias("cluster"),
        F.col("_p.namespace").alias("namespace"),
        F.col("lang"),
    ]
    if "text" in webtext.columns:
        cols.append(F.col("text").alias("expected_text"))
    for c in keep_extra or []:
        cols.append(F.col(c))
    return df.select(*cols)


# P12: sensitive attributes are stripped BEFORE any mapping expression can
# read them (internal/model.go:23-28)
SENSITIVE_ATTRS = ("sts_api_key", "client_sts_api_key", "server_sts_api_key")


def strip_sensitive(attrs_col):
    return F.map_filter(
        attrs_col,
        lambda k, v: ~k.isin(*SENSITIVE_ATTRS),
    )


# the columns with_attrs mirrors into the attrs map (same name, cast to
# string) — the safe-fold list for the mapping compiler's static attribute
# resolution (attrs['k'] => CAST(k AS STRING))
ATTRS_SOURCE_COLS = ["host", "path", "title", "service", "cluster", "namespace", "lang"]


def with_attrs(parsed: DataFrame) -> DataFrame:
    """Add the open-keyed `attrs` map the mapping engine evaluates against —
    the analog of the reference's per-record attribute views
    (internal/model.go:30-45). Values stringified, null-valued keys kept out
    (map semantics: absent key == null lookup); sensitive keys stripped
    (P12) — statically, at map-BUILD time: the keys here are literals, so
    excluding sensitive names from the pair list is equivalent to the
    strip_sensitive map_filter and saves one interpreted HOF pass per row
    (map_filter lambdas don't participate in codegen)."""
    pairs = []
    for c in ATTRS_SOURCE_COLS:
        if c not in parsed.columns or c in SENSITIVE_ATTRS:
            continue
        pairs.append(F.lit(c))
        pairs.append(F.col(c).cast("string"))
    attrs = F.map_filter(F.create_map(*pairs), lambda k, v: v.isNotNull())
    return parsed.withColumn("attrs", attrs)
