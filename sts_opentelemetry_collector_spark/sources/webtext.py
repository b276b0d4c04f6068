"""Deterministic synthetic webtext table generator (no external data).

Produces the input table required by BASELINE.json `input_hint`:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
plus the lookup dimensions used by the broadcast-join enrichment stage
(FIXTURES.md §3):
    lang_map(lang, lang_family, lang_name)
    host_topology(host, cluster, namespace, service, layer)

Design:
- Fully vectorized numpy generation, seed=42, identical output for a given
  (n_rows, seed) on any machine — the `text` column is the ground truth the
  parse stage must reproduce BYTE-IDENTICALLY from `html`.
- Hosts are drawn from a Zipf(1.3) distribution over a fixed host list, so
  host-keyed aggregations exercise skew handling (SURVEY.md §7.3.4).
- html embeds structured markers mirroring the reference's resource
  attributes (k8s cluster/namespace/service — cf.
  exporter/ststopologyexporter/internal/topology.go:29-108): a <meta> tag,
  an html lang attr, and a data-k8s span. The parse stage extracts these
  into an attrs map (the "resource attributes" of a page-record).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEED = 42

LANGS = ["en", "de", "nl", "fr", "es", "it"]
LANG_WEIGHTS = [0.42, 0.18, 0.12, 0.12, 0.10, 0.06]

LANG_MAP_ROWS = [
    ("en", "germanic", "English"),
    ("de", "germanic", "German"),
    ("nl", "germanic", "Dutch"),
    ("fr", "romance", "French"),
    ("es", "romance", "Spanish"),
    ("it", "romance", "Italian"),
]

# Language-marker stopwords: the lang-id heuristic scores on these.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "with", "from"],
    "de": ["der", "und", "von", "mit", "aus"],
    "nl": ["de", "en", "van", "met", "uit"],
    "fr": ["le", "et", "de", "avec", "dans"],
    "es": ["el", "y", "de", "con", "desde"],
    "it": ["il", "e", "di", "con", "da"],
}

_VOCAB = [
    "stream", "pipeline", "topology", "component", "relation", "signal",
    "mapping", "shard", "envelope", "snapshot", "metric", "trace", "span",
    "record", "cluster", "service", "latency", "bucket", "window", "batch",
    "partition", "broadcast", "join", "aggregate", "parse", "route", "export",
    "page", "crawl", "archive", "document", "index", "token", "vector",
]

N_HOSTS = 64
_HOSTS = [f"site{i:03d}.example.org" for i in range(N_HOSTS)]

_CLUSTERS = ["production", "staging", "dev"]
_NAMESPACES = ["web", "api", "ingest", "search"]
_LAYERS = ["frontend", "backend", "data"]

_PATH_SEGS = ["articles", "docs", "blog", "product", "archive", "news"]

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")


def host_topology_rows() -> list[tuple[str, str, str, str, str]]:
    """Static host->topology dim; deterministic function of host index."""
    rows = []
    for i, h in enumerate(_HOSTS):
        rows.append(
            (
                h,
                _CLUSTERS[i % len(_CLUSTERS)],
                _NAMESPACES[i % len(_NAMESPACES)],
                f"svc-{i % 16:02d}",
                _LAYERS[i % len(_LAYERS)],
            )
        )
    return rows


def generate_pandas(n_rows: int, seed: int = SEED) -> pd.DataFrame:
    """Generate the webtext table as a pandas DataFrame (vectorized)."""
    rng = np.random.default_rng(seed)

    # Zipfian host selection (bounded to the host list).
    zipf_ranks = rng.zipf(1.3, size=n_rows * 2)
    zipf_ranks = zipf_ranks[zipf_ranks <= N_HOSTS][:n_rows]
    while len(zipf_ranks) < n_rows:  # top-up in the rare short case
        extra = rng.zipf(1.3, size=n_rows)
        extra = extra[extra <= N_HOSTS]
        zipf_ranks = np.concatenate([zipf_ranks, extra])[:n_rows]
    host_idx = zipf_ranks - 1

    lang_idx = rng.choice(len(LANGS), size=n_rows, p=LANG_WEIGHTS)
    seg_idx = rng.integers(0, len(_PATH_SEGS), size=n_rows)
    n_words = rng.integers(8, 64, size=n_rows)
    word_idx = rng.integers(0, len(_VOCAB), size=int(n_words.sum()))

    # warc_ts: deterministic ramp, ~3 days span regardless of n_rows,
    # plus per-row jitter so (host, hour) buckets are non-trivial.
    span_us = 3 * 24 * 3600 * 1_000_000
    offs = (np.arange(n_rows, dtype=np.int64) * (span_us // max(n_rows, 1))) + rng.integers(
        0, 1_000_000, size=n_rows
    )
    warc_ts = BASE_TS + offs.astype("timedelta64[us]")

    hosts = np.array(_HOSTS, dtype=object)[host_idx]
    langs = np.array(LANGS, dtype=object)[lang_idx]

    vocab = np.array(_VOCAB, dtype=object)
    texts = np.empty(n_rows, dtype=object)
    urls = np.empty(n_rows, dtype=object)
    htmls = np.empty(n_rows, dtype=object)

    topo = {h: t for h, *t in [(r[0], r[1], r[2], r[3]) for r in host_topology_rows()]}

    pos = 0
    for i in range(n_rows):
        k = int(n_words[i])
        words = vocab[word_idx[pos : pos + k]]
        pos += k
        lang = langs[i]
        # Prepend lang-marker stopwords so language-ID has signal.
        markers = LANG_STOPWORDS[lang]
        text = " ".join(markers) + " " + " ".join(words)
        texts[i] = text
        host = hosts[i]
        url = f"https://{host}/{_PATH_SEGS[seg_idx[i]]}/{i}"
        urls[i] = url
        cluster, ns, svc = topo[host]
        title = f"{_PATH_SEGS[seg_idx[i]]}-{i}"
        html = (
            f'<html lang="{lang}"><head><title>{title}</title>'
            f'<meta name="sts:service" content="{svc}"></head>'
            f'<body><p>{text}</p>'
            f'<span data-k8s="cluster={cluster};namespace={ns}"></span>'
            f"</body></html>"
        )
        htmls[i] = html.encode("utf-8")

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(warc_ts),
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def write_webtext(out_dir: str, n_rows: int, seed: int = SEED, partitions: int = 8) -> str:
    """Write the webtext table as parquet (the tests' Iceberg stand-in).

    Written via pyarrow in row-group chunks so Spark reads it with natural
    split parallelism.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "webtext.parquet")
    pdf = generate_pandas(n_rows, seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(n_rows // partitions, 1024))
    return path


def lang_map_pandas() -> pd.DataFrame:
    return pd.DataFrame(LANG_MAP_ROWS, columns=["lang", "lang_family", "lang_name"])


def host_topology_pandas() -> pd.DataFrame:
    return pd.DataFrame(
        host_topology_rows(),
        columns=["host", "cluster", "namespace", "service", "layer"],
    )


def dims(spark):
    """The two broadcast-join dimensions as Spark DataFrames."""
    lang_map = spark.createDataFrame(lang_map_pandas())
    host_topology = spark.createDataFrame(host_topology_pandas())
    return lang_map, host_topology
