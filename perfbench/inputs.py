"""Benchmark inputs and the expected outputs derived from them.

Everything here is plain numpy/pandas: the expected pipeline sink counts
are computed from the raw generated pages by re-deriving the default
mapping rules (`sources.settings.default_mappings`) in Python, so a check
against them does not reuse the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# The query inputs are fixed: their reference outputs are pinned in refs.py,
# so they must not move with --seed. Both generators reproduce the measured
# shape of the sf0.01 and sf0.1 fixture tables (NOTES.md, "Query inputs").
DOCUMENTS_SEED = 20240101
N_DOCUMENTS = 1000
NEAR_COPY_SHARE = 0.05  # docs that copy another doc and append " dup"
EVENTS_SEED = 20240102
N_EVENTS = 20000

_DOC_VOCAB = (
    "a the spark stream window merge table column vector value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_DOC_LANGS = ["en", "zh", "es", "fr", "de"]
_DOC_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _write_one_row_group(pdf: pd.DataFrame, out_dir: str, name: str) -> str:
    """One parquet file with a single row group, as the fixtures are."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=len(pdf))
    return path


def write_documents(out_dir: str) -> str:
    """The `documents` table the near-dup queries read: (doc_id, text,
    lang, source, n_chars). Texts are 10-99 words drawn uniformly from a
    30-word vocabulary; a NEAR_COPY_SHARE of the docs are replaced, one
    after another, by a random doc's text plus " dup", so a copy can copy
    a copy and LSH finds groups of two and more."""
    rng = np.random.default_rng(DOCUMENTS_SEED)
    vocab = np.array(_DOC_VOCAB, dtype=object)
    n_words = rng.integers(10, 100, size=N_DOCUMENTS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in n_words]
    n_copies = int(N_DOCUMENTS * NEAR_COPY_SHARE)
    for j in rng.choice(N_DOCUMENTS, size=n_copies, replace=False):
        texts[j] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    pdf = pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, size=N_DOCUMENTS, p=_DOC_LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
    })
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    return _write_one_row_group(pdf, out_dir, "documents")


def write_events(out_dir: str) -> str:
    """The `events` table the service-graph queries read: (event_id, ts,
    user_id, event_type, value, props). Ids in order with sorted uniform
    timestamps over 30 days, 1.5 users per 100 events, five equally likely
    event types, exponential values with mean 50 rounded to cents."""
    rng = np.random.default_rng(EVENTS_SEED)
    n = N_EVENTS
    offsets = np.sort(rng.uniform(0, 30 * 86400, size=n))
    pdf = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(offsets, unit="s"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, n * 3 // 200, size=n),
        "event_type": rng.choice(_EVENT_TYPES, size=n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })
    return _write_one_row_group(pdf, out_dir, "events")


# ---- expected pipeline sink counts -------------------------------------

_SHARDS = 4


def fnv1a32(s: str) -> int:
    h = 2166136261
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h


def _topology(host_index: int) -> tuple[str, str]:
    """(cluster, service) of a host, as `sources.webtext.host_topology_rows`
    assigns them."""
    return ("production", "staging", "dev")[host_index % 3], f"svc-{host_index % 16:02d}"


def batch_facts(pages: pd.DataFrame) -> dict:
    """What the default mappings should make of one batch of pages:
    element keys (data_source, shard, external_id) per kind, the
    resource keys and the (host, hour) rollup keys."""
    parts = pages["url"].str.extract(r"^https://([^/]+)(/.*)$")
    hosts, paths = parts[0], parts[1]
    host_idx = hosts.str.slice(4, 7).astype(int)
    clusters = host_idx.map(lambda i: _topology(i)[0])
    services = host_idx.map(lambda i: _topology(i)[1])

    def keyed(ds, ids):
        return {(ds, fnv1a32(x) % _SHARDS, x) for x in ids}

    prod = clusters == "production"
    comps = keyed("page-host", {f"urn:webtext:host/{h}" for h in hosts}) | keyed(
        "page-service",
        {f"urn:webtext:cluster/production:service/{s}" for s in services[prod]},
    )
    rels = keyed("service-hosted-on", {
        f"urn:webtext:cluster/production:service/{s}-urn:webtext:host/{h}"
        for s, h in zip(services[prod], hosts[prod])
    })
    archived = (clusters == "dev") & paths.str.startswith("/archive/")
    deletes = keyed("archived-page-delete",
                    {f"urn:webtext:host/{h}" for h in hosts[archived]})
    hours = pages["warc_ts"].dt.floor("h")
    return {
        "pages": len(pages),
        "components": comps,
        "relations": rels,
        "deletes": deletes,
        "resources": set(hosts),
        "windows": set(zip(hosts, hours)),
    }


def expected_sink_counts(tree: list[dict]) -> dict[str, int]:
    """Expected `run_pipeline` sink counts for the LAST batch in `tree`,
    the batch_facts of every batch written into one output tree so far,
    oldest first. Per-batch sinks count that batch; the intake, envelope,
    resources and rollup sinks are snapshots of the whole tree."""
    def union(key: str) -> set:
        return set().union(*(b[key] for b in tree))

    def streams(batch: dict) -> set:
        """(data_source, shard) pairs the batch's elements land in."""
        elements = batch["components"] | batch["relations"] | batch["deletes"]
        return {(ds, shard) for ds, shard, _ in elements}

    cur = tree[-1]
    seen_before = set().union(*(streams(b) for b in tree[:-1]))
    nc, nr, nd = len(cur["components"]), len(cur["relations"]), len(cur["deletes"])
    return {
        "otel_logs": cur["pages"],
        "topology_components": nc,
        "topology_relations": nr,
        "topology_deletes": nd,
        "topology_elements": nc + nr + nd,
        "topology_intake": len(union("components") | union("relations")),
        "topology_envelopes": len(set().union(*(streams(b) for b in tree))),
        "new_streams": len(streams(cur) - seen_before),
        "otel_resources": len(union("resources")),
        "rollup_host_window": len(union("windows")),
        "mapping_errors": 0,
        "tombstones": 0,
        "metadata_tombstones": 0,
    }
