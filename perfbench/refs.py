"""Pinned reference outputs for the fixed catalog_cold tables
(inputs.write_documents, inputs.write_events): (row count, sum of row
xxhash64) per query. Regenerate with `python3 perfbench/pin_refs.py`, which
also checks each query's rows against its DuckDB oracle twin before
printing the pins."""

CATALOG = {
    "dedup_ngram_jaccard": (54, -21447615880508625392),
    "dedup_groups": (96, -20841458087427110825),
    "sg_edge_metrics": (66, -14552528176635503989),
}
