"""Session-level cache lifecycle for one-shot query builders.

Several builders (ngram-Jaccard candidates, simhash signature index,
embedding LSH index, bigram LM pre-aggregation) persist an intermediate
frame referenced several times inside ONE returned plan — the
materialized-index pattern (at 100 TB each of these frames IS a stored
table). A driver that runs one query per session never notices the
persist; a long-lived service calling the builders repeatedly accumulates
cached frames until executor storage-LRU pressure.

Contract: every such persist registers its frame — either in the
`cache_registry` list the caller passed, or in the module-level session
registry. After the consuming action, the owner releases with
`release_caches(registry)` (streaming jobs already do this per
micro-batch; bench.py and the hygiene pytest do it per query). Releasing
after the action is safe: unpersist only drops cached blocks, later
re-evaluation would recompute from lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SESSION_CACHES: list[DataFrame] = []


def register_cache(df: DataFrame, registry: list | None = None) -> DataFrame:
    """Record an already-persisted frame for later release. Returns df."""
    (registry if registry is not None else _SESSION_CACHES).append(df)
    return df


def release_caches(registry: list | None = None, blocking: bool = False) -> int:
    """Unpersist every registered frame; returns how many were released."""
    reg = registry if registry is not None else _SESSION_CACHES
    n = len(reg)
    for df in reg:
        try:
            df.unpersist(blocking=blocking)
        except Exception:
            pass  # session already stopped — nothing to free
    reg.clear()
    return n


class CheckpointHandle:
    """Deferred block release for a localCheckpoint-backed frame.

    localCheckpoint TRUNCATES lineage: freeing its blocks makes the frame
    unrecomputable (not merely uncached), so release must happen strictly
    after the final consuming action — either release_caches() at a query
    boundary, or free() inside an iterative loop once the next round's
    checkpoint has materialized and superseded this one.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:  # registry protocol
        self.free(blocking)

    def free(self, blocking: bool = False) -> None:
        try:
            # a freshly checkpointed Dataset's analyzed plan is the
            # LogicalRDD holding the materialized blocks
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        except Exception:
            pass  # internal accessor drift / stopped session: blocks die with the executor


def register_checkpoint(df: DataFrame, registry: list | None = None) -> DataFrame:
    """Record a localCheckpoint-backed frame for deferred release."""
    (registry if registry is not None else _SESSION_CACHES).append(
        CheckpointHandle(df)
    )
    return df
