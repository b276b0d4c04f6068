"""Hash functions needing byte-parity with the reference.

FNV-1a-32 drives shard assignment (internal/message_builder.go:259-263:
``shardId = FNV-1a-32(external_id) % ShardCount``). Spark's builtin
hash()/xxhash64 are different families, so parity requires implementing
FNV-1a — done as a JVM higher-order-function fold over the utf-8 bytes
(whole-stage codegen, no Python workers), parity-tested against the
scalar reference ``fnv1a32_py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def fnv1a32_col(col) -> "F.Column":
    """Pure-JVM FNV-1a-32: fold over the utf-8 bytes with HOFs.

    Byte-for-byte Go hash/fnv New32a() (parity-tested against
    fnv1a32_py), inside whole-stage codegen — no Python workers in the
    shard stage. (h ^ byte) * prime stays < 2^56, so plain long arithmetic
    with a 32-bit mask after the multiply is exact.
    """
    b = F.encode(col, "utf-8")
    folded = F.aggregate(
        F.sequence(F.lit(1), F.octet_length(b)),
        F.lit(2166136261).cast("long"),
        lambda h, i: (
            h.bitwiseXOR(F.conv(F.hex(F.substring(b, i.cast("int"), 1)), 16, 10).cast("long"))
            * F.lit(16777619)
        ).bitwiseAND(F.lit(0xFFFFFFFF)),
    )
    # sequence(1, 0) would generate a DESCENDING range — guard empty input
    return F.when(F.octet_length(b) == 0, F.lit(2166136261).cast("long")).otherwise(folded)


def fnv1a32_py(s: str) -> int:
    """Scalar reference implementation (tests/golden pins)."""
    h = 2166136261
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h
