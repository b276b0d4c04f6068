"""K6/A9: HTTP topology-intake exporter analog — per-API-key grouped,
ExternalID-sorted topology payloads.

Reference: exporter/ststopologyexporter/exporter.go:44-54 buckets every
resource/connection into a ComponentsCollection keyed by its sts_api_key;
internal/topology.go:335-355 (GetComponents/GetRelations) emits each
collection's components and relations in canonical ascending ExternalID
order before the intake POST.

Spark shape: collections are map-keyed by external_id in the reference
(last write wins within a batch) => dropDuplicates(api_key, external_id);
the canonical ordering is an array_sort over per-key collect_list structs
(external_id is the leading struct field, so struct ordering == ExternalID
ordering). Scale note: one payload row per api key — per-key topology is
dimension-scale (the reference materializes the same collection in memory
per batch), so the per-key collect_list is bounded; the heavy stream stays
distributed until this final per-key fold, which shuffles once on api_key.

The intake sink is a full snapshot per publish, like the reference's POST:
one txlog overwrite replaces every earlier file atomically, so an api key
that no longer occurs leaves nothing behind.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans.txlog import TxLogTable


def intake_payloads(
    components: DataFrame,
    relations: DataFrame,
    api_key_col: str = "api_key",
) -> DataFrame:
    """One row per api_key: ExternalID-sorted component and relation
    arrays + counts + an order-proof digest (md5 over the ordered id list,
    matching GetComponents' slices.SortFunc contract)."""
    comp = (
        components.dropDuplicates([api_key_col, "external_id"])
        .groupBy(api_key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("external_id", "type_name", "name"))
            ).alias("components"),
        )
    )
    rel = (
        relations.dropDuplicates([api_key_col, "external_id"])
        .groupBy(api_key_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "external_id",
                        "source_identifier",
                        "target_identifier",
                        "type_name",
                    )
                )
            ).alias("relations"),
        )
    )
    joined = comp.join(rel, on=api_key_col, how="full_outer")
    empty_c = F.lit([]).cast(comp.schema["components"].dataType)
    empty_r = F.lit([]).cast(rel.schema["relations"].dataType)
    c = F.coalesce(F.col("components"), empty_c)
    r = F.coalesce(F.col("relations"), empty_r)
    return joined.select(
        F.col(api_key_col),
        c.alias("components"),
        r.alias("relations"),
        F.size(c).alias("n_components"),
        F.size(r).alias("n_relations"),
        F.md5(
            F.concat_ws(",", F.transform(c, lambda s: s["external_id"]))
        ).alias("components_order_digest"),
        F.md5(
            F.concat_ws(",", F.transform(r, lambda s: s["external_id"]))
        ).alias("relations_order_digest"),
    )


def write_intake(
    payloads_or_elements: DataFrame,
    path: str,
    api_key_col: str = "api_key",
    sort_col: str = "external_id",
) -> None:
    """Sink write honoring the intake contract: one txlog overwrite of the
    table at `path` with one hive partition per api key, rows within each
    file in canonical sort order (sortWithinPartitions after repartition
    => each api key's stream is a single ordered sequence, the POST-body
    analog)."""
    TxLogTable(path).overwrite(
        payloads_or_elements.repartition(F.col(api_key_col))
        # leading sort key MUST be the partition column: the parquet writer
        # requires ordering by partition cols and would re-sort (unstably)
        # otherwise; a (api_key, external_id) sort satisfies that prefix so
        # the writer preserves our canonical order.
        .sortWithinPartitions(api_key_col, sort_col),
        partition_by=[api_key_col],
    )
