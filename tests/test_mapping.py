"""Mapping-engine golden tests — mirrors the reference's e2e assertions
(test/e2e/logtopology_test.go:353-412: exact external IDs, names,
configuration/status contents; :118-141: invalid mapping -> error rows,
zero components; :195-211: delete flow)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sts_opentelemetry_collector_spark.config import (
    ComponentMapping,
    ComponentOutput,
    MappingSet,
)
from sts_opentelemetry_collector_spark.operators.mapping import (
    apply_mappings,
    register_sql_functions,
    rewrite_vars,
)
from sts_opentelemetry_collector_spark.operators.parse import parse_pages, with_attrs
from sts_opentelemetry_collector_spark.sources.settings import (
    default_mappings,
    diff_settings,
)


@pytest.fixture(scope="module")
def pages(spark, webtext):
    register_sql_functions(spark)
    df = with_attrs(parse_pages(webtext)).cache()
    yield df
    # later modules (test_oracle) assert no cached RDD survives a query
    df.unpersist()


@pytest.fixture(scope="module")
def compiled(pages):
    return apply_mappings(pages, default_mappings(), signal="logs")


def test_component_golden(compiled, pages):
    comps = compiled.components.where(F.col("data_source") == "page-service")
    row = comps.orderBy("external_id").first()
    assert row.external_id.startswith("urn:webtext:cluster/production:service/svc-")
    assert row.type_name == "service"
    assert row.name.startswith("svc-")
    assert row.external_id.endswith(row.name)
    # identifiers: primary + additional
    assert row.identifiers[0] == row.external_id
    assert row.identifiers[1] == f"urn:webtext:service/{row.name}"
    # pick/omit: configuration must NOT contain namespace, status must
    assert "namespace" not in row.configuration
    assert "cluster" in row.configuration
    assert set(row.status.keys()) == {"namespace"}
    # tags: direct + regex-rekeyed
    assert row.tags["language"] in ("en", "de", "nl", "fr", "es", "it")
    assert row.tags["k8s.cluster"] == "production"
    assert row.tags["k8s.namespace"] == row.status["namespace"]
    # condition: only production-cluster pages produce service components
    n_prod = pages.where("attrs['cluster'] = 'production'").count()
    assert comps.count() == n_prod


def test_relation_golden(compiled, pages):
    rels = compiled.relations
    row = rels.orderBy("external_id").first()
    assert row.dependency_type == "CONNECTION"
    assert row.type_name == "hosted on"
    assert row.external_id == f"{row.source_identifier}-{row.target_identifier}"
    assert row.source_identifier.startswith("urn:webtext:cluster/production:service/")
    assert row.target_identifier.startswith("urn:webtext:host/")
    n_prod = pages.where("attrs['cluster'] = 'production'").count()
    assert rels.count() == n_prod


def test_delete_branch(compiled, pages):
    dels = compiled.deletes
    expected = pages.where(
        "path LIKE '/archive/%' AND attrs['cluster'] = 'dev'"
    ).count()
    assert dels.count() == expected
    if expected:
        assert dels.first().external_id.startswith("urn:webtext:host/")


def test_invalid_mapping_is_plan_time_error(pages):
    bad = MappingSet(
        components=[
            ComponentMapping(
                identifier="bad-map-as-string",
                output=ComponentOutput(
                    identifier="attrs",  # map where string required
                    name="'x'",
                    type_name="'y'",
                ),
            ),
            ComponentMapping(
                identifier="bad-unresolved",
                output=ComponentOutput(
                    identifier="no_such_column",
                    name="'x'",
                    type_name="'y'",
                ),
            ),
        ]
    )
    out = apply_mappings(pages, bad)
    assert out.components.count() == 0
    assert len(out.errors) == 2
    assert "map" in out.errors[0]["error"]
    assert out.errors[1]["data_source"] == "bad-unresolved"


def test_condition_eval_error_is_false(pages):
    # cast failure under ANSI-off -> null -> condition false, not job failure
    # (mapping_handler.go:124-145 semantics)
    ms = MappingSet(
        components=[
            ComponentMapping(
                identifier="cond-err",
                condition="cast(title as int) > 5",  # titles are non-numeric
                output=ComponentOutput(
                    identifier="concat('urn:x/', host)", name="host", type_name="'t'"
                ),
            )
        ]
    )
    out = apply_mappings(pages, ms)
    assert out.components.count() == 0
    assert len(out.errors) == 0


def test_sensitive_attrs_stripped(spark):
    # P12: sts_api_key must never be visible to mapping expressions
    # (internal/model.go:23-28)
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.operators.parse import strip_sensitive

    df = spark.createDataFrame(
        [({"sts_api_key": "secret", "client_sts_api_key": "s2", "host": "h"},)],
        "attrs map<string,string>",
    )
    out = df.select(strip_sensitive(F.col("attrs")).alias("attrs")).first()
    assert set(out.attrs.keys()) == {"host"}


def test_diff_settings():
    cur = default_mappings()
    prev = default_mappings()
    prev.components.append(
        ComponentMapping(
            identifier="removed-mapping",
            output=ComponentOutput(identifier="'x'", name="'x'", type_name="'x'"),
        )
    )
    assert diff_settings(prev, cur) == ["removed-mapping"]
    assert diff_settings(cur, cur) == []


def test_invalid_var_is_mapping_level_error(spark):
    """An unresolvable VAR expression must yield a mapping-level error
    record, not abort apply_mappings (logtopology e2e: invalid mapping ->
    error entry, zero rows, other mappings unaffected)."""
    from sts_opentelemetry_collector_spark.config import (
        ComponentMapping,
        ComponentOutput,
        MappingSet,
    )
    from sts_opentelemetry_collector_spark.operators.mapping import apply_mappings

    df = spark.createDataFrame([("h1",)], "host string")
    bad = ComponentMapping(
        identifier="bad-var",
        vars=(("x", "no_such_column || 'y'"),),
        output=ComponentOutput(identifier="vars.x", name="'n'", type_name="'t'"),
    )
    good = ComponentMapping(
        identifier="good",
        output=ComponentOutput(identifier="host", name="host", type_name="'t'"),
    )
    res = apply_mappings(df, MappingSet(components=[bad, good]))
    assert [e["data_source"] for e in res.errors] == ["bad-var"]
    assert res.components.count() == 1  # good mapping unaffected
    # vars.x reads the materialized var_x column
    assert rewrite_vars("concat(vars.a, vars.b)") == "concat(var_a, var_b)"


def test_regex_rekey_uses_first_match_only(spark):
    """Unanchored pattern: new key is built purely from the first match's
    expansion (mapping.go ResolveTagMappings re.ExpandString), never
    keeping unmatched prefix/suffix."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.config import (
        ComponentMapping,
        ComponentOutput,
        MappingSet,
        TagMapping,
    )
    from sts_opentelemetry_collector_spark.operators.mapping import apply_mappings

    df = spark.createDataFrame([("h1",)], "host string").withColumn(
        "attrs", F.create_map(F.lit("my_cluster_attr"), F.lit("prod"))
    )
    m = ComponentMapping(
        identifier="rekey",
        output=ComponentOutput(
            identifier="host",
            name="host",
            type_name="'t'",
            tags=(TagMapping(target="k8s.${1}", source="attrs", pattern="(cluster)"),),
        ),
    )
    row = apply_mappings(df, MappingSet(components=[m])).components.collect()[0]
    assert row.tags == {"k8s.cluster": "prod"}


def test_null_valued_tags_are_dropped(spark):
    """A direct tag whose expression evals to null is omitted entirely
    (the reference skips the tag on eval error, never emits tags[k]=null)."""
    from sts_opentelemetry_collector_spark.config import (
        ComponentMapping,
        ComponentOutput,
        MappingSet,
        TagMapping,
    )
    from sts_opentelemetry_collector_spark.operators.mapping import apply_mappings

    df = spark.createDataFrame([("h1", None)], "host string, maybe string")
    m = ComponentMapping(
        identifier="nulltag",
        output=ComponentOutput(
            identifier="host",
            name="host",
            type_name="'t'",
            tags=(
                TagMapping(target="present", source="'v'"),
                TagMapping(target="absent", source="maybe"),
            ),
        ),
    )
    row = apply_mappings(df, MappingSet(components=[m])).components.collect()[0]
    assert row.tags == {"present": "v"}


def test_first_regex_mapping_wins_on_key_collision(spark):
    """Two regex tag mappings producing the same key: the FIRST configured
    mapping's value survives (reference iterates in order and skips keys
    already set)."""
    import pyspark.sql.functions as F

    from sts_opentelemetry_collector_spark.config import (
        ComponentMapping,
        ComponentOutput,
        MappingSet,
        TagMapping,
    )
    from sts_opentelemetry_collector_spark.operators.mapping import apply_mappings

    df = spark.createDataFrame([("h1",)], "host string").withColumn(
        "a1", F.create_map(F.lit("cluster"), F.lit("first"))
    ).withColumn(
        "a2", F.create_map(F.lit("cluster"), F.lit("second"))
    )
    m = ComponentMapping(
        identifier="collide",
        output=ComponentOutput(
            identifier="host",
            name="host",
            type_name="'t'",
            tags=(
                TagMapping(target="k8s.${1}", source="a1", pattern="^(cluster)$"),
                TagMapping(target="k8s.${1}", source="a2", pattern="^(cluster)$"),
            ),
        ),
    )
    row = apply_mappings(df, MappingSet(components=[m])).components.collect()[0]
    assert row.tags == {"k8s.cluster": "first"}


def test_attr_lookup_folding_is_value_identical(spark):
    """Static attribute resolution (attrs['k'] -> CAST(k AS STRING)) must
    produce byte-identical outputs to the map-lookup plan, and must leave
    non-mirrored keys (absent columns, custom maps) untouched."""
    from sts_opentelemetry_collector_spark.operators.mapping import (
        apply_mappings,
        fold_attr_lookups,
        register_sql_functions,
    )
    from sts_opentelemetry_collector_spark.operators.parse import (
        ATTRS_SOURCE_COLS,
        with_attrs,
    )
    from sts_opentelemetry_collector_spark.sources.settings import default_mappings

    register_sql_functions(spark)
    assert fold_attr_lookups("attrs['cluster'] = 'x'", ["cluster"]) == (
        "CAST(`cluster` AS STRING) = 'x'"
    )
    assert fold_attr_lookups("attrs['nope']", ["cluster"]) == "attrs['nope']"

    df = with_attrs(
        spark.createDataFrame(
            [("h1", "/p", "svc-a", "production", "ns", "en"),
             ("h2", None, "svc-b", "staging", None, "de")],
            "host string, path string, service string, cluster string,"
            "namespace string, lang string",
        )
    )
    plain = apply_mappings(df, default_mappings())
    folded = apply_mappings(df, default_mappings(), attr_cols=ATTRS_SOURCE_COLS)
    a = sorted(map(str, plain.components.collect()))
    b = sorted(map(str, folded.components.collect()))
    assert a == b
    ra = sorted(map(str, plain.relations.collect()))
    rb = sorted(map(str, folded.relations.collect()))
    assert ra == rb


def test_delete_only_valid_for_logs_signal(pages):
    """mapping_handler.go:72-73, :93-96: at the terminal visit, DELETE
    executes only when the signal is LOGS — other signals silently ignore
    the mapping (no delete rows, no error record). CREATE is unaffected."""
    from sts_opentelemetry_collector_spark.operators.mapping import apply_mappings

    def mk(signal):
        return MappingSet(
            components=[
                ComponentMapping(
                    identifier=f"del-{signal}",
                    signal=signal,
                    action="DELETE",
                    output=ComponentOutput(
                        identifier="'urn:x'", name="'n'", type_name="'t'"
                    ),
                ),
                ComponentMapping(
                    identifier=f"create-{signal}",
                    signal=signal,
                    output=ComponentOutput(
                        identifier="'urn:c'", name="'n'", type_name="'t'"
                    ),
                ),
            ]
        )

    logs = apply_mappings(pages, mk("logs"), signal="logs")
    assert logs.deletes.count() > 0

    metrics = apply_mappings(pages, mk("metrics"), signal="metrics")
    assert metrics.deletes.count() == 0          # DELETE silently dropped
    assert metrics.components.count() > 0        # CREATE still runs
    assert metrics.errors == []                  # and no error surfaced
