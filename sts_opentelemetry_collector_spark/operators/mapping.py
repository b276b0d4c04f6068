"""The mapping engine: config -> compiled Catalyst plan.

Reimplements the reference's topology connector mapping pipeline
(connector/topologyconnector/internal/{mapping_handler,mapping,eval,
expression}.go) Spark-first:

- Each mapping becomes ONE filtered projection branch:
  ``df.where(condition).select(outputs)``; the per-record interpreted CEL
  walk (mapping_handler.go:43-99) disappears into whole-stage codegen.
- Variables (eval.go:60-88) become withColumn common subexpressions.
- Condition-eval-error => condition false (mapping_handler.go:124-145):
  ANSI-off null-on-error + ``where`` treating null as false.
- Required output fields failing => per-record error rows (the reference
  collects per-field errors, mapping.go:348-359); optional fields failing
  => silently skipped (null dropped from identifiers array).
- Invalid mapping configs (unresolvable/ mistyped expressions, e.g. a map
  where a string is required — expression.go:409-439) are caught at PLAN
  time and surface as mapping-level error records with zero output rows,
  mirroring e2e test/e2e/logtopology_test.go:118-141.
- pick()/omit() custom CEL functions (internal/cel_functions.go:35-101)
  are registered as SQL scalar functions over map columns.

Plan-shape note (measured, round 2): a "fused" alternative — one scan
emitting an array of per-mapping conditional structs, exploded — was
implemented and benchmarked at 2.4M rows x 5 mappings: 13.1s vs 4.8s for
this union-of-branches form. The union wins because each branch's
condition pushes below the attrs-map projection (rows filtered before the
expensive tag/config map expressions run) and the branch pipelines stay
inside whole-stage codegen, while the fused array projection is forced
interpreted (HOF lambdas + Generate). Union-of-branches re-scans the
pruned columnar input once per mapping, but that scan is the cheap part.
"""

from __future__ import annotations

import re
import weakref
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import MapType, StringType

from ..config import (
    ACTION_DELETE,
    ComponentMapping,
    MappingSet,
    RelationMapping,
    TagMapping,
)

# ---------------------------------------------------------------------------
# Expression language helpers


def register_sql_functions(spark: SparkSession) -> None:
    """Register pick/omit (cel_functions.go:35-101) as SQL scalar functions.

    These stay JVM-side (map_filter under the hood) — no Python UDF.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pick(m MAP<STRING,STRING>, ks ARRAY<STRING>) "
        "RETURNS MAP<STRING,STRING> RETURN map_filter(m, (k, v) -> array_contains(ks, k))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION omit(m MAP<STRING,STRING>, ks ARRAY<STRING>) "
        "RETURNS MAP<STRING,STRING> RETURN map_filter(m, (k, v) -> NOT array_contains(ks, k))"
    )


_VARS_REF = re.compile(r"\bvars\.([A-Za-z_][A-Za-z0-9_]*)")


def rewrite_vars(expr: str) -> str:
    """``vars.name`` -> ``var_name`` (the materialized variable column)."""
    return _VARS_REF.sub(r"var_\1", expr)


_ATTR_LOOKUP = re.compile(
    r"(?<![A-Za-z0-9_])attrs\[(?P<q>['\"])(?P<k>[A-Za-z0-9_.\- ]+)(?P=q)\]"
)  # boundary guard: never rewrite ...attrs[...] inside a longer identifier


def fold_attr_lookups(expr: str, attr_cols: list[str]) -> str:
    """Static attribute resolution: ``attrs['k']`` -> ``CAST(k AS STRING)``
    when `attrs` is the with_attrs map mirroring column k (same name,
    stringified, null-filtered — so the direct cast is value-identical).

    This is the same move the reference's expression compiler makes when
    it resolves attribute paths against the flattened record
    (expression.go attribute binding), and it matters: a literal lookup
    through the built map forces the interpreted create_map+map_filter
    chain per row (measured 13x slower than the column reference at 4.8M
    rows). Map-wide uses (bare ``attrs`` in pick/omit/regex tags) are left
    untouched. ONLY safe when the input's attrs column was built by
    with_attrs — callers opt in via apply_mappings(attr_cols=...)."""
    colset = set(attr_cols)

    def sub(m):
        k = m.group("k")
        return f"CAST(`{k}` AS STRING)" if k in colset else m.group(0)

    return _ATTR_LOOKUP.sub(sub, expr)


def _fold_mapping(m, attr_cols: list[str]):
    """Rewritten copy of a (frozen) mapping with attr lookups folded."""
    import dataclasses as _dc

    def f(e):
        return fold_attr_lookups(e, attr_cols) if e else e

    o = m.output
    if isinstance(m, ComponentMapping):
        new_o = _dc.replace(
            o,
            identifier=f(o.identifier),
            name=f(o.name),
            type_name=f(o.type_name),
            additional_identifiers=tuple(f(a) for a in o.additional_identifiers),
            configuration=f(o.configuration),
            status=f(o.status),
            layer=f(o.layer),
            domain=f(o.domain),
            tags=tuple(
                _dc.replace(t, source=f(t.source)) if t.pattern is None else t
                for t in o.tags
            ),
        )
    else:
        new_o = _dc.replace(
            o, source_id=f(o.source_id), target_id=f(o.target_id),
            type_name=f(o.type_name),
        )
    return _dc.replace(
        m,
        condition=f(m.condition),
        vars=tuple((n, f(e)) for n, e in m.vars),
        output=new_o,
    )


# ---------------------------------------------------------------------------
# Output schemas (fixed envelope — spec/topo_stream.proto:9-47, :56-80)

@dataclass
class CompiledMappings:
    """Result of compiling a MappingSet against an input DataFrame."""

    components: DataFrame | None = None
    relations: DataFrame | None = None
    deletes: DataFrame | None = None
    errors: list[dict] = field(default_factory=list)  # mapping-level (plan-time) errors
    # pre-required-filter unions with a _required_ok flag: lets the caller
    # observe() error counts on the element-write job itself instead of
    # re-running the branch unions (a full input re-scan) to count errors
    components_flagged: DataFrame | None = None
    relations_flagged: DataFrame | None = None
    # CREATE-action mapping ids per kind (the data_source values that can
    # appear in the flagged frames), for per-mapping observe metrics
    create_ids: dict[str, list[str]] = field(default_factory=dict)


def _empty(spark: SparkSession, kind: str) -> DataFrame:
    schemas = {
        "components": (
            "external_id string, identifiers array<string>, name string, "
            "type_name string, layer string, domain string, "
            "tags map<string,string>, configuration map<string,string>, "
            "status map<string,string>, data_source string, signal string"
        ),
        "relations": (
            "external_id string, source_identifier string, target_identifier string, "
            "type_name string, dependency_type string, data_source string, signal string"
        ),
        "deletes": "external_id string, data_source string, signal string",
    }
    return spark.createDataFrame([], schemas[kind])


# ---------------------------------------------------------------------------
# Compilation


def _apply_vars(df: DataFrame, m) -> DataFrame:
    for name, e in m.vars:
        df = df.withColumn(f"var_{name}", F.expr(rewrite_vars(e)))
    return df


def _branch(df: DataFrame, m) -> DataFrame:
    """condition + vars: the per-level conditional cascade collapses to one
    conjunction since the input is already flat (mapping_handler.go:43-99)."""
    out = _apply_vars(df, m)
    if m.condition:
        out = out.where(F.expr(rewrite_vars(m.condition)))
    return out


def _tags_col(tags: tuple[TagMapping, ...]):
    """Tag projections (P9/P10, mapping.go:167-245).

    Regex-derived maps first (in REVERSE config order: with LAST_WIN dedup
    the last concat entry wins, and the reference keeps the FIRST regex
    mapping on key collisions), explicit keys last so they override
    everything (mapping.go:236-243). Null-valued entries (eval error under
    ANSI-off) are dropped — the reference skips the tag entirely on eval
    error, it never emits tags[k]=null.
    """
    if not tags:
        return F.lit(None).cast(MapType(StringType(), StringType()))
    regex_parts = []
    direct_kv = []
    for t in tags:
        if t.pattern is None:
            direct_kv.append((t.target, t.source))
        else:
            src = F.expr(rewrite_vars(t.source))
            # template ${N} -> $N (mapping.go:17 placeholder regex)
            target = re.sub(r"\$\{(\d+)\}", r"$\1", t.target)
            matched = F.map_filter(src, lambda k, v: k.rlike(t.pattern))
            # The new key is built purely from the FIRST match's expansion
            # (mapping.go ResolveTagMappings uses re.ExpandString of match
            # #1) — regexp_replace alone would keep unmatched prefix/suffix
            # and expand every occurrence for unanchored patterns.
            rekeyed = F.transform_keys(
                matched,
                lambda k, v: F.regexp_replace(
                    F.regexp_extract(k, t.pattern, 0), t.pattern, target
                ),
            )
            regex_parts.append(rekeyed)
    parts = list(reversed(regex_parts))
    if direct_kv:
        kv = []
        for target, source in direct_kv:
            kv.append(F.lit(target))
            kv.append(F.expr(rewrite_vars(source)).cast("string"))
        parts.append(F.create_map(*kv))
    out = parts[0] if len(parts) == 1 else F.map_concat(*parts)
    return F.map_filter(out, lambda k, v: v.isNotNull())


# session -> {(input schema json, vars, exprs and kinds): _validate result}.
# The analog of the reference's CEL compile cache (expression.go:313-339):
# each distinct mapping is analyzed once per session and input schema, not
# once per run. Weak keys: a stopped session's entries go with it.
_VALIDATED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _validate(df: DataFrame, m, exprs_and_kinds: list[tuple[str, str]]) -> str | None:
    """Plan-time expression validation (expression.go:367-439 analog).

    Returns an error message for an invalid mapping, else None.
    kind 'string': str/int/double/bool ok (stringified), map is an error.
    kind 'map': must resolve to a map.
    kind 'bool': anything coercible; left to where().

    The result depends only on the session (its SQL functions), the
    input schema and the expressions, so it is memoized on them.
    """
    memo = _VALIDATED.setdefault(df.sparkSession, {})
    key = (df.schema.json(), tuple(m.vars), tuple(exprs_and_kinds))
    if key not in memo:
        memo[key] = _analyze(df, m, exprs_and_kinds)
    return memo[key]


def _analyze(df: DataFrame, m, exprs_and_kinds: list[tuple[str, str]]) -> str | None:
    # var expressions are analyzed eagerly by withColumn: an invalid var
    # (e.g. unresolvable column in a user-supplied snapshot) must surface
    # as a mapping-level error, not abort the whole run
    try:
        probe = _apply_vars(df, m)
    except Exception as ex:  # AnalysisException / ParseException
        return f"invalid variable expression: {type(ex).__name__}: {ex}"
    for e, kind in exprs_and_kinds:
        if not e:
            continue
        try:
            dt = probe.select(F.expr(rewrite_vars(e)).alias("_x")).schema[0].dataType
        except Exception as ex:  # AnalysisException / ParseException
            return f"invalid expression {e!r}: {type(ex).__name__}: {ex}"
        if kind == "string" and isinstance(dt, MapType):
            return (
                f"expression {e!r} evaluates to a map where a string is required"
            )
        if kind == "map" and not isinstance(dt, MapType):
            return f"expression {e!r} must evaluate to a map, got {dt.simpleString()}"
    return None


def compile_component_mapping(
    df: DataFrame, m: ComponentMapping
) -> tuple[DataFrame | None, str | None, DataFrame | None]:
    """Compile one component mapping.

    Returns (components, mapping_error, flagged):
    `flagged` is the pre-split projection with a `_required_ok` column so
    callers can observe() error counts on the same job as the element
    write (None for delete-action or plan-time-invalid mappings).
    """
    o = m.output
    checks = [
        (m.condition or "", "bool"),
        (o.identifier, "string"),
        (o.name, "string"),
        (o.type_name, "string"),
        (o.configuration or "", "map"),
        (o.status or "", "map"),
    ]
    err = _validate(df, m, checks)
    if err is not None:
        return None, err, None

    branch = _branch(df, m)

    if m.action == ACTION_DELETE:
        deletes = branch.select(
            F.expr(rewrite_vars(o.identifier)).cast("string").alias("external_id"),
            F.lit(m.identifier).alias("data_source"),
            F.lit(m.signal).alias("signal"),
        ).where(F.col("external_id").isNotNull())
        return deletes, None, None

    ident = F.expr(rewrite_vars(o.identifier)).cast("string")
    addl = [F.expr(rewrite_vars(a)).cast("string") for a in o.additional_identifiers]
    # optional additional identifiers: eval error => null => compacted away
    identifiers = F.array_compact(F.array(ident, *addl)) if addl else F.array(ident)

    def _opt_str(e):
        return (
            F.expr(rewrite_vars(e)).cast("string")
            if e
            else F.lit(None).cast("string")
        )

    def _opt_map(e):
        return (
            F.expr(rewrite_vars(e))
            if e
            else F.lit(None).cast(MapType(StringType(), StringType()))
        )

    projected = branch.select(
        ident.alias("external_id"),
        identifiers.alias("identifiers"),
        F.expr(rewrite_vars(o.name)).cast("string").alias("name"),
        F.expr(rewrite_vars(o.type_name)).cast("string").alias("type_name"),
        _opt_str(o.layer).alias("layer"),
        _opt_str(o.domain).alias("domain"),
        _tags_col(o.tags).alias("tags"),
        _opt_map(o.configuration).alias("configuration"),
        _opt_map(o.status).alias("status"),
        F.lit(m.identifier).alias("data_source"),
        F.lit(m.signal).alias("signal"),
    )
    # Required fields: identifier/name/typeName null => record error (the
    # caller counts these rows via observe() on the element write)
    required_ok = (
        F.col("external_id").isNotNull()
        & F.col("name").isNotNull()
        & F.col("type_name").isNotNull()
    )
    # flagged form: the caller splits ok/error rows — and can observe()
    # error counts on the SAME job as the element write, instead of
    # re-executing the whole branch union to count (usually zero) errors
    flagged = projected.withColumn("_required_ok", required_ok)
    comps = flagged.where(F.col("_required_ok")).drop("_required_ok")
    return comps, None, flagged


def compile_relation_mapping(
    df: DataFrame, m: RelationMapping
) -> tuple[DataFrame | None, str | None, DataFrame | None]:
    o = m.output
    checks = [
        (m.condition or "", "bool"),
        (o.source_id, "string"),
        (o.target_id, "string"),
        (o.type_name, "string"),
    ]
    err = _validate(df, m, checks)
    if err is not None:
        return None, err, None

    branch = _branch(df, m)
    src = F.expr(rewrite_vars(o.source_id)).cast("string")
    tgt = F.expr(rewrite_vars(o.target_id)).cast("string")

    if m.action == ACTION_DELETE:
        deletes = branch.select(
            F.concat_ws("-", src, tgt).alias("external_id"),
            F.lit(m.identifier).alias("data_source"),
            F.lit(m.signal).alias("signal"),
        ).where(src.isNotNull() & tgt.isNotNull())
        return deletes, None, None

    # dependencyType normalization (mapping.go:280-292)
    dep = F.upper(F.trim(F.lit(o.dependency_type)))
    dep_norm = (
        F.when(dep == "HIERARCHICAL", "HIERARCHICAL")
        .when(dep == "CONNECTION", "CONNECTION")
        .otherwise("UNSPECIFIED")
    )
    projected = branch.select(
        F.concat_ws("-", src, tgt).alias("external_id"),  # mapping.go:249-292
        src.alias("source_identifier"),
        tgt.alias("target_identifier"),
        F.expr(rewrite_vars(o.type_name)).cast("string").alias("type_name"),
        dep_norm.alias("dependency_type"),
        F.lit(m.identifier).alias("data_source"),
        F.lit(m.signal).alias("signal"),
    )
    required_ok = (
        F.col("source_identifier").isNotNull()
        & F.col("target_identifier").isNotNull()
        & F.col("type_name").isNotNull()
    )
    flagged = projected.withColumn("_required_ok", required_ok)
    rels = flagged.where(F.col("_required_ok")).drop("_required_ok")
    return rels, None, flagged


def _union_all(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def apply_mappings(
    df: DataFrame,
    mappings: MappingSet,
    signal: str = "logs",
    attr_cols: list[str] | None = None,
) -> CompiledMappings:
    """Compile + apply all mappings of a signal: union of filtered
    projections — the Spark equivalent of the per-mapping full re-traversal
    loop (internal/pipeline.go:128-144), except traversal cost is shared:
    one scan feeds every branch.
    """
    spark = df.sparkSession
    ms = mappings.for_signal(signal)
    if attr_cols:
        # static attribute resolution (safe only for with_attrs inputs)
        cols = [c for c in attr_cols if c in df.columns]
        ms = MappingSet(
            version=ms.version,
            components=[_fold_mapping(m, cols) for m in ms.components],
            relations=[_fold_mapping(m, cols) for m in ms.relations],
        )
    result = CompiledMappings()
    comp_parts, rel_parts, del_parts = [], [], []
    comp_flag_parts, rel_flag_parts = [], []
    result.create_ids = {"components": [], "relations": []}

    for m in ms.components:
        out, map_err, flagged = compile_component_mapping(df, m)
        if map_err is not None:
            result.errors.append(
                {"data_source": m.identifier, "signal": signal, "error": map_err}
            )
            continue
        if m.action == ACTION_DELETE:
            # DELETE is only valid for the LOGS signal at the TERMINAL
            # visit (mapping_handler.go:72-73, :93-96 HandleTerminalVisit)
            # — no delete rows, no error record. Fidelity note: the
            # reference's HandleVisitLevel (mapping_handler.go:61) also
            # executes DELETE mappings scoped to NON-terminal levels
            # (resource/scope/metric) for metrics and traces; our flat
            # per-record model has no level concept — every mapping is
            # terminal-visit — so this gate implements terminal-visit
            # semantics only (documented deviation, COVERAGE.md P1/P2).
            if signal == "logs":
                del_parts.append(out)
        else:
            comp_parts.append(out)
            comp_flag_parts.append(flagged)
            result.create_ids["components"].append(m.identifier)

    for m in ms.relations:
        out, map_err, flagged = compile_relation_mapping(df, m)
        if map_err is not None:
            result.errors.append(
                {"data_source": m.identifier, "signal": signal, "error": map_err}
            )
            continue
        if m.action == ACTION_DELETE:
            if signal == "logs":  # see component branch: LOGS-only DELETE
                del_parts.append(out)
        else:
            rel_parts.append(out)
            rel_flag_parts.append(flagged)
            result.create_ids["relations"].append(m.identifier)

    result.components = _union_all(comp_parts) or _empty(spark, "components")
    result.relations = _union_all(rel_parts) or _empty(spark, "relations")
    result.components_flagged = _union_all(comp_flag_parts)
    result.relations_flagged = _union_all(rel_flag_parts)
    result.deletes = _union_all(del_parts) or _empty(spark, "deletes")
    return result
