"""Settings provider: mapping-rule snapshots + change diffing.

Reference: the settingsproviderextension delivers versioned full snapshots
of mapping rules over Kafka (settings_snapshot_processor.go:55-158) or a
polled YAML file (file_settings_provider.go:71-82); the topology connector
diffs consecutive snapshots to emit removal tombstones
(snapshot_manager.go:156-214, :273-288).

Spark shape: mappings are read at job start (a changed mapping set == a new
job run, SURVEY.md §3.2); the snapshot diff is a set difference on mapping
identifiers; removals fan out to tombstones in routing.py (R5).
"""

from __future__ import annotations

import json
from typing import Any

from ..config import (
    ComponentMapping,
    ComponentOutput,
    MappingSet,
    RelationMapping,
    RelationOutput,
    TagMapping,
)


def default_mappings() -> MappingSet:
    """The webtext instantiation of the reference's e2e fixture mappings
    (FIXTURES.md §4; shaped after test/e2e/logtopology_test.go:414-552):
    a component mapping with condition + vars + URN identifier + pick/omit
    configuration/status + direct & regex tags; a relation mapping with
    concat URNs and CONNECTION dependency; a DELETE mapping."""
    comp = ComponentMapping(
        identifier="page-service",
        signal="logs",
        condition="attrs['cluster'] = 'production'",
        vars=(
            ("serverName", "attrs['service']"),
            ("clusterName", "attrs['cluster']"),
        ),
        output=ComponentOutput(
            identifier="concat('urn:webtext:cluster/', vars.clusterName, ':service/', vars.serverName)",
            additional_identifiers=(
                "concat('urn:webtext:service/', vars.serverName)",
            ),
            name="vars.serverName",
            type_name="'service'",
            configuration="omit(attrs, array('namespace', 'title', 'path'))",
            status="pick(attrs, array('namespace'))",
            tags=(
                TagMapping(target="language", source="lang"),
                # regex re-keying: k8s-ish attr keys -> short tag keys
                TagMapping(
                    target="k8s.${1}",
                    source="attrs",
                    pattern="^(cluster|namespace)$",
                ),
            ),
            layer="'backend'",
            domain="'webtext'",
        ),
    )
    host_comp = ComponentMapping(
        identifier="page-host",
        signal="logs",
        condition="host IS NOT NULL",
        output=ComponentOutput(
            identifier="concat('urn:webtext:host/', host)",
            name="host",
            type_name="'host'",
            tags=(TagMapping(target="language", source="lang"),),
            layer="'infrastructure'",
            domain="'webtext'",
        ),
    )
    rel = RelationMapping(
        identifier="service-hosted-on",
        signal="logs",
        condition="attrs['cluster'] = 'production'",
        vars=(("svcUrn", "concat('urn:webtext:cluster/', attrs['cluster'], ':service/', attrs['service'])"),),
        output=RelationOutput(
            source_id="vars.svcUrn",
            target_id="concat('urn:webtext:host/', host)",
            type_name="'hosted on'",
            dependency_type="CONNECTION",
        ),
    )
    delete = ComponentMapping(
        identifier="archived-page-delete",
        signal="logs",
        condition="path LIKE '/archive/%' AND attrs['cluster'] = 'dev'",
        action="DELETE",
        output=ComponentOutput(
            identifier="concat('urn:webtext:host/', host)",
            name="host",
            type_name="'host'",
        ),
    )
    return MappingSet(version=1, components=[comp, host_comp, delete], relations=[rel])


# ---------------------------------------------------------------------------
# YAML/JSON file provider (file_settings_provider.go analog)


def _tag_from_dict(d: dict[str, Any]) -> TagMapping:
    return TagMapping(target=d["target"], source=d["source"], pattern=d.get("pattern"))


def mapping_set_from_dict(doc: dict[str, Any]) -> MappingSet:
    comps, rels = [], []
    for c in doc.get("components", []):
        o = c["output"]
        comps.append(
            ComponentMapping(
                identifier=c["identifier"],
                signal=c.get("signal", "logs"),
                condition=c.get("condition"),
                action=c.get("action", "CREATE"),
                vars=tuple((v["name"], v["value"]) for v in c.get("vars", [])),
                ttl_seconds=int(c.get("ttl_seconds", 900)),
                output=ComponentOutput(
                    identifier=o["identifier"],
                    name=o.get("name", "''"),
                    type_name=o.get("type_name", "''"),
                    additional_identifiers=tuple(o.get("additional_identifiers", [])),
                    configuration=o.get("configuration"),
                    status=o.get("status"),
                    tags=tuple(_tag_from_dict(t) for t in o.get("tags", [])),
                    layer=o.get("layer"),
                    domain=o.get("domain"),
                ),
            )
        )
    for r in doc.get("relations", []):
        o = r["output"]
        rels.append(
            RelationMapping(
                identifier=r["identifier"],
                signal=r.get("signal", "logs"),
                condition=r.get("condition"),
                action=r.get("action", "CREATE"),
                vars=tuple((v["name"], v["value"]) for v in r.get("vars", [])),
                ttl_seconds=int(r.get("ttl_seconds", 900)),
                output=RelationOutput(
                    source_id=o["source_id"],
                    target_id=o["target_id"],
                    type_name=o.get("type_name", "''"),
                    dependency_type=o.get("dependency_type", "UNSPECIFIED"),
                ),
            )
        )
    return MappingSet(version=int(doc.get("version", 1)), components=comps, relations=rels)


def load_mapping_set(path: str) -> MappingSet:
    """Load a mapping snapshot from JSON (or YAML when pyyaml is present —
    gated import; the container has no pyyaml guarantee)."""
    with open(path) as f:
        raw = f.read()
    if path.endswith(".json"):
        return mapping_set_from_dict(json.loads(raw))
    try:
        import yaml  # type: ignore

        return mapping_set_from_dict(yaml.safe_load(raw))
    except ImportError:
        return mapping_set_from_dict(json.loads(raw))


def diff_settings(previous: MappingSet, current: MappingSet) -> list[str]:
    """DiffSettings (snapshot_manager.go:273-288): mapping identifiers
    present before but not now — these trigger tombstone fan-out (R5).
    Set difference instead of the reference's O(n^2) nested loop."""
    prev_ids = {m.identifier for m in previous.components + previous.relations}
    cur_ids = {m.identifier for m in current.components + current.relations}
    return sorted(prev_ids - cur_ids)


def snapshot_changed(previous: MappingSet | None, current: MappingSet) -> bool:
    """Snapshot-update gate (internal/core/cache.go:129-182): listeners are
    notified only when the snapshot actually changed — version bump OR deep
    inequality of the mapping contents. Mappings are frozen dataclasses, so
    tuple equality IS deep equality; repeated identical snapshots
    short-circuit (no metadata republish, no recompile)."""
    if previous is None:
        return True
    if current.version != previous.version:
        return True
    return (
        tuple(current.components) != tuple(previous.components)
        or tuple(current.relations) != tuple(previous.relations)
    )
