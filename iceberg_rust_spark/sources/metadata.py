"""Table metadata model: TableMetadata / Snapshot / PartitionSpec / SortOrder.

JSON layout follows the public Iceberg v2 table-metadata spec (same shape the
reference serializes in spec/table_metadata.rs:69-109), so external tools can
inspect our tables. One documented deviation: manifests and manifest lists are
Parquet (pyarrow), not Avro — fastavro isn't available in this environment, and
columnar manifests are the scale-friendly choice anyway (driver reads only the
columns it prunes on).
"""

from __future__ import annotations

import json
import time
import uuid as _uuid
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional

from ..functions.transforms import Transform, parse_transform
from .types import Schema

MAIN_BRANCH = "main"
PARTITION_FIELD_ID_START = 1000


@dataclass
class PartitionField:
    source_id: int          # source column field id
    field_id: int           # partition field id (>=1000)
    name: str               # partition column name
    transform: Transform

    def to_json(self) -> dict:
        return {"source-id": self.source_id, "field-id": self.field_id,
                "name": self.name, "transform": repr(self.transform)}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["source-id"], d["field-id"], d["name"],
                              parse_transform(d["transform"]))


@dataclass
class PartitionSpec:
    spec_id: int = 0
    fields: List[PartitionField] = dc_field(default_factory=list)

    @property
    def is_unpartitioned(self) -> bool:
        return not self.fields

    def to_json(self) -> dict:
        return {"spec-id": self.spec_id, "fields": [f.to_json() for f in self.fields]}

    @staticmethod
    def from_json(d: dict) -> "PartitionSpec":
        return PartitionSpec(d["spec-id"], [PartitionField.from_json(f) for f in d["fields"]])


@dataclass
class SortField:
    source_id: int
    transform: Transform
    direction: str = "asc"       # asc | desc
    null_order: str = "nulls-last"

    def to_json(self) -> dict:
        return {"source-id": self.source_id, "transform": repr(self.transform),
                "direction": self.direction, "null-order": self.null_order}

    @staticmethod
    def from_json(d: dict) -> "SortField":
        return SortField(d["source-id"], parse_transform(d["transform"]),
                         d.get("direction", "asc"), d.get("null-order", "nulls-last"))


@dataclass
class SortOrder:
    order_id: int = 0
    fields: List[SortField] = dc_field(default_factory=list)

    def to_json(self) -> dict:
        return {"order-id": self.order_id, "fields": [f.to_json() for f in self.fields]}

    @staticmethod
    def from_json(d: dict) -> "SortOrder":
        return SortOrder(d["order-id"], [SortField.from_json(f) for f in d["fields"]])


@dataclass
class Snapshot:
    snapshot_id: int
    sequence_number: int
    timestamp_ms: int
    manifest_list: str
    summary: Dict[str, Any]
    parent_snapshot_id: Optional[int] = None
    schema_id: Optional[int] = None
    # v3 row lineage (snapshot.rs:76-121 SnapshotRowRange): the first row id
    # this snapshot assigns and how many rows it added; both-or-neither
    first_row_id: Optional[int] = None
    added_rows: Optional[int] = None

    @property
    def operation(self) -> str:
        return self.summary.get("operation", "append")

    def to_json(self) -> dict:
        d = {"snapshot-id": self.snapshot_id, "sequence-number": self.sequence_number,
             "timestamp-ms": self.timestamp_ms, "manifest-list": self.manifest_list,
             "summary": self.summary}
        if self.parent_snapshot_id is not None:
            d["parent-snapshot-id"] = self.parent_snapshot_id
        if self.schema_id is not None:
            d["schema-id"] = self.schema_id
        if self.first_row_id is not None:
            d["first-row-id"] = self.first_row_id
            d["added-rows"] = self.added_rows or 0
        return d

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(d["snapshot-id"], d.get("sequence-number", 0),
                        d["timestamp-ms"], d["manifest-list"], d.get("summary", {}),
                        d.get("parent-snapshot-id"), d.get("schema-id"),
                        d.get("first-row-id"), d.get("added-rows"))


@dataclass
class SnapshotRef:
    """Named snapshot reference with the spec's per-ref retention policy
    (snapshot.rs SnapshotRetention:450-479): branches may carry
    min-snapshots-to-keep / max-snapshot-age-ms, any non-main ref may carry
    max-ref-age-ms; None defers to the history.expire.* table properties."""
    snapshot_id: int
    type: str = "branch"  # branch | tag
    min_snapshots_to_keep: Optional[int] = None
    max_snapshot_age_ms: Optional[int] = None
    max_ref_age_ms: Optional[int] = None

    def to_json(self) -> dict:
        d: Dict[str, Any] = {"snapshot-id": self.snapshot_id,
                             "type": self.type}
        if self.min_snapshots_to_keep is not None:
            d["min-snapshots-to-keep"] = self.min_snapshots_to_keep
        if self.max_snapshot_age_ms is not None:
            d["max-snapshot-age-ms"] = self.max_snapshot_age_ms
        if self.max_ref_age_ms is not None:
            d["max-ref-age-ms"] = self.max_ref_age_ms
        return d

    @staticmethod
    def from_json(d: dict) -> "SnapshotRef":
        return SnapshotRef(d["snapshot-id"], d.get("type", "branch"),
                           d.get("min-snapshots-to-keep"),
                           d.get("max-snapshot-age-ms"),
                           d.get("max-ref-age-ms"))


@dataclass
class TableMetadata:
    location: str
    schemas: List[Schema]
    current_schema_id: int
    partition_specs: List[PartitionSpec]
    default_spec_id: int
    format_version: int = 2
    table_uuid: str = dc_field(default_factory=lambda: str(_uuid.uuid4()))
    last_sequence_number: int = 0
    last_updated_ms: int = 0
    last_column_id: int = 0
    last_partition_id: int = PARTITION_FIELD_ID_START - 1
    properties: Dict[str, str] = dc_field(default_factory=dict)
    current_snapshot_id: Optional[int] = None
    snapshots: List[Snapshot] = dc_field(default_factory=list)
    snapshot_log: List[Dict[str, int]] = dc_field(default_factory=list)
    metadata_log: List[Dict[str, Any]] = dc_field(default_factory=list)
    sort_orders: List[SortOrder] = dc_field(default_factory=lambda: [SortOrder(0, [])])
    default_sort_order_id: int = 0
    refs: Dict[str, SnapshotRef] = dc_field(default_factory=dict)
    # statistics files + encryption keys (v3), managed via TableUpdate IR
    statistics: List[Dict[str, Any]] = dc_field(default_factory=list)
    partition_statistics: List[Dict[str, Any]] = dc_field(default_factory=list)
    encryption_keys: List[Dict[str, Any]] = dc_field(default_factory=list)
    # v3 row lineage (table_metadata.rs:140): next first-row-id to assign
    next_row_id: int = 0
    # the file this metadata was read from or last encoded to (Java's
    # TableMetadata.metadataFileLocation()); transient, never serialized
    metadata_file_location: Optional[str] = dc_field(default=None,
                                                     compare=False)

    # -- lookups -----------------------------------------------------------
    def schema(self, schema_id: Optional[int] = None) -> Schema:
        sid = self.current_schema_id if schema_id is None else schema_id
        for s in self.schemas:
            if s.schema_id == sid:
                return s
        raise KeyError(f"no schema id {sid}")

    def spec(self, spec_id: Optional[int] = None) -> PartitionSpec:
        sid = self.default_spec_id if spec_id is None else spec_id
        for s in self.partition_specs:
            if s.spec_id == sid:
                return s
        raise KeyError(f"no partition spec id {sid}")

    def snapshot_by_id(self, snapshot_id: int) -> Optional[Snapshot]:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        return None

    def current_snapshot(self) -> Optional[Snapshot]:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_as_of(self, timestamp_ms: int) -> Optional[Snapshot]:
        cands = [e for e in self.snapshot_log if e["timestamp-ms"] <= timestamp_ms]
        if not cands:
            return None
        return self.snapshot_by_id(cands[-1]["snapshot-id"])

    # -- serde -------------------------------------------------------------
    def to_json(self) -> str:
        d = {
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "current-schema-id": self.current_schema_id,
            "schemas": [s.to_json_dict() for s in self.schemas],
            "default-spec-id": self.default_spec_id,
            "partition-specs": [s.to_json() for s in self.partition_specs],
            "last-partition-id": self.last_partition_id,
            "properties": self.properties,
            "current-snapshot-id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": self.snapshot_log,
            "metadata-log": self.metadata_log,
            "sort-orders": [s.to_json() for s in self.sort_orders],
            "default-sort-order-id": self.default_sort_order_id,
            "refs": {k: v.to_json() for k, v in self.refs.items()},
        }
        if self.statistics:
            d["statistics"] = self.statistics
        if self.partition_statistics:
            d["partition-statistics"] = self.partition_statistics
        if self.encryption_keys:
            d["encryption-keys"] = self.encryption_keys
        d["next-row-id"] = self.next_row_id
        return json.dumps(d, indent=2)

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        d = json.loads(text)
        return TableMetadata(
            location=d["location"],
            schemas=[Schema.from_json_dict(s) for s in d["schemas"]],
            current_schema_id=d["current-schema-id"],
            partition_specs=[PartitionSpec.from_json(s) for s in d["partition-specs"]],
            default_spec_id=d["default-spec-id"],
            format_version=d.get("format-version", 2),
            table_uuid=d.get("table-uuid", str(_uuid.uuid4())),
            last_sequence_number=d.get("last-sequence-number", 0),
            last_updated_ms=d.get("last-updated-ms", 0),
            last_column_id=d.get("last-column-id", 0),
            last_partition_id=d.get("last-partition-id", PARTITION_FIELD_ID_START - 1),
            properties=d.get("properties", {}),
            current_snapshot_id=d.get("current-snapshot-id"),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            snapshot_log=d.get("snapshot-log", []),
            metadata_log=d.get("metadata-log", []),
            sort_orders=[SortOrder.from_json(s) for s in d.get("sort-orders", [SortOrder(0, []).to_json()])],
            default_sort_order_id=d.get("default-sort-order-id", 0),
            refs={k: SnapshotRef.from_json(v) for k, v in d.get("refs", {}).items()},
            statistics=d.get("statistics", []),
            partition_statistics=d.get("partition-statistics", []),
            encryption_keys=d.get("encryption-keys", []),
            next_row_id=d.get("next-row-id", 0),
        )


def now_ms() -> int:
    return int(time.time() * 1000)


def new_snapshot_id() -> int:
    # 63-bit positive random id, like the reference's generator
    return _uuid.uuid4().int & ((1 << 63) - 1)
