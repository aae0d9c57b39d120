"""Iceberg type system <-> Spark StructType, field-id driven.

Re-expresses the reference's schema model (see
/root/reference/crates/iceberg/src/spec/datatypes.rs:84-95 for the Type enum and
spec/schema/mod.rs:64-74 for the interned Schema) Spark-first: every field carries
its Iceberg field id inside ``StructField.metadata['iceberg.field-id']`` so that all
projection is by id, never by name (the reference quotes the same rule in
arrow/reader/pipeline.rs:152-156).

Design notes (public Iceberg spec semantics, no code ported):
- primitives: boolean,int,long,float,double,decimal(P,S),date,time,timestamp,
  timestamptz,timestamp_ns,timestamptz_ns,string,uuid,fixed[L],binary
- ``time`` has no Spark native type -> LongType micros + convention flag.
- ns timestamps exceed Spark's micro precision -> mapped to micro types (lossy,
  flagged), mirroring the reference's own INT96 coercion.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any, Dict, Iterator, List, Optional, Tuple, Union

import pyspark.sql.types as T

FIELD_ID_KEY = "iceberg.field-id"
DOC_KEY = "iceberg.doc"
LOGICAL_KEY = "iceberg.logical-type"  # for time / uuid / ns-timestamps


# ---------------------------------------------------------------------------
# Type model
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PrimitiveType:
    name: str  # 'int', 'long', ... or 'decimal(10,2)', 'fixed[16]'

    def __str__(self) -> str:  # iceberg JSON spelling
        return self.name

    @property
    def is_numeric(self) -> bool:
        return self.name in ("int", "long", "float", "double") or self.name.startswith("decimal")


BOOLEAN = PrimitiveType("boolean")
INT = PrimitiveType("int")
LONG = PrimitiveType("long")
FLOAT = PrimitiveType("float")
DOUBLE = PrimitiveType("double")
DATE = PrimitiveType("date")
TIME = PrimitiveType("time")
TIMESTAMP = PrimitiveType("timestamp")
TIMESTAMPTZ = PrimitiveType("timestamptz")
TIMESTAMP_NS = PrimitiveType("timestamp_ns")
TIMESTAMPTZ_NS = PrimitiveType("timestamptz_ns")
STRING = PrimitiveType("string")
UUID = PrimitiveType("uuid")
BINARY = PrimitiveType("binary")
# v3 semi-structured type (reference: spec/datatypes.rs:94). Spark 4 has a
# native VariantType with parse_json / try_variant_get / variant_get, so the
# mapping is direct — no shredding emulation needed.
VARIANT = PrimitiveType("variant")


def decimal(precision: int, scale: int) -> PrimitiveType:
    return PrimitiveType(f"decimal({precision},{scale})")


def fixed(length: int) -> PrimitiveType:
    return PrimitiveType(f"fixed[{length}]")


@dataclass(frozen=True)
class NestedField:
    field_id: int
    name: str
    field_type: "IcebergType"
    required: bool = False
    doc: Optional[str] = None
    initial_default: Any = None
    write_default: Any = None


@dataclass(frozen=True)
class StructType:
    fields: Tuple[NestedField, ...]

    def __str__(self) -> str:
        return "struct<" + ", ".join(f"{f.field_id}: {f.name}: {f.field_type}" for f in self.fields) + ">"


@dataclass(frozen=True)
class ListType:
    element_id: int
    element_type: "IcebergType"
    element_required: bool = False


@dataclass(frozen=True)
class MapType:
    key_id: int
    key_type: "IcebergType"
    value_id: int
    value_type: "IcebergType"
    value_required: bool = False


IcebergType = Union[PrimitiveType, StructType, ListType, MapType]


# ---------------------------------------------------------------------------
# Schema
# ---------------------------------------------------------------------------

class Schema:
    """Versioned, fixed schema. Interns id->field and name->id maps like the
    reference's Schema (spec/schema/mod.rs:64-74)."""

    def __init__(self, fields: List[NestedField], schema_id: int = 0,
                 identifier_field_ids: Optional[List[int]] = None):
        self.schema_id = schema_id
        self.fields: Tuple[NestedField, ...] = tuple(fields)
        self.identifier_field_ids = list(identifier_field_ids or [])
        self._id_to_field: Dict[int, NestedField] = {}
        self._id_to_path: Dict[int, Tuple[str, ...]] = {}
        self._name_to_id: Dict[str, int] = {}
        for f in self.fields:
            self._index(f, ())

    def _index(self, f: NestedField, parent: Tuple[str, ...]) -> None:
        path = parent + (f.name,)
        full = ".".join(path)
        if f.field_id in self._id_to_field:
            raise ValueError(f"duplicate field id {f.field_id}")
        self._id_to_field[f.field_id] = f
        self._id_to_path[f.field_id] = path
        self._name_to_id[full] = f.field_id
        self._name_to_id.setdefault(full.lower(), f.field_id)
        if isinstance(f.field_type, StructType):
            for sub in f.field_type.fields:
                self._index(sub, path)

    # -- lookups ------------------------------------------------------------
    def field_by_id(self, field_id: int) -> Optional[NestedField]:
        return self._id_to_field.get(field_id)

    def field_path(self, field_id: int) -> Tuple[str, ...]:
        """The names from the top-level column down to field ``field_id``
        (struct fields only; one name for a top-level column)."""
        return self._id_to_path[field_id]

    def field_id_for_name(self, name: str, case_sensitive: bool = True) -> Optional[int]:
        if case_sensitive:
            return self._name_to_id.get(name)
        return self._name_to_id.get(name) or self._name_to_id.get(name.lower())

    def field_by_name(self, name: str, case_sensitive: bool = True) -> Optional[NestedField]:
        fid = self.field_id_for_name(name, case_sensitive)
        return self._id_to_field.get(fid) if fid is not None else None

    @property
    def highest_field_id(self) -> int:
        return max(self._id_to_field, default=0)

    def column_names(self) -> List[str]:
        return [f.name for f in self.fields]

    def iter_fields(self) -> Iterator[NestedField]:
        return iter(self.fields)

    # -- serde --------------------------------------------------------------
    def to_json_dict(self) -> dict:
        return {
            "type": "struct",
            "schema-id": self.schema_id,
            "identifier-field-ids": self.identifier_field_ids,
            "fields": [_field_to_json(f) for f in self.fields],
        }

    @staticmethod
    def from_json_dict(d: dict) -> "Schema":
        fields = [_field_from_json(fd) for fd in d["fields"]]
        return Schema(fields, schema_id=d.get("schema-id", 0),
                      identifier_field_ids=d.get("identifier-field-ids") or [])

    # -- spark --------------------------------------------------------------
    def to_spark(self) -> T.StructType:
        return T.StructType([_field_to_spark(f) for f in self.fields])

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Schema) and self.fields == other.fields \
            and self.schema_id == other.schema_id

    def __repr__(self) -> str:
        return f"Schema(id={self.schema_id}, {[f.name for f in self.fields]})"


# ---------------------------------------------------------------------------
# JSON serde (Iceberg metadata spelling)
# ---------------------------------------------------------------------------

def type_to_json(t: IcebergType) -> Any:
    if isinstance(t, PrimitiveType):
        return t.name
    if isinstance(t, StructType):
        return {"type": "struct", "fields": [_field_to_json(f) for f in t.fields]}
    if isinstance(t, ListType):
        return {"type": "list", "element-id": t.element_id,
                "element": type_to_json(t.element_type), "element-required": t.element_required}
    if isinstance(t, MapType):
        return {"type": "map", "key-id": t.key_id, "key": type_to_json(t.key_type),
                "value-id": t.value_id, "value": type_to_json(t.value_type),
                "value-required": t.value_required}
    raise TypeError(str(t))


def type_from_json(j: Any) -> IcebergType:
    if isinstance(j, str):
        if j.startswith("fixed"):
            m = re.match(r"fixed\[(\d+)\]", j)
            return fixed(int(m.group(1)))
        return PrimitiveType(j)
    t = j["type"]
    if t == "struct":
        return StructType(tuple(_field_from_json(f) for f in j["fields"]))
    if t == "list":
        return ListType(j["element-id"], type_from_json(j["element"]), j.get("element-required", False))
    if t == "map":
        return MapType(j["key-id"], type_from_json(j["key"]),
                       j["value-id"], type_from_json(j["value"]), j.get("value-required", False))
    raise ValueError(str(j))


def _field_to_json(f: NestedField) -> dict:
    d = {"id": f.field_id, "name": f.name, "required": f.required,
         "type": type_to_json(f.field_type)}
    if f.doc:
        d["doc"] = f.doc
    if f.initial_default is not None:
        d["initial-default"] = f.initial_default
    if f.write_default is not None:
        d["write-default"] = f.write_default
    return d


def _field_from_json(d: dict) -> NestedField:
    return NestedField(
        field_id=d["id"], name=d["name"], field_type=type_from_json(d["type"]),
        required=d.get("required", False), doc=d.get("doc"),
        initial_default=d.get("initial-default"), write_default=d.get("write-default"))


# ---------------------------------------------------------------------------
# Spark conversion
# ---------------------------------------------------------------------------

_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(), "int": T.IntegerType(), "long": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(), "date": T.DateType(),
    "time": T.LongType(), "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(), "timestamp_ns": T.TimestampNTZType(),
    "timestamptz_ns": T.TimestampType(), "string": T.StringType(),
    "uuid": T.StringType(), "binary": T.BinaryType(),
    "variant": T.VariantType(),
}


def sql_ident(name: str) -> str:
    """A column name as a Spark SQL identifier: backticks around it, each
    embedded backtick doubled (so ``F.col`` reads dots and backticks in a
    name literally)."""
    return "`" + name.replace("`", "``") + "`"


def type_to_spark(t: IcebergType) -> T.DataType:
    if isinstance(t, PrimitiveType):
        if t.name.startswith("decimal"):
            m = re.match(r"decimal\((\d+),\s*(\d+)\)", t.name)
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if t.name.startswith("fixed"):
            return T.BinaryType()
        return _PRIM_TO_SPARK[t.name]
    if isinstance(t, StructType):
        return T.StructType([_field_to_spark(f) for f in t.fields])
    if isinstance(t, ListType):
        return T.ArrayType(type_to_spark(t.element_type), containsNull=not t.element_required)
    if isinstance(t, MapType):
        return T.MapType(type_to_spark(t.key_type), type_to_spark(t.value_type),
                         valueContainsNull=not t.value_required)
    raise TypeError(str(t))


def _field_to_spark(f: NestedField) -> T.StructField:
    md = {FIELD_ID_KEY: f.field_id}
    if isinstance(f.field_type, PrimitiveType) and f.field_type.name in (
            "time", "uuid", "timestamp_ns", "timestamptz_ns"):
        md[LOGICAL_KEY] = f.field_type.name
    if f.doc:
        md[DOC_KEY] = f.doc
    return T.StructField(f.name, type_to_spark(f.field_type), nullable=not f.required, metadata=md)


def schema_from_spark(spark_schema: T.StructType, schema_id: int = 0) -> Schema:
    """Convert a Spark StructType to an Iceberg Schema, auto-assigning fresh
    sequential field ids when no ``iceberg.field-id`` metadata is present
    (mirrors the reference's arrow/schema.rs:315 auto-assign path)."""
    counter = [0]

    def next_id() -> int:
        counter[0] += 1
        return counter[0]

    def conv_type(dt: T.DataType) -> IcebergType:
        if isinstance(dt, T.StructType):
            return StructType(tuple(conv_field(f) for f in dt.fields))
        if isinstance(dt, T.ArrayType):
            return ListType(next_id(), conv_type(dt.elementType), not dt.containsNull)
        if isinstance(dt, T.MapType):
            return MapType(next_id(), conv_type(dt.keyType), next_id(),
                           conv_type(dt.valueType), not dt.valueContainsNull)
        return _spark_prim_to_iceberg(dt)

    def conv_field(f: T.StructField) -> NestedField:
        md = f.metadata or {}
        fid = md.get(FIELD_ID_KEY) or next_id()
        counter[0] = max(counter[0], fid)
        return NestedField(fid, f.name, conv_type(f.dataType), required=not f.nullable,
                           doc=md.get(DOC_KEY))

    return Schema([conv_field(f) for f in spark_schema.fields], schema_id=schema_id)


def _spark_prim_to_iceberg(dt: T.DataType) -> PrimitiveType:
    if isinstance(dt, T.BooleanType):
        return BOOLEAN
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return INT
    if isinstance(dt, T.LongType):
        return LONG
    if isinstance(dt, T.FloatType):
        return FLOAT
    if isinstance(dt, T.DoubleType):
        return DOUBLE
    if isinstance(dt, T.DecimalType):
        return decimal(dt.precision, dt.scale)
    if isinstance(dt, T.DateType):
        return DATE
    if isinstance(dt, T.TimestampNTZType):
        return TIMESTAMP
    if isinstance(dt, T.TimestampType):
        return TIMESTAMPTZ
    if isinstance(dt, T.StringType):
        return STRING
    if isinstance(dt, T.BinaryType):
        return BINARY
    if isinstance(dt, T.VariantType):
        return VARIANT
    raise TypeError(f"unsupported spark type {dt}")


# ---------------------------------------------------------------------------
# Type promotion (schema evolution), per Iceberg spec v2 rules
# ---------------------------------------------------------------------------

def is_promotable(src: IcebergType, dst: IcebergType) -> bool:
    if src == dst:
        return True
    if not (isinstance(src, PrimitiveType) and isinstance(dst, PrimitiveType)):
        return False
    s, d = src.name, dst.name
    if s == "int" and d == "long":
        return True
    if s == "float" and d == "double":
        return True
    if s.startswith("decimal") and d.startswith("decimal"):
        sp, ss = _dec_parts(s)
        dp, ds = _dec_parts(d)
        return ss == ds and dp >= sp
    return False


def _dec_parts(name: str) -> Tuple[int, int]:
    m = re.match(r"decimal\((\d+),\s*(\d+)\)", name)
    return int(m.group(1)), int(m.group(2))
