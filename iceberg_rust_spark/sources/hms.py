"""Hive Metastore catalog over the real Thrift wire protocol.

Counterpart of the reference's HMS catalog
(crates/catalog/hms/src/catalog.rs:441-735, utils.rs:57-208,
schema.rs:55-127): namespaces are Hive ``Database``s (single level —
list_namespaces(parent) returns [] for a parent, catalog.rs:447-449),
tables are ``EXTERNAL_TABLE`` Hive tables whose ``metadata_location``
parameter points at the current Iceberg metadata JSON, and the column list
mirrors the Iceberg schema as Hive type strings (schema.rs primitive map).

Wire protocol: Thrift strict-binary over buffered or framed TCP transport
(catalog.rs:226-236), speaking the public hive_metastore.thrift IDL —
struct field ids below come from that published IDL, not from any
implementation. No generated stubs: structs are literal
``{field_id: (ttype, value)}`` maps over thrift_proto.

Commit protocol: the Rust reference leaves ``update_table`` unsupported
(catalog.rs:728-733); we go one further and implement the Java
HiveCatalog/pyiceberg commit — take an EXCLUSIVE metastore lock on the
table (lock/check_lock/unlock RPCs), re-read ``metadata_location``,
verify it is still the base we started from, write the new metadata file
and alter_table — so commits are linearized by the metastore itself.
"""

from __future__ import annotations

import getpass
import socket as _socket
import time
from typing import Dict, List, Optional, Tuple

from . import thrift_proto as tp
from .catalog import (CommitConflict, NamespaceNotEmpty, NoSuchNamespace,
                      NoSuchTable, TableAlreadyExists, metadata_bytes,
                      new_metadata_location, ptr_version, read_metadata)
from .io import file_io_for, posix_join
from .metadata import TableMetadata, now_ms
from .types import (IcebergType, ListType, MapType, NestedField,
                    PrimitiveType, Schema, StructType)

SERIALIZATION_LIB = "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe"
INPUT_FORMAT = "org.apache.hadoop.mapred.FileInputFormat"
OUTPUT_FORMAT = "org.apache.hadoop.mapred.FileOutputFormat"
METADATA_LOCATION = "metadata_location"
PREV_METADATA_LOCATION = "previous_metadata_location"

# Lock enums from the public hive_metastore.thrift IDL
LOCK_EXCLUSIVE = 1          # LockType.EXCLUSIVE
LOCK_LEVEL_TABLE = 2        # LockLevel.TABLE
LOCK_ACQUIRED = 1           # LockState.ACQUIRED
LOCK_WAITING = 2            # LockState.WAITING


class MetastoreError(Exception):
    """A declared Thrift exception surfaced by the metastore."""


# ------------------------------------------------------------- hive types
def hive_type(t: IcebergType) -> str:
    """Iceberg -> Hive type string (reference schema.rs:100-127 rules)."""
    if isinstance(t, PrimitiveType):
        n = t.name
        simple = {"boolean": "boolean", "int": "int", "long": "bigint",
                  "float": "float", "double": "double", "date": "date",
                  "timestamp": "timestamp", "timestamp_ns": "timestamp_ns",
                  "time": "string", "string": "string", "uuid": "string",
                  "binary": "binary", "variant": "unknown"}
        if n in simple:
            return simple[n]
        if n.startswith("decimal("):
            return n
        if n.startswith("fixed["):
            return "binary"
        # timestamptz/_ns: reference raises FeatureUnsupported
        raise ValueError(f"hive type conversion unsupported for {n}")
    if isinstance(t, StructType):
        inner = ", ".join(f"{f.name}:{hive_type(f.field_type)}"
                          for f in t.fields)
        return f"struct<{inner}>"
    if isinstance(t, ListType):
        return f"array<{hive_type(t.element_type)}>"
    if isinstance(t, MapType):
        return f"map<{hive_type(t.key_type)},{hive_type(t.value_type)}>"
    raise ValueError(f"unknown type {t!r}")


def hive_columns(schema: Schema) -> List[Tuple[str, str, Optional[str]]]:
    return [(f.name, hive_type(f.field_type), f.doc)
            for f in schema.fields]


# -------------------------------------------------- thrift struct builders
def _field_schema(name: str, type_str: str, comment: Optional[str]):
    d = {1: (tp.STRING, name), 2: (tp.STRING, type_str)}
    if comment:
        d[3] = (tp.STRING, comment)
    return d


def _str_map(m: Dict[str, str]):
    return (tp.MAP, (tp.STRING, tp.STRING, dict(m)))


def _database(name: str, description: Optional[str], location: str,
              parameters: Dict[str, str], owner: Optional[str]):
    d = {1: (tp.STRING, name),
         3: (tp.STRING, location),
         4: _str_map(parameters)}
    if description:
        d[2] = (tp.STRING, description)
    if owner:
        d[6] = (tp.STRING, owner)
    return d


def _hive_table(db: str, name: str, schema: Schema, location: str,
                metadata_location: str, properties: Dict[str, str],
                prev_metadata_location: Optional[str] = None):
    cols = (tp.STRUCT, [
        _field_schema(n, t, c) for n, t, c in hive_columns(schema)])
    serde = {2: (tp.STRING, SERIALIZATION_LIB),
             3: _str_map({})}
    sd = {1: (tp.LIST, cols),
          2: (tp.STRING, location),
          3: (tp.STRING, INPUT_FORMAT),
          4: (tp.STRING, OUTPUT_FORMAT),
          7: (tp.STRUCT, serde)}
    params = {"EXTERNAL": "TRUE", "table_type": "ICEBERG",
              METADATA_LOCATION: metadata_location}
    if prev_metadata_location:
        params[PREV_METADATA_LOCATION] = prev_metadata_location
    now_s = int(time.time())
    owner = properties.get("owner") or getpass.getuser()
    return {1: (tp.STRING, name),
            2: (tp.STRING, db),
            3: (tp.STRING, owner),
            4: (tp.I32, now_s),
            5: (tp.I32, now_s),
            7: (tp.STRUCT, sd),
            9: _str_map(params),
            12: (tp.STRING, "EXTERNAL_TABLE")}


def _struct_get(st, fid: int, default=None):
    if st is None:
        return default
    entry = st.get(fid)
    return entry[1] if entry is not None else default


def _map_get(st, fid: int) -> Dict[str, str]:
    v = _struct_get(st, fid)
    return dict(v[2]) if v else {}


# ----------------------------------------------------------------- catalog
class HmsCatalog:
    """Catalog over a Hive metastore Thrift endpoint.

    Interface-compatible with FileSystemCatalog/SqlCatalog so Table /
    run_sql work unchanged. Properties (reference catalog.rs:43-55):
    ``uri`` = host:port, ``warehouse`` = table-location root,
    ``thrift_transport`` = buffered (default) | framed.
    """

    def __init__(self, uri: str, warehouse: str, framed: bool = False):
        host, _, port = uri.rpartition(":")
        self._client = tp.ThriftClient(host or "127.0.0.1", int(port),
                                       framed=framed)
        self.warehouse = warehouse.rstrip("/")
        self.io = file_io_for(self.warehouse)
        self.io.makedirs(self.warehouse)

    # -- rpc plumbing ------------------------------------------------------
    def _call(self, method: str, args, ok_fid: int = 0,
              exc_map: Optional[Dict[int, type]] = None):
        result = self._client.call(method, args)
        for fid, (_t, payload) in sorted(result.items()):
            if fid == ok_fid:
                continue
            msg = _struct_get(payload, 1, "") if isinstance(payload, dict) \
                else str(payload)
            exc = (exc_map or {}).get(fid, MetastoreError)
            raise exc(f"{method}: {msg}")
        entry = result.get(ok_fid)
        return entry[1] if entry else None

    @staticmethod
    def _split(identifier: str) -> Tuple[str, str]:
        ns, _, name = identifier.rpartition(".")
        if not ns:
            raise ValueError(f"identifier must be namespace.table: {identifier}")
        return ns, name

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[Dict[str, str]] = None) -> None:
        props = dict(properties or {})
        if "." in namespace:
            # HMS namespaces are single-level (catalog.rs:447, utils.rs:210)
            raise ValueError("hms namespaces are single-level")
        location = props.pop("location",
                             posix_join(self.warehouse, f"{namespace}.db"))
        db = _database(namespace, props.pop("comment", None), location,
                       props, props.pop("hive.metastore.database.owner", None))
        try:
            self._call("create_database", {1: (tp.STRUCT, db)})
        except MetastoreError as e:
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                return
            raise

    def list_namespaces(self) -> List[str]:
        got = self._call("get_all_databases", {})
        return sorted(got[1]) if got else []

    def namespace_exists(self, namespace: str) -> bool:
        try:
            self._call("get_database", {1: (tp.STRING, namespace)},
                       exc_map={1: NoSuchNamespace})
            return True
        except NoSuchNamespace:
            return False

    def namespace_properties(self, namespace: str) -> Dict[str, str]:
        db = self._call("get_database", {1: (tp.STRING, namespace)},
                        exc_map={1: NoSuchNamespace})
        props = _map_get(db, 4)
        if _struct_get(db, 2):
            props["comment"] = _struct_get(db, 2)
        if _struct_get(db, 3):
            props["location"] = _struct_get(db, 3)
        return props

    def update_namespace(self, namespace: str,
                         updates: Optional[Dict[str, str]] = None,
                         removals: Optional[List[str]] = None
                         ) -> Dict[str, str]:
        """alter_database with the merged property map (comment/location
        route back to their Database struct fields like create)."""
        props = self.namespace_properties(namespace)
        for k in removals or ():
            props.pop(k, None)
        props.update(updates or {})
        location = props.pop("location",
                             posix_join(self.warehouse, f"{namespace}.db"))
        db = _database(namespace, props.pop("comment", None), location,
                       props, props.pop("hive.metastore.database.owner",
                                        None))
        self._call("alter_database",
                   {1: (tp.STRING, namespace), 2: (tp.STRUCT, db)},
                   exc_map={2: NoSuchNamespace})
        return self.namespace_properties(namespace)

    def drop_namespace(self, namespace: str) -> None:
        # deleteData=False, cascade=False: a non-empty database raises
        # InvalidOperationException (thrift field 2)
        self._call("drop_database",
                   {1: (tp.STRING, namespace), 2: (tp.BOOL, False),
                    3: (tp.BOOL, False)},
                   exc_map={1: NoSuchNamespace, 2: NamespaceNotEmpty})

    # -- tables ------------------------------------------------------------
    def list_tables(self, namespace: str) -> List[str]:
        got = self._call("get_all_tables", {1: (tp.STRING, namespace)})
        return sorted(got[1]) if got else []

    def _get_table(self, identifier: str):
        ns, name = self._split(identifier)
        return self._call(
            "get_table", {1: (tp.STRING, ns), 2: (tp.STRING, name)},
            exc_map={2: NoSuchTable})

    def table_exists(self, identifier: str) -> bool:
        try:
            self._get_table(identifier)
            return True
        except NoSuchTable:
            return False

    def _table_dir(self, identifier: str) -> str:
        ns, name = self._split(identifier)
        return posix_join(self.warehouse, ns, name)

    def create_table(self, identifier: str,
                     metadata: TableMetadata) -> TableMetadata:
        ns, name = self._split(identifier)
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        location = self._table_dir(identifier)
        metadata.location = location
        md_dir = posix_join(location, "metadata")
        self.io.makedirs(md_dir)
        self.io.makedirs(posix_join(location, "data"))
        target = new_metadata_location(md_dir, 1, metadata)
        self.io.write_bytes(target, metadata_bytes(self.io, metadata, target))
        tbl = _hive_table(ns, name, metadata.schema(), location, target,
                          metadata.properties)
        try:
            self._call("create_table", {1: (tp.STRUCT, tbl)},
                       exc_map={1: TableAlreadyExists})
        except TableAlreadyExists:
            raise TableAlreadyExists(identifier)
        return metadata

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        tbl = self._get_table(identifier)
        params = _map_get(tbl, 9)
        ptr = params.get(METADATA_LOCATION)
        if not ptr:
            raise NoSuchTable(
                f"{identifier}: no {METADATA_LOCATION} parameter")
        return read_metadata(self.io, ptr)

    # -- metastore table locks (public IDL: lock/check_lock/unlock) --------
    def _lock(self, ns: str, name: str) -> int:
        component = {1: (tp.I32, LOCK_EXCLUSIVE),
                     2: (tp.I32, LOCK_LEVEL_TABLE),
                     3: (tp.STRING, ns),
                     4: (tp.STRING, name)}
        req = {1: (tp.LIST, (tp.STRUCT, [component])),
               3: (tp.STRING, getpass.getuser()),
               4: (tp.STRING, _socket.gethostname())}
        resp = self._call("lock", {1: (tp.STRUCT, req)})
        lock_id = _struct_get(resp, 1)
        state = _struct_get(resp, 2)
        deadline = time.monotonic() + 30.0
        while state == LOCK_WAITING:
            if time.monotonic() > deadline:
                self._unlock(lock_id)
                raise CommitConflict(f"{ns}.{name}: lock wait timed out")
            time.sleep(0.05)
            chk = self._call("check_lock",
                             {1: (tp.STRUCT, {1: (tp.I64, lock_id)})})
            state = _struct_get(chk, 2)
        if state != LOCK_ACQUIRED:
            raise CommitConflict(f"{ns}.{name}: lock state {state}")
        return lock_id

    def _unlock(self, lock_id: int) -> None:
        try:
            self._call("unlock",
                       {1: (tp.STRUCT, {1: (tp.I64, lock_id)})})
        except MetastoreError:
            pass

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        ns, name = self._split(identifier)
        lock_id = self._lock(ns, name)
        try:
            tbl = self._get_table(identifier)
            params = _map_get(tbl, 9)
            current = params.get(METADATA_LOCATION)
            if current is None or ptr_version(current) != base_version:
                raise CommitConflict(
                    f"{identifier}: base v{base_version} is no longer current")
            new_version = base_version + 1
            target = new_metadata_location(current.rsplit("/", 1)[0],
                                           new_version, metadata)
            self.io.write_bytes(
                target, metadata_bytes(self.io, metadata, target, current))
            new_tbl = _hive_table(ns, name, metadata.schema(),
                                  metadata.location, target,
                                  metadata.properties,
                                  prev_metadata_location=current)
            self._call("alter_table",
                       {1: (tp.STRING, ns), 2: (tp.STRING, name),
                        3: (tp.STRUCT, new_tbl)})
            return new_version
        finally:
            self._unlock(lock_id)

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """Catalog entry at EXISTING metadata (the Rust reference leaves
        this unsupported for HMS, catalog.rs:717-726; Java's HiveCatalog
        supports it and this follows Java)."""
        ns, name = self._split(identifier)
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        md, _ = read_metadata(self.io, metadata_location)
        tbl = _hive_table(ns, name, md.schema(), md.location,
                          metadata_location, md.properties)
        self._call("create_table", {1: (tp.STRUCT, tbl)},
                   exc_map={1: TableAlreadyExists})
        return md

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        ns, name = self._split(identifier)
        if not self.table_exists(identifier):
            raise NoSuchTable(identifier)
        self._call("drop_table",
                   {1: (tp.STRING, ns), 2: (tp.STRING, name),
                    3: (tp.BOOL, False)},
                   exc_map={1: NoSuchTable})
        if purge:
            self.io.delete_prefix(self._table_dir(identifier))

    def rename_table(self, src: str, dst: str) -> None:
        """Pointer-only rename via alter_table (catalog.rs:640-677):
        db_name/table_name change, the LOCATION and metadata stay put."""
        if self.table_exists(dst):
            raise TableAlreadyExists(dst)
        src_ns, src_name = self._split(src)
        dst_ns, dst_name = self._split(dst)
        tbl = self._get_table(src)
        tbl = dict(tbl)
        tbl[1] = (tp.STRING, dst_name)
        tbl[2] = (tp.STRING, dst_ns)
        self._call("alter_table",
                   {1: (tp.STRING, src_ns), 2: (tp.STRING, src_name),
                    3: (tp.STRUCT, tbl)})

    def close(self) -> None:
        self._client.close()
