"""AWS Glue Data Catalog over the real AWS JSON-1.1 wire protocol.

Counterpart of the reference's Glue catalog
(crates/catalog/glue/src/catalog.rs:320-961, utils.rs:94-260,
schema.rs:104-180): namespaces are Glue ``Database``s, tables carry
``table_type=ICEBERG`` + ``metadata_location`` (+ ``previous_metadata_
location``) parameters and an EXTERNAL_TABLE TableInput whose columns
mirror the Iceberg schema with ``iceberg.field.id`` / ``.optional`` /
``.current`` column parameters; commits are optimistic via Glue's table
``VersionId`` (UpdateTable with the loaded VersionId, SkipArchive=true —
catalog.rs:900-961; a racing writer surfaces as
ConcurrentModificationException -> CommitConflict).

Wire protocol: AWS JSON 1.1 — ``POST /`` with
``X-Amz-Target: AWSGlue.<Operation>`` and a SigV4-signed body — spoken
with http.client + sigv4.py, no SDK. Errors arrive as
``{"__type": "...Exception", "Message": ...}``.
"""

from __future__ import annotations

import http.client
import json
import urllib.parse
from typing import Dict, List, Optional, Tuple

from . import sigv4
from .catalog import (CommitConflict, NamespaceNotEmpty, NoSuchNamespace,
                      NoSuchTable, TableAlreadyExists, metadata_bytes,
                      new_metadata_location, ptr_version, read_metadata)
from .hms import hive_type  # same type-string rules as the Glue builder
from .io import file_io_for, posix_join
from .metadata import TableMetadata
from .types import Schema

METADATA_LOCATION = "metadata_location"
PREV_METADATA_LOCATION = "previous_metadata_location"

# reference utils.rs:30-42 property keys
AWS_REGION_NAME = "region_name"
AWS_ACCESS_KEY_ID = "aws_access_key_id"
AWS_SECRET_ACCESS_KEY = "aws_secret_access_key"
AWS_SESSION_TOKEN = "aws_session_token"


class GlueError(Exception):
    """A Glue service error (__type carried along)."""

    def __init__(self, type_: str, message: str):
        super().__init__(f"{type_}: {message}")
        self.type = type_


def glue_columns(schema: Schema) -> List[dict]:
    """Iceberg schema -> Glue Column list (reference schema.rs:104-135):
    top-level fields become columns with the iceberg.field.* parameters;
    nesting is folded into Hive type strings."""
    cols = []
    for f in schema.fields:
        col = {"Name": f.name, "Type": hive_type(f.field_type),
               "Parameters": {
                   "iceberg.field.id": str(f.field_id),
                   "iceberg.field.optional": str(not f.required).lower(),
                   "iceberg.field.current": "true"}}
        if f.doc:
            col["Comment"] = f.doc
        cols.append(col)
    return cols


def _table_input(name: str, metadata: TableMetadata, metadata_location: str,
                 prev_metadata_location: Optional[str] = None) -> dict:
    params = {"table_type": "ICEBERG",
              METADATA_LOCATION: metadata_location}
    if prev_metadata_location:
        params[PREV_METADATA_LOCATION] = prev_metadata_location
    ti = {"Name": name,
          "TableType": "EXTERNAL_TABLE",
          "Parameters": params,
          "StorageDescriptor": {
              "Columns": glue_columns(metadata.schema()),
              "Location": metadata.location}}
    if "description" in metadata.properties:
        ti["Description"] = metadata.properties["description"]
    return ti


class GlueCatalog:
    """Catalog over a Glue endpoint (AWS JSON 1.1 + SigV4).

    ``uri`` is the endpoint URL (the reference's builder likewise takes an
    endpoint override for non-AWS endpoints); credentials and region come
    from the reference's property keys (utils.rs:30-42).
    """

    service = "glue"

    def __init__(self, uri: str, warehouse: str, *,
                 region: str = "us-east-1",
                 access_key: str = "", secret_key: str = "",
                 session_token: Optional[str] = None):
        self.endpoint = uri.rstrip("/")
        parsed = urllib.parse.urlsplit(self.endpoint)
        self._host = parsed.hostname or "127.0.0.1"
        self._port = parsed.port or (443 if parsed.scheme == "https" else 80)
        self._tls = parsed.scheme == "https"
        self.region = region
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self.warehouse = warehouse.rstrip("/")
        self.io = file_io_for(self.warehouse)
        self.io.makedirs(self.warehouse)

    # -- transport ----------------------------------------------------------
    def _call(self, operation: str, body: dict) -> dict:
        payload = json.dumps(body).encode("utf-8")
        headers = {"Content-Type": "application/x-amz-json-1.1",
                   "X-Amz-Target": f"AWSGlue.{operation}"}
        headers = sigv4.sign_request(
            "POST", self.endpoint + "/", headers, payload,
            region=self.region, service=self.service,
            access_key=self.access_key, secret_key=self.secret_key,
            session_token=self.session_token)
        conn_cls = (http.client.HTTPSConnection if self._tls
                    else http.client.HTTPConnection)
        conn = conn_cls(self._host, self._port, timeout=10)
        try:
            conn.request("POST", "/", body=payload, headers=headers)
            resp = conn.getresponse()
            text = resp.read().decode("utf-8") or "{}"
        finally:
            conn.close()
        data = json.loads(text)
        if resp.status >= 400:
            raise GlueError(data.get("__type", f"http {resp.status}"),
                            data.get("Message", data.get("message", text)))
        return data

    @staticmethod
    def _split(identifier: str) -> Tuple[str, str]:
        ns, _, name = identifier.rpartition(".")
        if not ns:
            raise ValueError(f"identifier must be namespace.table: {identifier}")
        return ns, name

    # -- namespaces ----------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[Dict[str, str]] = None) -> None:
        props = dict(properties or {})
        db = {"Name": namespace}
        if "description" in props:
            db["Description"] = props.pop("description")
        if "location_uri" in props:
            db["LocationUri"] = props.pop("location_uri")
        if props:
            db["Parameters"] = props
        try:
            self._call("CreateDatabase", {"DatabaseInput": db})
        except GlueError as e:
            if "AlreadyExists" not in e.type:
                raise

    def list_namespaces(self) -> List[str]:
        out, token = [], None
        while True:
            body = {"NextToken": token} if token else {}
            resp = self._call("GetDatabases", body)
            out += [d["Name"] for d in resp.get("DatabaseList", [])]
            token = resp.get("NextToken")
            if not token:
                return sorted(out)

    def namespace_exists(self, namespace: str) -> bool:
        try:
            self._call("GetDatabase", {"Name": namespace})
            return True
        except GlueError as e:
            if "EntityNotFound" in e.type:
                return False
            raise

    def namespace_properties(self, namespace: str) -> Dict[str, str]:
        try:
            db = self._call("GetDatabase", {"Name": namespace})["Database"]
        except GlueError as e:
            if "EntityNotFound" in e.type:
                raise NoSuchNamespace(namespace)
            raise
        props = dict(db.get("Parameters") or {})
        if db.get("Description"):
            props["description"] = db["Description"]
        if db.get("LocationUri"):
            props["location_uri"] = db["LocationUri"]
        return props

    def update_namespace(self, namespace: str,
                         updates: Optional[Dict[str, str]] = None,
                         removals: Optional[List[str]] = None
                         ) -> Dict[str, str]:
        """Glue UpdateDatabase with the merged property map (description /
        location_uri route to their DatabaseInput fields like create)."""
        props = self.namespace_properties(namespace)
        for k in removals or ():
            props.pop(k, None)
        props.update(updates or {})
        db = {"Name": namespace}
        if "description" in props:
            db["Description"] = props.pop("description")
        if "location_uri" in props:
            db["LocationUri"] = props.pop("location_uri")
        if props:
            db["Parameters"] = dict(props)
        self._call("UpdateDatabase", {"Name": namespace,
                                      "DatabaseInput": db})
        return self.namespace_properties(namespace)

    def drop_namespace(self, namespace: str) -> None:
        # Glue's DeleteDatabase cascades, so check for ANY table first —
        # not just Iceberg ones (reference catalog.rs:516-546)
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        resp = self._call("GetTables", {"DatabaseName": namespace,
                                        "MaxResults": 1})
        if resp.get("TableList"):
            raise NamespaceNotEmpty(f"{namespace}: tables exist")
        try:
            self._call("DeleteDatabase", {"Name": namespace})
        except GlueError as e:
            if "EntityNotFound" in e.type:
                raise NoSuchNamespace(namespace)
            raise

    # -- tables --------------------------------------------------------------
    def list_tables(self, namespace: str) -> List[str]:
        resp = self._call("GetTables", {"DatabaseName": namespace})
        # only Iceberg tables are listed (reference catalog.rs:566-614
        # filters on table_type=ICEBERG, case-insensitive)
        return sorted(
            t["Name"] for t in resp.get("TableList", [])
            if (t.get("Parameters") or {}).get(
                "table_type", "").upper() == "ICEBERG")

    def _get_table(self, identifier: str) -> dict:
        ns, name = self._split(identifier)
        try:
            return self._call("GetTable",
                              {"DatabaseName": ns, "Name": name})["Table"]
        except GlueError as e:
            if "EntityNotFound" in e.type:
                raise NoSuchTable(identifier)
            raise

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
        try:
            self._call("CreateTable",
                       {"DatabaseName": ns,
                        "TableInput": _table_input(name, metadata, target)})
        except GlueError as e:
            if "AlreadyExists" in e.type:
                raise TableAlreadyExists(identifier)
            raise
        return metadata

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        tbl = self._get_table(identifier)
        ptr = (tbl.get("Parameters") or {}).get(METADATA_LOCATION)
        if not ptr:
            raise NoSuchTable(f"{identifier}: no {METADATA_LOCATION}")
        return read_metadata(self.io, ptr)

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        ns, name = self._split(identifier)
        tbl = self._get_table(identifier)
        params = tbl.get("Parameters") or {}
        current = params.get(METADATA_LOCATION)
        version_id = tbl.get("VersionId")
        if current is None or ptr_version(current) != base_version:
            raise CommitConflict(
                f"{identifier}: base v{base_version} is no longer current")
        new_version = base_version + 1
        target = new_metadata_location(current.rsplit("/", 1)[0],
                                       new_version, metadata)
        self.io.write_bytes(
            target, metadata_bytes(self.io, metadata, target, current))
        body = {"DatabaseName": ns, "SkipArchive": True,
                "TableInput": _table_input(name, metadata, target,
                                           prev_metadata_location=current)}
        if version_id is not None:
            body["VersionId"] = version_id
        try:
            self._call("UpdateTable", body)
        except GlueError as e:
            if "ConcurrentModification" in e.type:
                raise CommitConflict(f"{identifier}: {e}")
            if "EntityNotFound" in e.type:
                raise NoSuchTable(identifier)
            raise
        return new_version

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """Catalog entry at EXISTING metadata (reference glue
        catalog.rs:844-898): CreateTable whose metadata_location is the
        given file; nothing is copied or rewritten."""
        ns, name = self._split(identifier)
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        md, _ = read_metadata(self.io, metadata_location)
        try:
            self._call("CreateTable",
                       {"DatabaseName": ns,
                        "TableInput": _table_input(name, md,
                                                   metadata_location)})
        except GlueError as e:
            if "AlreadyExists" in e.type:
                raise TableAlreadyExists(identifier)
            raise
        return md

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        ns, name = self._split(identifier)
        try:
            self._call("DeleteTable", {"DatabaseName": ns, "Name": name})
        except GlueError as e:
            if "EntityNotFound" in e.type:
                raise NoSuchTable(identifier)
            raise
        if purge:
            self.io.delete_prefix(self._table_dir(identifier))

    def rename_table(self, src: str, dst: str) -> None:
        """Glue has no rename API: the reference does create-at-new-name +
        delete-old, pointing at the SAME metadata_location
        (catalog.rs:759-843) — the table location never moves."""
        if self.table_exists(dst):
            raise TableAlreadyExists(dst)
        src_tbl = self._get_table(src)
        dst_ns, dst_name = self._split(dst)
        ti = {"Name": dst_name,
              "TableType": src_tbl.get("TableType", "EXTERNAL_TABLE"),
              "Parameters": src_tbl.get("Parameters") or {},
              "StorageDescriptor": src_tbl.get("StorageDescriptor") or {}}
        self._call("CreateTable", {"DatabaseName": dst_ns, "TableInput": ti})
        try:
            src_ns, src_name = self._split(src)
            self._call("DeleteTable",
                       {"DatabaseName": src_ns, "Name": src_name})
        except GlueError:
            # roll back the half-rename like the reference does
            self._call("DeleteTable",
                       {"DatabaseName": dst_ns, "Name": dst_name})
            raise

    def close(self) -> None:  # symmetry with HmsCatalog
        pass
