"""Amazon S3 Tables catalog over the real rest-json wire protocol.

Counterpart of the reference's S3Tables catalog
(crates/catalog/s3tables/src/catalog.rs:216-750): the catalog is
addressed by a ``table_bucket_arn`` (+ optional ``endpoint_url``), table
locations are GENERATED by the service (create_table rejects a
user-supplied location, catalog.rs:527-534), and every metadata-pointer
move goes through ``UpdateTableMetadataLocation`` guarded by the
``versionToken`` returned by the previous read — a stale token is a
ConflictException -> CommitConflict (catalog.rs:726-737). ``drop_table``
maps to DeleteTable (the reference routes it via purge_table,
catalog.rs:587-607).

Wire protocol: the public S3 Tables rest-json API over http.client with
SigV4 (service ``s3tables``): PUT/GET/DELETE on
``/namespaces/{bucketARN}`` and ``/tables/{bucketARN}/{ns}/{name}``,
``GET /get-table?...``, ``PUT .../metadata-location``, ``PUT .../rename``.
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
from .io import file_io_for, posix_join
from .metadata import TableMetadata


class S3TablesError(Exception):
    def __init__(self, type_: str, message: str):
        super().__init__(f"{type_}: {message}")
        self.type = type_


class S3TablesCatalog:
    """Catalog over an S3 Tables endpoint.

    Reference property keys (catalog.rs:43-45): ``table_bucket_arn``,
    ``endpoint_url``; the warehouse root is derived by the service — here
    the fake derives per-table warehouse locations under its configured
    root, which the client treats as opaque, exactly like the real
    service's generated ``s3://...--table-s3`` buckets."""

    service = "s3tables"

    def __init__(self, endpoint_url: str, table_bucket_arn: str, *,
                 region: str = "us-east-1",
                 access_key: str = "", secret_key: str = "",
                 session_token: Optional[str] = None):
        self.endpoint = endpoint_url.rstrip("/")
        parsed = urllib.parse.urlsplit(self.endpoint)
        self._host = parsed.hostname or "127.0.0.1"
        self._port = parsed.port or (443 if parsed.scheme == "https" else 80)
        self._tls = parsed.scheme == "https"
        self.arn = table_bucket_arn
        self.region = region
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self._io_cache: Dict[str, object] = {}

    # -- transport ---------------------------------------------------------
    def _call(self, method: str, path: str, *, query: str = "",
              body: Optional[dict] = None) -> dict:
        payload = json.dumps(body).encode() if body is not None else b""
        url = self.endpoint + path + (f"?{query}" if query else "")
        headers: Dict[str, str] = {}
        if payload:
            headers["Content-Type"] = "application/json"
        headers = sigv4.sign_request(
            method, url, headers, payload, region=self.region,
            service=self.service, access_key=self.access_key,
            secret_key=self.secret_key, session_token=self.session_token)
        conn_cls = (http.client.HTTPSConnection if self._tls
                    else http.client.HTTPConnection)
        conn = conn_cls(self._host, self._port, timeout=10)
        try:
            conn.request(method, path + (f"?{query}" if query else ""),
                         body=payload or None, headers=headers)
            resp = conn.getresponse()
            text = resp.read().decode() or "{}"
        finally:
            conn.close()
        data = json.loads(text)
        if resp.status >= 400:
            raise S3TablesError(
                data.get("__type", f"http {resp.status}"),
                data.get("message", data.get("Message", text)))
        return data

    @staticmethod
    def _enc(part: str) -> str:
        return urllib.parse.quote(part, safe="")

    def _table_path(self, ns: str, name: str, suffix: str = "") -> str:
        return (f"/tables/{self._enc(self.arn)}/{self._enc(ns)}/"
                f"{self._enc(name)}{suffix}")

    @staticmethod
    def _split(identifier: str) -> Tuple[str, str]:
        ns, _, name = identifier.rpartition(".")
        if not ns:
            raise ValueError(f"identifier must be namespace.table: {identifier}")
        return ns, name

    def _io(self, location: str):
        root = location.split("://", 1)[0]
        if root not in self._io_cache:
            self._io_cache[root] = file_io_for(location)
        return self._io_cache[root]

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[Dict[str, str]] = None) -> None:
        # S3Tables namespaces carry no properties (catalog.rs:338-353)
        try:
            self._call("PUT", f"/namespaces/{self._enc(self.arn)}",
                       body={"namespace": [namespace]})
        except S3TablesError as e:
            if "Conflict" not in e.type and "AlreadyExists" not in e.type:
                raise

    def list_namespaces(self) -> List[str]:
        out, token = [], None
        while True:
            q = f"continuationToken={self._enc(token)}" if token else ""
            resp = self._call("GET", f"/namespaces/{self._enc(self.arn)}",
                              query=q)
            out += [n["namespace"][0] for n in resp.get("namespaces", [])]
            token = resp.get("continuationToken")
            if not token:
                return sorted(out)

    def namespace_exists(self, namespace: str) -> bool:
        try:
            self._call("GET", f"/namespaces/{self._enc(self.arn)}/"
                              f"{self._enc(namespace)}")
            return True
        except S3TablesError as e:
            if "NotFound" in e.type:
                return False
            raise

    def namespace_properties(self, namespace: str) -> Dict[str, str]:
        """S3Tables namespaces carry no user properties (the GetNamespace
        response is name + timestamps only, catalog.rs:338-353) — an empty
        map for an existing namespace, NoSuchNamespace otherwise."""
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        return {}

    def update_namespace(self, namespace: str,
                         updates: Optional[Dict[str, str]] = None,
                         removals: Optional[List[str]] = None) -> None:
        raise NotImplementedError(
            "S3Tables namespaces have no mutable properties "
            "(reference FeatureUnsupported parity)")

    def drop_namespace(self, namespace: str) -> None:
        try:
            self._call("DELETE", f"/namespaces/{self._enc(self.arn)}/"
                                 f"{self._enc(namespace)}")
        except S3TablesError as e:
            if "NotFound" in e.type:
                raise NoSuchNamespace(namespace)
            if "Conflict" in e.type:
                raise NamespaceNotEmpty(namespace)
            raise

    # -- tables ------------------------------------------------------------
    def list_tables(self, namespace: str) -> List[str]:
        out, token = [], None
        while True:
            q = f"namespace={self._enc(namespace)}"
            if token:
                q += f"&continuationToken={self._enc(token)}"
            resp = self._call("GET", f"/tables/{self._enc(self.arn)}",
                              query=q)
            out += [t["name"] for t in resp.get("tables", [])]
            token = resp.get("continuationToken")
            if not token:
                return sorted(out)

    def _get_table(self, identifier: str) -> dict:
        ns, name = self._split(identifier)
        q = (f"tableBucketARN={self._enc(self.arn)}"
             f"&namespace={self._enc(ns)}&name={self._enc(name)}")
        try:
            return self._call("GET", "/get-table", query=q)
        except S3TablesError as e:
            if "NotFound" in e.type:
                raise NoSuchTable(identifier)
            raise

    def table_exists(self, identifier: str) -> bool:
        try:
            self._get_table(identifier)
            return True
        except NoSuchTable:
            return False

    def create_table(self, identifier: str,
                     metadata: TableMetadata) -> TableMetadata:
        ns, name = self._split(identifier)
        if metadata.location:
            # catalog.rs:527-534: the service owns table locations
            raise ValueError(
                "S3Tables generates table locations; do not set one")
        try:
            created = self._call("PUT",
                                 f"/tables/{self._enc(self.arn)}/"
                                 f"{self._enc(ns)}",
                                 body={"name": name, "format": "ICEBERG"})
        except S3TablesError as e:
            if "Conflict" in e.type or "AlreadyExists" in e.type:
                raise TableAlreadyExists(identifier)
            raise
        token = created["versionToken"]
        # service-generated warehouse location (catalog.rs:535-547)
        got = self._get_table(identifier)
        location = got["warehouseLocation"]
        metadata.location = location
        io = self._io(location)
        md_dir = posix_join(location, "metadata")
        io.makedirs(md_dir)
        io.makedirs(posix_join(location, "data"))
        target = new_metadata_location(md_dir, 1, metadata)
        io.write_bytes(target, metadata_bytes(io, metadata, target))
        self._call("PUT", self._table_path(ns, name, "/metadata-location"),
                   body={"metadataLocation": target, "versionToken": token})
        return metadata

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        got = self._get_table(identifier)
        ptr = got.get("metadataLocation")
        if not ptr:
            raise NoSuchTable(f"{identifier}: no metadataLocation yet")
        return read_metadata(self._io(ptr), ptr)

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        ns, name = self._split(identifier)
        got = self._get_table(identifier)
        current = got.get("metadataLocation")
        token = got["versionToken"]
        if current is None or ptr_version(current) != base_version:
            raise CommitConflict(
                f"{identifier}: base v{base_version} is no longer current")
        new_version = base_version + 1
        target = new_metadata_location(current.rsplit("/", 1)[0],
                                       new_version, metadata)
        io = self._io(target)
        io.write_bytes(target, metadata_bytes(io, metadata, target, current))
        try:
            self._call("PUT",
                       self._table_path(ns, name, "/metadata-location"),
                       body={"metadataLocation": target,
                             "versionToken": token})
        except S3TablesError as e:
            if "Conflict" in e.type:
                raise CommitConflict(f"{identifier}: {e}")
            if "NotFound" in e.type:
                raise NoSuchTable(identifier)
            raise
        return new_version

    def register_table(self, identifier: str, metadata_location: str):
        # parity with the reference (catalog.rs register_table is
        # unsupported): the service generates all table locations, so an
        # externally-located table cannot be registered
        raise NotImplementedError(
            "S3Tables generates table locations; register_table is "
            "unsupported (reference crates/catalog/s3tables)")

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        ns, name = self._split(identifier)
        location = None
        if purge:
            try:
                location = self._get_table(identifier).get(
                    "warehouseLocation")
            except NoSuchTable:
                pass
        try:
            self._call("DELETE", self._table_path(ns, name))
        except S3TablesError as e:
            if "NotFound" in e.type:
                raise NoSuchTable(identifier)
            raise
        if purge and location:
            self._io(location).delete_prefix(location)

    def rename_table(self, src: str, dst: str) -> None:
        if self.table_exists(dst):
            raise TableAlreadyExists(dst)
        src_ns, src_name = self._split(src)
        dst_ns, dst_name = self._split(dst)
        token = self._get_table(src)["versionToken"]
        body: Dict[str, str] = {"versionToken": token}
        if dst_ns != src_ns:
            body["newNamespaceName"] = dst_ns
        if dst_name != src_name:
            body["newName"] = dst_name
        self._call("PUT", self._table_path(src_ns, src_name, "/rename"),
                   body=body)

    def close(self) -> None:
        pass
