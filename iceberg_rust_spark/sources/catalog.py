"""Filesystem ("hadoop-style") catalog with optimistic-concurrency commits.

Same trait surface as the reference's Catalog
(/root/reference/crates/iceberg/src/catalog/mod.rs:58): namespace + table CRUD
plus ``commit_table`` CAS. All storage goes through FileIO (io.py — the
reference's io/file_io.rs:63 counterpart), so the warehouse may live on any
registered backend: a posix path, a ``file://`` URI, ``memory://`` (tests),
or an fsspec-mounted object store. Atomicity comes from the backend's
create-exclusive primitive (O_EXCL locally, conditional PUT on object
stores) — a concurrent committer loses the race and gets CommitConflict,
which Transaction retries with refresh-and-reapply
(transaction/mod.rs:175-219 behavior).
"""

from __future__ import annotations

import os
import uuid
from typing import List, Optional, Tuple

from .io import FileIO, file_io_for, posix_join
from .metadata import TableMetadata


def ptr_version(ptr: str) -> int:
    """Version number from a metadata-file pointer. Accepts the reference's
    `00001-<uuid>.metadata.json`, the older `v1-<uuid>...`, and the
    filesystem catalog's `v1.metadata.json` spellings."""
    import re
    m = re.search(r"/(?:v)?(\d+)(?:-[0-9a-f-]{36})?\.metadata\.json(?:\.gz)?$",
                  ptr)
    if m is None:
        raise NoSuchTable(f"unparseable metadata pointer {ptr}")
    return int(m.group(1))


# -- the metadata-file rule every catalog shares -------------------------
# A catalog writes the next metadata file under a name from
# new_metadata_location (FileSystemCatalog: its fixed v{N} name, whose
# exclusive create is its CAS), encodes it with metadata_bytes and reads it
# back with read_metadata; only the pointer swap is catalog-specific.

def metadata_suffix(md: TableMetadata) -> str:
    """`.metadata.json`, plus `.gz` under
    write.metadata.compression-codec=gzip."""
    codec = md.properties.get("write.metadata.compression-codec", "none")
    return ".metadata.json.gz" if codec.lower() == "gzip" else ".metadata.json"


def new_metadata_location(directory: str, version: int,
                          md: TableMetadata) -> str:
    """Reference naming (metadata_location.rs:127):
    `{version:05}-{uuid}.metadata.json[.gz]`, unique per attempt, so a
    losing committer never overwrites the winner's file — the pointer swap
    decides which file becomes current."""
    return posix_join(directory,
                      f"{version:05d}-{uuid.uuid4()}{metadata_suffix(md)}")


def metadata_bytes(io: FileIO, md: TableMetadata, path: str,
                   previous: Optional[str] = None) -> bytes:
    """The bytes of ``md`` to publish at ``path``. When the superseded file
    ``previous`` exists it joins the spec metadata-log, stamped with its
    mtime and capped by write.metadata.previous-versions-max (default
    100). Gzip when ``path`` ends in `.gz`. Records ``path`` on ``md``."""
    if previous is not None and io.is_file(previous):
        md.metadata_log.append({
            "timestamp-ms": io.mtime_ns(previous) // 1_000_000,
            "metadata-file": previous})
        keep = int(md.properties.get(
            "write.metadata.previous-versions-max", "100"))
        md.metadata_log = md.metadata_log[-keep:]
    data = md.to_json().encode()
    if path.endswith(".gz"):
        import gzip
        data = gzip.compress(data, mtime=0)    # deterministic bytes
    md.metadata_file_location = path
    return data


def read_metadata(io: FileIO, location: str,
                  versioned: bool = True) -> Tuple[TableMetadata, int]:
    """The metadata file at ``location`` (gzip detected by its magic bytes,
    whatever the name) with ``location`` recorded on it, and its version
    from ``ptr_version``. ``versioned=False`` accepts any file name and
    returns version -1 (a static table or a registration source)."""
    md = TableMetadata.from_json(io.read_text(location))
    md.metadata_file_location = location
    return md, (ptr_version(location) if versioned else -1)


class CommitConflict(Exception):
    """Another writer committed first; refresh and retry."""


class ValidationConflict(Exception):
    """A concurrent commit invalidated this operation's captured state
    (removed a file it rewrites, or added deletes to a file it replaces).
    Retrying the SAME action cannot succeed — the caller must refresh the
    table and re-plan the operation. The counterpart of the reference /
    Iceberg ValidationException raised by validate_added_data_files /
    validateDataFilesExist / validateNoNewDeletesForDataFiles
    (crates/iceberg/src/transaction/snapshot.rs:139-163)."""


class NoSuchTable(Exception):
    pass


class TableAlreadyExists(Exception):
    pass


class NoSuchNamespace(Exception):
    """Namespace does not exist (ErrorKind::NamespaceNotFound)."""


class NamespaceNotEmpty(Exception):
    """drop_namespace on a namespace that still holds tables or child
    namespaces (catalog/sql drop_namespace refusal, sql/catalog.rs:681)."""


class FileSystemCatalog:
    def __init__(self, warehouse: str):
        # bare local paths are absolutized; URIs pass through untouched
        self.warehouse = (warehouse if "://" in warehouse
                          else os.path.abspath(warehouse))
        self.io = file_io_for(self.warehouse)
        self.io.makedirs(self.warehouse)

    # -- identifiers: "namespace.table" -----------------------------------
    def _table_dir(self, identifier: str) -> str:
        return posix_join(self.warehouse, *identifier.split("."))

    def _metadata_dir(self, identifier: str) -> str:
        return posix_join(self._table_dir(identifier), "metadata")

    # -- namespaces --------------------------------------------------------
    def _ns_dir(self, namespace: str) -> str:
        return posix_join(self.warehouse, *namespace.split("."))

    def _ns_props_path(self, namespace: str) -> str:
        return posix_join(self._ns_dir(namespace), ".namespace.json")

    def create_namespace(self, namespace: str,
                         properties: Optional[dict] = None) -> None:
        self.io.makedirs(self._ns_dir(namespace))
        if properties:
            import json
            self.io.write_text(self._ns_props_path(namespace),
                               json.dumps(dict(properties)))

    def namespace_exists(self, namespace: str) -> bool:
        return self.io.is_dir(self._ns_dir(namespace))

    def namespace_properties(self, namespace: str) -> dict:
        """Properties of an existing namespace (Catalog::get_namespace,
        catalog/mod.rs:58 trait surface; hadoop-style catalogs keep them in
        a dotfile inside the namespace directory)."""
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        p = self._ns_props_path(namespace)
        if not self.io.is_file(p):
            return {}
        import json
        return json.loads(self.io.read_text(p))

    def update_namespace(self, namespace: str,
                         updates: Optional[dict] = None,
                         removals: Optional[List[str]] = None) -> dict:
        """Merge/remove namespace properties (REST spec
        UpdateNamespacePropertiesRequest semantics: updates win, removals
        drop keys). Returns the resulting property map."""
        import json
        props = self.namespace_properties(namespace)
        for k in removals or ():
            props.pop(k, None)
        props.update(updates or {})
        self.io.write_text(self._ns_props_path(namespace), json.dumps(props))
        return props

    def drop_namespace(self, namespace: str) -> None:
        """Remove an EMPTY namespace; refuses when tables or child
        namespaces remain (sql/catalog.rs:681-695 refusal semantics —
        dropping a parent never cascades into nested namespaces)."""
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        if self.list_tables(namespace):
            raise NamespaceNotEmpty(f"{namespace}: tables exist")
        ns_dir = self._ns_dir(namespace)
        for name in self.io.list_dir(ns_dir):
            if self.io.is_dir(posix_join(ns_dir, name)):
                raise NamespaceNotEmpty(f"{namespace}: child namespace {name}")
        self.io.delete_prefix(ns_dir)

    def list_namespaces(self) -> List[str]:
        out = []
        for name in self.io.list_dir(self.warehouse):
            p = posix_join(self.warehouse, name)
            if self.io.is_dir(p) and not self.io.is_dir(posix_join(p, "metadata")):
                out.append(name)
        return out

    def list_tables(self, namespace: str) -> List[str]:
        ns_dir = posix_join(self.warehouse, *namespace.split("."))
        return sorted(
            name for name in self.io.list_dir(ns_dir)
            if self.io.is_file(posix_join(ns_dir, name, "metadata",
                                          "version-hint.text")))

    # -- tables ------------------------------------------------------------
    def table_exists(self, identifier: str) -> bool:
        return self.io.is_file(posix_join(self._metadata_dir(identifier),
                                          "version-hint.text"))

    def create_table(self, identifier: str, metadata: TableMetadata) -> TableMetadata:
        md_dir = self._metadata_dir(identifier)
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        self.io.makedirs(md_dir)
        self.io.makedirs(posix_join(self._table_dir(identifier), "data"))
        metadata.location = self._table_dir(identifier)
        self._write_version(identifier, 1, metadata)
        return metadata

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        md_dir = self._metadata_dir(identifier)
        hint = posix_join(md_dir, "version-hint.text")
        if not self.io.is_file(hint):
            raise NoSuchTable(identifier)
        version = int(self.io.read_text(hint).strip())
        plain = posix_join(md_dir, f"v{version}.metadata.json")
        # write.metadata.compression-codec=gzip tables name files .json.gz
        path = plain if self.io.is_file(plain) else plain + ".gz"
        return read_metadata(self.io, path)

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        tdir = self._table_dir(identifier)
        if not self.io.is_dir(tdir):
            raise NoSuchTable(identifier)
        if purge:
            self.io.delete_prefix(tdir)
        else:
            self.io.delete_prefix(posix_join(tdir, "metadata"))

    def rename_table(self, src: str, dst: str) -> None:
        """Catalog-entry rename (Catalog::rename_table, catalog/mod.rs:~380):
        only the identifier that resolves to the metadata moves — the table
        LOCATION (data files, manifests) stays put and keeps its absolute
        paths, so no data rewrite. Same semantics as the reference's
        REST/memory catalogs, where identifier and location are independent.
        """
        if not self.table_exists(src):
            raise NoSuchTable(src)
        if self.table_exists(dst):
            raise TableAlreadyExists(dst)
        src_md = self._metadata_dir(src)
        dst_md = self._metadata_dir(dst)
        self.io.makedirs(dst_md)
        md, _ = self.load_table(src)
        for f in self.io.list_dir(src_md):
            if (f.endswith(".metadata.json") or f.endswith(".metadata.json.gz")
                    or f == "version-hint.text"):
                self.io.rename(posix_join(src_md, f), posix_join(dst_md, f))
        # metadata-log entries pointed at the moved version files — re-anchor
        # them in the moved current file, keeping its name and codec
        for entry in md.metadata_log:
            entry["metadata-file"] = entry["metadata-file"].replace(
                src_md, dst_md, 1)
        current = md.metadata_file_location.replace(src_md, dst_md, 1)
        self.io.write_bytes(current, metadata_bytes(self.io, md, current))

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        """CAS commit: succeed only if base_version is still current."""
        new_version = base_version + 1
        md_dir = self._metadata_dir(identifier)
        target = self._md_path(md_dir, new_version, metadata)
        prev = posix_join(md_dir, f"v{base_version}.metadata.json")
        if not self.io.is_file(prev):
            prev = prev + ".gz"
        payload = metadata_bytes(self.io, metadata, target, prev)
        try:
            self.io.create_exclusive(target, payload)
        except FileExistsError:
            raise CommitConflict(f"{identifier}: v{new_version} already committed")
        self._write_hint(md_dir, new_version)
        return new_version

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """Catalog::register_table: create a catalog entry pointing at
        EXISTING metadata — no data or metadata rewrite; the table LOCATION
        inside the metadata stays wherever it already is (manifest paths
        are absolute). Counterpart of the reference's register_table (rest/
        glue) and the DataFusion ``CREATE EXTERNAL TABLE ... STORED AS
        ICEBERG LOCATION`` factory (table_provider_factory.rs:100-155)."""
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        md, _ = read_metadata(file_io_for(metadata_location),
                              metadata_location, versioned=False)
        self.io.makedirs(self._metadata_dir(identifier))
        self._write_version(identifier, 1, md)
        return md

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _md_path(md_dir: str, version: int, metadata: TableMetadata) -> str:
        # a fixed v{N} name, not new_metadata_location's unique one: the
        # exclusive create of this name is the commit's CAS
        return posix_join(md_dir, f"v{version}{metadata_suffix(metadata)}")

    def _write_version(self, identifier: str, version: int, metadata: TableMetadata) -> None:
        md_dir = self._metadata_dir(identifier)
        path = self._md_path(md_dir, version, metadata)
        self.io.write_bytes(path, metadata_bytes(self.io, metadata, path))
        self._write_hint(md_dir, version)

    def _write_hint(self, md_dir: str, version: int) -> None:
        tmp = posix_join(md_dir, f".version-hint.{version}.tmp")
        self.io.write_text(tmp, str(version))
        self.io.rename(tmp, posix_join(md_dir, "version-hint.text"))
