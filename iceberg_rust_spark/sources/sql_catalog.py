"""SQL-backed catalog over stdlib sqlite3 — the reference's catalog/sql
counterpart (crates/catalog/sql/src/catalog.rs).

Same storage split as the reference: the DATABASE stores only pointers —
one row per table in ``iceberg_tables`` (catalog_name, table_namespace,
table_name, metadata_location, previous_metadata_location, iceberg_type)
plus namespace properties in ``iceberg_namespace_properties`` (catalog.rs:
321-341 DDL, reproduced column-for-column) — while metadata JSON files live
in the warehouse through FileIO, exactly like the filesystem catalog.

Optimistic concurrency is the reference's pointer-CAS (catalog.rs
update_table): ``UPDATE ... SET metadata_location = new WHERE
metadata_location = expected`` — zero rows updated means another committer
won and the caller gets CommitConflict to refresh-and-retry. sqlite3 runs
the UPDATE atomically under its file lock, so concurrent writers (threads
or processes) serialize correctly.

The class is interface-compatible with FileSystemCatalog (create/load/
commit/drop/rename/list), so Table, run_sql, and the REST server all work
against it unchanged.
"""

from __future__ import annotations

import sqlite3
from typing import List, Optional, Tuple

from .catalog import (CommitConflict, NamespaceNotEmpty, NoSuchNamespace,
                      NoSuchTable, TableAlreadyExists, metadata_bytes,
                      new_metadata_location, ptr_version, read_metadata)
from .io import file_io_for, posix_join
from .metadata import TableMetadata

_TABLE_RECORD = "TABLE"

_DDL = [
    """CREATE TABLE IF NOT EXISTS iceberg_tables (
        catalog_name VARCHAR(255) NOT NULL,
        table_namespace VARCHAR(255) NOT NULL,
        table_name VARCHAR(255) NOT NULL,
        metadata_location VARCHAR(1000),
        previous_metadata_location VARCHAR(1000),
        iceberg_type VARCHAR(5),
        PRIMARY KEY (catalog_name, table_namespace, table_name))""",
    """CREATE TABLE IF NOT EXISTS iceberg_namespace_properties (
        catalog_name VARCHAR(255) NOT NULL,
        namespace VARCHAR(255) NOT NULL,
        property_key VARCHAR(255),
        property_value VARCHAR(1000),
        PRIMARY KEY (catalog_name, namespace, property_key))""",
]


class SqlCatalog:
    def __init__(self, db_path: str, warehouse: str,
                 catalog_name: str = "default"):
        import os
        self.db_path = db_path
        self.warehouse = (warehouse if "://" in warehouse
                          else os.path.abspath(warehouse))
        self.name = catalog_name
        self.io = file_io_for(self.warehouse)
        self.io.makedirs(self.warehouse)
        with self._conn() as c:
            for ddl in _DDL:
                c.execute(ddl)

    def _conn(self) -> sqlite3.Connection:
        return sqlite3.connect(self.db_path, timeout=30)

    @staticmethod
    def _split(identifier: str) -> Tuple[str, str]:
        ns, _, name = identifier.rpartition(".")
        return ns, name

    def _table_dir(self, identifier: str) -> str:
        return posix_join(self.warehouse, *identifier.split("."))

    def _metadata_dir(self, identifier: str) -> str:
        return posix_join(self._table_dir(identifier), "metadata")

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[dict] = None) -> None:
        props = dict(properties or {})
        props.setdefault("exists", "true")
        with self._conn() as c:
            for k, v in props.items():
                c.execute(
                    "INSERT OR REPLACE INTO iceberg_namespace_properties "
                    "(catalog_name, namespace, property_key, property_value)"
                    " VALUES (?, ?, ?, ?)", (self.name, namespace, k, v))

    def namespace_properties(self, namespace: str) -> dict:
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        with self._conn() as c:
            rows = c.execute(
                "SELECT property_key, property_value FROM "
                "iceberg_namespace_properties WHERE catalog_name = ? AND "
                "namespace = ?", (self.name, namespace)).fetchall()
        # the "exists" row is the reference's internal existence marker
        # (sql/catalog.rs:496), not a user property
        return {k: v for k, v in rows if k != "exists"}

    def namespace_exists(self, namespace: str) -> bool:
        """Either a properties row or any table in the namespace counts
        (sql/catalog.rs:572-607 checks both tables)."""
        with self._conn() as c:
            a = c.execute(
                "SELECT 1 FROM iceberg_namespace_properties WHERE "
                "catalog_name = ? AND namespace = ? LIMIT 1",
                (self.name, namespace)).fetchone()
            if a:
                return True
            b = c.execute(
                "SELECT 1 FROM iceberg_tables WHERE catalog_name = ? AND "
                "table_namespace = ? LIMIT 1",
                (self.name, namespace)).fetchone()
        return b is not None

    def update_namespace(self, namespace: str,
                         updates: Optional[dict] = None,
                         removals: Optional[List[str]] = None) -> dict:
        """Upsert + delete property rows in one transaction
        (sql/catalog.rs:609-668, extended with REST-spec removals)."""
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        with self._conn() as c:
            for k in removals or ():
                c.execute(
                    "DELETE FROM iceberg_namespace_properties WHERE "
                    "catalog_name = ? AND namespace = ? AND property_key = ?",
                    (self.name, namespace, k))
            for k, v in (updates or {}).items():
                c.execute(
                    "INSERT OR REPLACE INTO iceberg_namespace_properties "
                    "(catalog_name, namespace, property_key, property_value)"
                    " VALUES (?, ?, ?, ?)", (self.name, namespace, k, v))
        return self.namespace_properties(namespace)

    def list_namespaces(self) -> List[str]:
        with self._conn() as c:
            a = c.execute(
                "SELECT DISTINCT namespace FROM iceberg_namespace_properties"
                " WHERE catalog_name = ?", (self.name,)).fetchall()
            b = c.execute(
                "SELECT DISTINCT table_namespace FROM iceberg_tables "
                "WHERE catalog_name = ?", (self.name,)).fetchall()
        return sorted({r[0] for r in a} | {r[0] for r in b})

    def drop_namespace(self, namespace: str) -> None:
        if not self.namespace_exists(namespace):
            raise NoSuchNamespace(namespace)
        if self.list_tables(namespace):
            raise NamespaceNotEmpty(f"{namespace}: tables exist")
        prefix = namespace + "."
        if any(n.startswith(prefix) for n in self.list_namespaces()):
            raise NamespaceNotEmpty(f"{namespace}: child namespaces exist")
        with self._conn() as c:
            c.execute(
                "DELETE FROM iceberg_namespace_properties WHERE "
                "catalog_name = ? AND namespace = ?", (self.name, namespace))

    def list_tables(self, namespace: str) -> List[str]:
        with self._conn() as c:
            rows = c.execute(
                "SELECT table_name FROM iceberg_tables WHERE catalog_name = ?"
                " AND table_namespace = ? AND iceberg_type = ?",
                (self.name, namespace, _TABLE_RECORD)).fetchall()
        return sorted(r[0] for r in rows)

    # -- tables ------------------------------------------------------------
    def table_exists(self, identifier: str) -> bool:
        return self._pointer(identifier) is not None

    def _pointer(self, identifier: str) -> Optional[str]:
        ns, name = self._split(identifier)
        with self._conn() as c:
            row = c.execute(
                "SELECT metadata_location FROM iceberg_tables WHERE "
                "catalog_name = ? AND table_namespace = ? AND table_name = ?",
                (self.name, ns, name)).fetchone()
        return row[0] if row else None

    def create_table(self, identifier: str,
                     metadata: TableMetadata) -> TableMetadata:
        ns, name = self._split(identifier)
        if self.table_exists(identifier):
            # check the pointer row BEFORE writing any file so a duplicate
            # create can't disturb the live table's warehouse directory
            raise TableAlreadyExists(identifier)
        md_dir = self._metadata_dir(identifier)
        self.io.makedirs(md_dir)
        self.io.makedirs(posix_join(self._table_dir(identifier), "data"))
        metadata.location = self._table_dir(identifier)
        target = new_metadata_location(md_dir, 1, metadata)
        self.io.write_bytes(target, metadata_bytes(self.io, metadata, target))
        try:
            with self._conn() as c:
                c.execute(
                    "INSERT INTO iceberg_tables (catalog_name, "
                    "table_namespace, table_name, metadata_location, "
                    "previous_metadata_location, iceberg_type) "
                    "VALUES (?, ?, ?, ?, NULL, ?)",
                    (self.name, ns, name, target, _TABLE_RECORD))
        except sqlite3.IntegrityError:
            raise TableAlreadyExists(identifier)
        return metadata

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """Catalog::register_table (reference catalog/sql register path):
        insert a pointer row at the EXISTING metadata file — nothing is
        copied or rewritten; later commits write new versions next to that
        pointer, i.e. into the external table's own metadata dir."""
        ns, name = self._split(identifier)
        if self.table_exists(identifier):
            raise TableAlreadyExists(identifier)
        # a versioned name, so later commits can number the next file
        md, _ = read_metadata(file_io_for(metadata_location),
                              metadata_location)
        try:
            with self._conn() as c:
                c.execute(
                    "INSERT INTO iceberg_tables (catalog_name, "
                    "table_namespace, table_name, metadata_location, "
                    "previous_metadata_location, iceberg_type) "
                    "VALUES (?, ?, ?, ?, NULL, ?)",
                    (self.name, ns, name, metadata_location, _TABLE_RECORD))
        except sqlite3.IntegrityError:
            raise TableAlreadyExists(identifier)
        return md

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        ptr = self._pointer(identifier)
        if ptr is None:
            raise NoSuchTable(identifier)
        return read_metadata(self.io, ptr)

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        """Reference pointer-CAS (catalog.rs update_table): the UPDATE only
        lands if metadata_location still equals the version we loaded. The
        new file is written next to the CURRENT pointer (not an
        identifier-derived path) so commits keep working after a
        pointer-only rename_table."""
        ns, name = self._split(identifier)
        expected = self._pointer(identifier)
        if expected is None:
            raise NoSuchTable(identifier)
        if ptr_version(expected) != base_version:
            raise CommitConflict(
                f"{identifier}: base v{base_version} is no longer current")
        new_version = base_version + 1
        target = new_metadata_location(expected.rsplit("/", 1)[0],
                                       new_version, metadata)
        self.io.write_bytes(
            target, metadata_bytes(self.io, metadata, target, expected))
        with self._conn() as c:
            cur = c.execute(
                "UPDATE iceberg_tables SET metadata_location = ?, "
                "previous_metadata_location = ? WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ? AND "
                "metadata_location = ?",
                (target, expected, self.name, ns, name, expected))
            if cur.rowcount == 0:
                raise CommitConflict(
                    f"{identifier}: expected pointer {expected} moved")
        return new_version

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        ns, name = self._split(identifier)
        with self._conn() as c:
            cur = c.execute(
                "DELETE FROM iceberg_tables WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ?",
                (self.name, ns, name))
            if cur.rowcount == 0:
                raise NoSuchTable(identifier)
        if purge:
            self.io.delete_prefix(self._table_dir(identifier))

    def rename_table(self, src: str, dst: str) -> None:
        """Pointer-only rename, like the reference's SQL catalog: the row's
        identifier changes; metadata_location and the table LOCATION stay
        put (identifier and location are independent)."""
        if not self.table_exists(src):
            raise NoSuchTable(src)
        if self.table_exists(dst):
            raise TableAlreadyExists(dst)
        sns, sname = self._split(src)
        dns, dname = self._split(dst)
        with self._conn() as c:
            c.execute(
                "UPDATE iceberg_tables SET table_namespace = ?, "
                "table_name = ? WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ?",
                (dns, dname, self.name, sns, sname))
