"""REST catalog protocol: client, in-process server, and MemoryCatalog.

Counterpart of the reference's REST catalog client
(/root/reference/crates/catalog/rest/src/catalog.rs:372) and memory catalog
(/root/reference/crates/catalog/memory/src/catalog.rs). The sandbox has no
network, so the HTTP layer is a pluggable ``transport`` callable
``(method, path, json_body) -> (status, json_dict)``; production would bind
it to urllib/requests, tests bind it to an in-process ``RestCatalogServer``.
Crucially the *wire payloads* are the real Iceberg REST ones — commits travel
as ``{"requirements": [...], "updates": [...]}`` in the kebab-case shapes of
catalog/mod.rs:443-649, applied server-side through updates.apply_updates —
so the protocol IR is exercised in both directions, not just serialized.

Commit flow (mirrors rest/src/catalog.rs::update_table):
  client: diff base→new metadata into TableUpdate dicts + guard requirements
  server: check_requirement(current, r) for each; apply_updates(current);
          CAS into the backing catalog; RequirementFailed/conflict -> 409
  client: 409 -> CommitConflict, which Table._commit_retry refresh-reapplies.

One documented deviation: v3 row-lineage ``next-row-id`` has no standard
update action (the REST spec assigns it server-side from the v3 snapshot's
first-row-id); we carry it as an explicit extension action
``{"action": "set-next-row-id"}`` so diff→apply is an exact identity.
"""

from __future__ import annotations

import copy
import json
import threading
from typing import Any, Callable, Dict, List, Optional, Tuple

from .catalog import (CommitConflict, NamespaceNotEmpty, NoSuchNamespace,
                      NoSuchTable, TableAlreadyExists, metadata_bytes,
                      new_metadata_location, ptr_version, read_metadata)
from .io import file_io_for, posix_join
from .metadata import TableMetadata
from .updates import RequirementFailed, apply_updates, check_requirement

Transport = Callable[[str, str, Optional[dict]], Tuple[int, dict]]


# ---------------------------------------------------------------------------
# MemoryCatalog (catalog/memory/src/catalog.rs): identifier -> metadata in a
# mutex-guarded map; metadata files are still written through FileIO, next
# to the current pointer, so StaticTable / metadata-log reads work, but the
# COMMIT point (the CAS) is the in-memory pointer's version, like the
# reference's HashMap<TableIdent, String> behind a Mutex.
# ---------------------------------------------------------------------------

class MemoryCatalog:
    def __init__(self, warehouse: str):
        import os
        self.warehouse = (warehouse if "://" in warehouse
                          else os.path.abspath(warehouse))
        self.io = file_io_for(self.warehouse)
        self.io.makedirs(self.warehouse)
        self._lock = threading.Lock()
        # identifier -> (metadata_json, metadata file location); JSON (not
        # the object) is stored so each load round-trips serialization like
        # a real catalog
        self._tables: Dict[str, Tuple[str, str]] = {}
        self._namespaces: set = set()
        self._ns_props: Dict[str, dict] = {}

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[dict] = None) -> None:
        with self._lock:
            self._namespaces.add(namespace)
            if properties:
                self._ns_props.setdefault(namespace, {}).update(properties)

    def namespace_exists(self, namespace: str) -> bool:
        with self._lock:
            return namespace in self._namespaces

    def namespace_properties(self, namespace: str) -> dict:
        with self._lock:
            if namespace not in self._namespaces:
                raise NoSuchNamespace(namespace)
            return dict(self._ns_props.get(namespace, {}))

    def update_namespace(self, namespace: str,
                         updates: Optional[dict] = None,
                         removals: Optional[List[str]] = None) -> dict:
        with self._lock:
            if namespace not in self._namespaces:
                raise NoSuchNamespace(namespace)
            props = self._ns_props.setdefault(namespace, {})
            for k in removals or ():
                props.pop(k, None)
            props.update(updates or {})
            return dict(props)

    def drop_namespace(self, namespace: str) -> None:
        with self._lock:
            if namespace not in self._namespaces:
                raise NoSuchNamespace(namespace)
            prefix = namespace + "."
            if any(i.startswith(prefix) for i in self._tables):
                raise NamespaceNotEmpty(f"{namespace}: tables exist")
            if any(n.startswith(prefix) for n in self._namespaces):
                raise NamespaceNotEmpty(f"{namespace}: child namespaces exist")
            self._namespaces.discard(namespace)
            self._ns_props.pop(namespace, None)

    def list_namespaces(self) -> List[str]:
        with self._lock:
            return sorted(self._namespaces)

    def list_tables(self, namespace: str) -> List[str]:
        prefix = namespace + "."
        with self._lock:
            return sorted(i.split(".", 1)[1] for i in self._tables
                          if i.startswith(prefix))

    # -- tables ------------------------------------------------------------
    def table_exists(self, identifier: str) -> bool:
        with self._lock:
            return identifier in self._tables

    def _table_dir(self, identifier: str) -> str:
        return posix_join(self.warehouse, *identifier.split("."))

    def create_table(self, identifier: str, metadata: TableMetadata) -> TableMetadata:
        with self._lock:
            if identifier in self._tables:
                raise TableAlreadyExists(identifier)
            metadata.location = self._table_dir(identifier)
            md_dir = posix_join(metadata.location, "metadata")
            self.io.makedirs(posix_join(metadata.location, "data"))
            self.io.makedirs(md_dir)
            target = new_metadata_location(md_dir, 1, metadata)
            self.io.write_bytes(target,
                                metadata_bytes(self.io, metadata, target))
            self._tables[identifier] = (metadata.to_json(), target)
            return metadata

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        with self._lock:
            if identifier not in self._tables:
                raise NoSuchTable(identifier)
            text, location = self._tables[identifier]
        md = TableMetadata.from_json(text)
        md.metadata_file_location = location
        return md, ptr_version(location)

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        with self._lock:
            if identifier not in self._tables:
                raise NoSuchTable(identifier)
            del self._tables[identifier]
        if purge:
            self.io.delete_prefix(self._table_dir(identifier))

    def rename_table(self, src: str, dst: str) -> None:
        with self._lock:
            if src not in self._tables:
                raise NoSuchTable(src)
            if dst in self._tables:
                raise TableAlreadyExists(dst)
            # identifier moves, location stays (Catalog::rename_table semantics)
            self._tables[dst] = self._tables.pop(src)

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        with self._lock:
            if identifier not in self._tables:
                raise NoSuchTable(identifier)
            _, current = self._tables[identifier]
            if ptr_version(current) != base_version:
                raise CommitConflict(
                    f"{identifier}: {current} committed since v{base_version}")
            new_version = base_version + 1
            target = new_metadata_location(current.rsplit("/", 1)[0],
                                           new_version, metadata)
            self.io.write_bytes(
                target, metadata_bytes(self.io, metadata, target, current))
            self._tables[identifier] = (metadata.to_json(), target)
            return new_version

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """Catalog::register_table (REST spec POST .../register): adopt
        EXISTING metadata by path; nothing is copied or rewritten."""
        md, _ = read_metadata(file_io_for(metadata_location),
                              metadata_location)
        with self._lock:
            if identifier in self._tables:
                raise TableAlreadyExists(identifier)
            self._tables[identifier] = (md.to_json(), metadata_location)
        return md


# ---------------------------------------------------------------------------
# metadata diff -> TableUpdate list (the client half of the commit protocol).
# The reference transaction *accumulates* updates as actions run
# (transaction/mod.rs); our Table computes the full next metadata instead, so
# the REST client reconstructs the equivalent update list by diffing. The
# invariant (tested): apply_updates(base, diff_metadata(base, new)) == new.
# ---------------------------------------------------------------------------

def diff_metadata(base: TableMetadata, new: TableMetadata) -> List[Dict[str, Any]]:
    upd: List[Dict[str, Any]] = []
    if new.table_uuid != base.table_uuid:
        upd.append({"action": "assign-uuid", "uuid": new.table_uuid})
    if new.format_version != base.format_version:
        upd.append({"action": "upgrade-format-version",
                    "format-version": new.format_version})
    if new.location != base.location:
        upd.append({"action": "set-location", "location": new.location})

    # schemas ---------------------------------------------------------------
    base_schema_ids = {s.schema_id for s in base.schemas}
    new_schema_ids = {s.schema_id for s in new.schemas}
    for s in new.schemas:
        if s.schema_id not in base_schema_ids:
            upd.append({"action": "add-schema", "schema": s.to_json_dict()})
    if new.current_schema_id != base.current_schema_id:
        upd.append({"action": "set-current-schema",
                    "schema-id": new.current_schema_id})
    removed_schemas = sorted(base_schema_ids - new_schema_ids)
    if removed_schemas:
        upd.append({"action": "remove-schemas", "schema-ids": removed_schemas})

    # partition specs -------------------------------------------------------
    base_spec_ids = {s.spec_id for s in base.partition_specs}
    new_spec_ids = {s.spec_id for s in new.partition_specs}
    for s in new.partition_specs:
        if s.spec_id not in base_spec_ids:
            upd.append({"action": "add-spec", "spec": s.to_json()})
    if new.default_spec_id != base.default_spec_id:
        upd.append({"action": "set-default-spec", "spec-id": new.default_spec_id})
    removed_specs = sorted(base_spec_ids - new_spec_ids)
    if removed_specs:
        upd.append({"action": "remove-partition-specs", "spec-ids": removed_specs})

    # sort orders -----------------------------------------------------------
    base_order_ids = {o.order_id for o in base.sort_orders}
    for o in new.sort_orders:
        if o.order_id not in base_order_ids:
            upd.append({"action": "add-sort-order", "sort-order": o.to_json()})
    if new.default_sort_order_id != base.default_sort_order_id:
        upd.append({"action": "set-default-sort-order",
                    "sort-order-id": new.default_sort_order_id})

    # snapshots (ordered by sequence number so the monotonicity check in
    # _apply_one holds when several appear in one commit) ------------------
    base_snap_ids = {s.snapshot_id for s in base.snapshots}
    new_snap_ids = {s.snapshot_id for s in new.snapshots}
    for s in sorted((s for s in new.snapshots
                     if s.snapshot_id not in base_snap_ids),
                    key=lambda s: s.sequence_number):
        upd.append({"action": "add-snapshot", "snapshot": s.to_json()})
    removed_snaps = sorted(base_snap_ids - new_snap_ids)
    # refs AFTER add-snapshot (target must exist), removals after re-pointing
    for name, ref in new.refs.items():
        old = base.refs.get(name)
        if old != ref:  # dataclass equality incl. per-ref retention fields
            u = {"action": "set-snapshot-ref", "ref-name": name,
                 "snapshot-id": ref.snapshot_id, "type": ref.type}
            if ref.min_snapshots_to_keep is not None:
                u["min-snapshots-to-keep"] = ref.min_snapshots_to_keep
            if ref.max_snapshot_age_ms is not None:
                u["max-snapshot-age-ms"] = ref.max_snapshot_age_ms
            if ref.max_ref_age_ms is not None:
                u["max-ref-age-ms"] = ref.max_ref_age_ms
            upd.append(u)
    for name in base.refs:
        if name not in new.refs:
            upd.append({"action": "remove-snapshot-ref", "ref-name": name})
    if removed_snaps:
        upd.append({"action": "remove-snapshots", "snapshot-ids": removed_snaps})

    # properties ------------------------------------------------------------
    changed = {k: v for k, v in new.properties.items()
               if base.properties.get(k) != v}
    if changed:
        upd.append({"action": "set-properties", "updates": changed})
    removed_props = sorted(k for k in base.properties if k not in new.properties)
    if removed_props:
        upd.append({"action": "remove-properties", "removals": removed_props})

    # statistics ------------------------------------------------------------
    def _stats_diff(base_list, new_list, set_action, set_key, rm_action):
        base_by = {s.get("snapshot-id"): s for s in base_list}
        new_by = {s.get("snapshot-id"): s for s in new_list}
        for sid, sf in new_by.items():
            if base_by.get(sid) != sf:
                upd.append({"action": set_action, set_key: sf})
        for sid in base_by:
            if sid not in new_by:
                upd.append({"action": rm_action, "snapshot-id": sid})

    _stats_diff(base.statistics, new.statistics,
                "set-statistics", "statistics", "remove-statistics")
    _stats_diff(base.partition_statistics, new.partition_statistics,
                "set-partition-statistics", "partition-statistics",
                "remove-partition-statistics")

    # encryption keys -------------------------------------------------------
    base_keys = {k.get("key-id") for k in base.encryption_keys}
    new_keys = {k.get("key-id") for k in new.encryption_keys}
    for k in new.encryption_keys:
        if k.get("key-id") not in base_keys:
            upd.append({"action": "add-encryption-key", "encryption-key": k})
    for kid in sorted(base_keys - new_keys):
        upd.append({"action": "remove-encryption-key", "key-id": kid})

    # v3 row lineage (extension action, see module docstring) --------------
    if new.next_row_id != base.next_row_id:
        upd.append({"action": "set-next-row-id", "next-row-id": new.next_row_id})
    return upd


def guard_requirements(base: TableMetadata,
                       updates: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """Requirements protecting a diff-based commit, mirroring what the
    reference's actions attach (catalog/mod.rs:443-501): always pin the table
    uuid; pin the branch head when snapshots/refs move; pin schema/spec
    pointers when they move."""
    reqs: List[Dict[str, Any]] = [
        {"type": "assert-table-uuid", "uuid": base.table_uuid}]
    actions = {u["action"] for u in updates}
    touched_refs = {u["ref-name"] for u in updates
                    if u["action"] in ("set-snapshot-ref", "remove-snapshot-ref")}
    if actions & {"add-snapshot", "remove-snapshots"}:
        touched_refs.add("main")
    for name in sorted(touched_refs):
        ref = base.refs.get(name)
        req: Dict[str, Any] = {"type": "assert-ref-snapshot-id", "ref": name}
        if ref is not None:
            req["snapshot-id"] = ref.snapshot_id
        reqs.append(req)
    if "add-schema" in actions:
        reqs.append({"type": "assert-last-assigned-field-id",
                     "last-assigned-field-id": base.last_column_id})
    if "set-current-schema" in actions:
        reqs.append({"type": "assert-current-schema-id",
                     "current-schema-id": base.current_schema_id})
    if "add-spec" in actions:
        reqs.append({"type": "assert-last-assigned-partition-id",
                     "last-assigned-partition-id": base.last_partition_id})
    if "set-default-spec" in actions:
        reqs.append({"type": "assert-default-spec-id",
                     "default-spec-id": base.default_spec_id})
    if "set-default-sort-order" in actions:
        reqs.append({"type": "assert-default-sort-order-id",
                     "default-sort-order-id": base.default_sort_order_id})
    return reqs


# ---------------------------------------------------------------------------
# server: routes the REST catalog OpenAPI paths onto a backing catalog.
# In-process (no sockets — sandbox has no network), but handler signatures
# and payloads are the wire ones, so a real WSGI binding is a 10-line shim.
# ---------------------------------------------------------------------------

class RestCatalogServer:
    def __init__(self, backing, prefix: Optional[str] = None,
                 page_size: Optional[int] = None):
        """``prefix`` is advertised via GET /v1/config overrides and then
        REQUIRED on every catalog route (catalog.rs:185-226 url_prefixed);
        ``page_size`` turns on list pagination (next-page-token /
        pageToken, catalog.rs:588)."""
        self.backing = backing
        self.prefix = prefix
        self.page_size = page_size

    # transport-compatible entry point
    def __call__(self, method: str, path: str,
                 body: Optional[dict]) -> Tuple[int, dict]:
        try:
            return self._route(method, path.strip("/"), body or {})
        except NoSuchTable as e:
            return 404, {"error": {"message": str(e), "type": "NoSuchTableException"}}
        except NoSuchNamespace as e:
            return 404, {"error": {"message": str(e),
                                   "type": "NoSuchNamespaceException"}}
        except NamespaceNotEmpty as e:
            return 409, {"error": {"message": str(e),
                                   "type": "NamespaceNotEmptyException"}}
        except TableAlreadyExists as e:
            return 409, {"error": {"message": str(e),
                                   "type": "AlreadyExistsException"}}
        except (RequirementFailed, CommitConflict) as e:
            return 409, {"error": {"message": str(e),
                                   "type": "CommitFailedException"}}
        except Exception as e:  # malformed request
            return 400, {"error": {"message": str(e), "type": type(e).__name__}}

    def _route(self, method: str, path: str, body: dict) -> Tuple[int, dict]:
        from urllib.parse import parse_qsl, urlsplit
        split = urlsplit(path)
        query = dict(parse_qsl(split.query))
        parts = split.path.strip("/").split("/")
        if parts[:2] == ["v1", "config"]:
            over = {"prefix": self.prefix} if self.prefix else {}
            return 200, {"defaults": {}, "overrides": over}
        # prefix-aware routing: v1/{prefix}/namespaces/... when configured
        if self.prefix:
            if len(parts) >= 2 and parts[0] == "v1" and parts[1] == self.prefix:
                parts = ["v1"] + parts[2:]
            elif parts[:1] == ["v1"] and parts[1:2] != ["config"]:
                return 404, {"error": {
                    "message": f"missing catalog prefix in /{split.path}",
                    "type": "NotFound"}}

        def page(items: list, key: str) -> Tuple[int, dict]:
            """REST spec pagination: pageToken is the start offset here."""
            if not self.page_size:
                return 200, {key: items}
            start = int(query.get("pageToken", "0") or 0)
            chunk = items[start:start + self.page_size]
            resp = {key: chunk}
            if start + self.page_size < len(items):
                resp["next-page-token"] = str(start + self.page_size)
            return 200, resp

        if parts[:2] == ["v1", "namespaces"]:
            if len(parts) == 2:
                if method == "POST":
                    ns = ".".join(body["namespace"])
                    props = body.get("properties") or {}
                    self.backing.create_namespace(ns, props)
                    return 200, {"namespace": body["namespace"],
                                 "properties": props}
                return page([n.split(".") for n in
                             sorted(self.backing.list_namespaces())],
                            "namespaces")
            ns = parts[2]
            if len(parts) == 3:
                # namespace object routes (REST spec loadNamespaceMetadata /
                # namespaceExists / dropNamespace; catalog.rs:661-740)
                if method == "GET":
                    return 200, {"namespace": ns.split("."),
                                 "properties":
                                     self.backing.namespace_properties(ns)}
                if method == "HEAD":
                    return (204 if self.backing.namespace_exists(ns)
                            else 404), {}
                if method == "DELETE":
                    self.backing.drop_namespace(ns)
                    return 204, {}
            if len(parts) == 4 and parts[3] == "properties" \
                    and method == "POST":
                # UpdateNamespacePropertiesRequest -> {updated,removed,missing}
                updates = body.get("updates") or {}
                removals = body.get("removals") or []
                before = self.backing.namespace_properties(ns)
                self.backing.update_namespace(ns, updates, removals)
                return 200, {
                    "updated": sorted(updates),
                    "removed": sorted(k for k in removals if k in before),
                    "missing": sorted(k for k in removals if k not in before)}
            if len(parts) == 4 and parts[3] == "register" \
                    and method == "POST":
                # REST spec register route (reference catalog.rs:997-1050)
                ident = f"{ns}.{body['name']}"
                md = self.backing.register_table(
                    ident, body["metadata-location"])
                return 200, self._load_result(md)
            if len(parts) == 4 and parts[3] == "tables":
                if method == "POST":
                    return self._create_table(ns, body)
                return page([{"namespace": ns.split("."), "name": t}
                             for t in sorted(self.backing.list_tables(ns))],
                            "identifiers")
            if len(parts) == 5 and parts[3] == "tables":
                ident = f"{ns}.{parts[4]}"
                if method == "GET":
                    return self._load_table(ident)
                if method == "HEAD":
                    return (204 if self.backing.table_exists(ident) else 404), {}
                if method == "POST":
                    return self._commit_table(ident, body)
                if method == "DELETE":
                    self.backing.drop_table(ident, purge=True)
                    return 204, {}
        if parts[:3] == ["v1", "tables", "rename"] and method == "POST":
            src = ".".join(body["source"]["namespace"]) + "." + body["source"]["name"]
            dst = ".".join(body["destination"]["namespace"]) + "." + body["destination"]["name"]
            self.backing.rename_table(src, dst)
            return 204, {}
        return 404, {"error": {"message": f"no route {method} /{path}",
                               "type": "NotFound"}}

    @staticmethod
    def _load_result(md: TableMetadata) -> dict:
        return {"metadata-location": md.metadata_file_location,
                "metadata": json.loads(md.to_json()), "config": {}}

    def _load_table(self, ident: str) -> Tuple[int, dict]:
        md, _ = self.backing.load_table(ident)
        return 200, self._load_result(md)

    def _create_table(self, ns: str, body: dict) -> Tuple[int, dict]:
        md = TableMetadata.from_json(json.dumps(body["metadata"]))
        ident = f"{ns}.{body['name']}"
        md = self.backing.create_table(ident, md)
        return 200, self._load_result(md)

    def _commit_table(self, ident: str, body: dict) -> Tuple[int, dict]:
        md, version = self.backing.load_table(ident)
        for req in body.get("requirements", []):
            check_requirement(md, req)
        new_md = apply_updates_ext(md, body.get("updates", []))
        new_md.last_updated_ms = max(new_md.last_updated_ms, md.last_updated_ms)
        self.backing.commit_table(ident, version, new_md)
        return 200, self._load_result(new_md)


def apply_updates_ext(md: TableMetadata,
                      updates: List[Dict[str, Any]]) -> TableMetadata:
    """apply_updates plus the set-next-row-id extension action (module
    docstring); standard actions go through updates.apply_updates verbatim."""
    std = [u for u in updates if u.get("action") != "set-next-row-id"]
    out = apply_updates(md, std)
    for u in updates:
        if u.get("action") == "set-next-row-id":
            if u["next-row-id"] < out.next_row_id:
                raise RequirementFailed(
                    f"next-row-id must not decrease: {u['next-row-id']} < "
                    f"{out.next_row_id}")
            out.next_row_id = u["next-row-id"]
    return out


# ---------------------------------------------------------------------------
# client: the same duck-typed surface FileSystemCatalog exposes, so
# Table/Transaction code runs over REST unchanged.
# ---------------------------------------------------------------------------

class RestCatalog:
    def __init__(self, uri: str = "", transport: Optional[Transport] = None,
                 token: Optional[str] = None,
                 credential: Optional[str] = None,
                 oauth2_server_uri: Optional[str] = None,
                 scope: str = "catalog",
                 extra_oauth_params: Optional[Dict[str, str]] = None,
                 warehouse: Optional[str] = None):
        """Auth mirrors the reference client (rest/src/client.rs:33-65):
        ``token`` is a static bearer sent on every request; ``credential``
        (``client_id:client_secret`` or a bare secret) drives the OAuth2
        client-credentials flow against ``oauth2_server_uri`` (default
        ``{uri}/v1/oauth/tokens`` per the REST spec) — fetched lazily and
        re-fetched once on a 401."""
        self._token = token
        self._credential = credential
        self._oauth_uri = oauth2_server_uri
        self._scope = scope
        self._extra_oauth = dict(extra_oauth_params or {})
        if transport is None:
            transport = _urllib_transport(uri, lambda: self._token)
        self.uri = uri
        self._t = transport
        # GET /v1/config bootstrap (catalog.rs:458): server defaults merge
        # under, overrides win; a returned "prefix" re-roots every catalog
        # route at v1/{prefix}/... — fetched lazily on the first call
        self.warehouse = warehouse
        self.props: Dict[str, str] = {}
        self._prefix: Optional[str] = None
        self._configured = False
        # spec UpdateNamespacePropertiesResponse of the most recent
        # update_namespace call ({updated, removed, missing})
        self.last_update_namespace_response: Optional[dict] = None
        # base metadata per (identifier, version) so commit can diff; entries
        # die with the commit or the next refresh — bounded by live handles
        self._bases: Dict[Tuple[str, int], TableMetadata] = {}

    # -- config bootstrap --------------------------------------------------
    def _ensure_config(self) -> None:
        if self._configured:
            return
        self._configured = True  # set first: _call below recurses into us
        q = f"?warehouse={self.warehouse}" if self.warehouse else ""
        try:
            _, body = self._call("GET", f"v1/config{q}", None)
        except NoSuchTable:
            # the route 404'd: a pre-config server with no /v1/config at
            # all — that's a stable answer, keep unprefixed routes
            return
        except Exception:
            # transient failure (gateway exhausted retries, connection
            # refused): DON'T pin the un-configured state — the next call
            # re-attempts the bootstrap
            self._configured = False
            raise
        merged = dict(body.get("defaults", {}))
        merged.update(body.get("overrides", {}))
        self.props = merged
        self._prefix = merged.get("prefix") or None

    def _p(self, rest: str) -> str:
        """Catalog route, re-rooted under the config-advertised prefix
        (catalog.rs:185-226 url_prefixed)."""
        self._ensure_config()
        return f"v1/{self._prefix}/{rest}" if self._prefix else f"v1/{rest}"

    def _paged(self, path: str, key: str) -> List[dict]:
        """Drain a paginated list route (pageToken / next-page-token,
        catalog.rs:588)."""
        items, token = [], None
        while True:
            q = f"?pageToken={token}" if token else ""
            _, body = self._call("GET", path + q, None)
            items.extend(body.get(key, []))
            token = body.get("next-page-token")
            if not token:
                return items

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, namespace: str,
                         properties: Optional[dict] = None) -> None:
        self._call("POST", self._p("namespaces"),
                   {"namespace": namespace.split("."),
                    "properties": dict(properties or {})})

    def namespace_properties(self, namespace: str) -> dict:
        """loadNamespaceMetadata (catalog.rs:661 get_namespace)."""
        _, body = self._call("GET", self._p(f"namespaces/{namespace}"), None)
        return body.get("properties", {})

    def namespace_exists(self, namespace: str) -> bool:
        """HEAD first; GET fallback for servers without the HEAD route
        (catalog.rs:689-705 namespace_exists)."""
        self._ensure_token()
        status, _ = self._t("HEAD", self._p(f"namespaces/{namespace}"), None)
        if status in (200, 204):
            return True
        if status == 404:
            return False
        try:
            self.namespace_properties(namespace)
            return True
        except (NoSuchNamespace, NoSuchTable):
            # servers without typed errors answer a generic 404, which
            # _call maps to NoSuchTable — still means "absent"
            return False

    def update_namespace(self, namespace: str,
                         updates: Optional[dict] = None,
                         removals: Optional[List[str]] = None) -> dict:
        """POST .../properties (REST spec updateProperties). Returns the
        resulting property map like every other catalog; the spec's
        {updated, removed, missing} reply is kept on
        ``last_update_namespace_response`` for callers that want it."""
        _, body = self._call(
            "POST", self._p(f"namespaces/{namespace}/properties"),
            {"updates": dict(updates or {}),
             "removals": list(removals or [])})
        self.last_update_namespace_response = body
        return self.namespace_properties(namespace)

    def drop_namespace(self, namespace: str) -> None:
        self._call("DELETE", self._p(f"namespaces/{namespace}"), None)

    def list_namespaces(self) -> List[str]:
        return [".".join(n)
                for n in self._paged(self._p("namespaces"), "namespaces")]

    def list_tables(self, namespace: str) -> List[str]:
        return [i["name"] for i in self._paged(
            self._p(f"namespaces/{namespace}/tables"), "identifiers")]

    # -- tables ------------------------------------------------------------
    def table_exists(self, identifier: str) -> bool:
        ns, name = identifier.rsplit(".", 1)
        self._ensure_token()
        status, _ = self._t("HEAD", self._p(f"namespaces/{ns}/tables/{name}"), None)
        return status == 204

    def create_table(self, identifier: str, metadata: TableMetadata) -> TableMetadata:
        ns, name = identifier.rsplit(".", 1)
        _, body = self._call(
            "POST", self._p(f"namespaces/{ns}/tables"),
            {"name": name, "metadata": json.loads(metadata.to_json())})
        return self._adopt(identifier, body)[0]

    def load_table(self, identifier: str) -> Tuple[TableMetadata, int]:
        ns, name = identifier.rsplit(".", 1)
        _, body = self._call("GET", self._p(f"namespaces/{ns}/tables/{name}"), None)
        return self._adopt(identifier, body)

    def register_table(self, identifier: str,
                       metadata_location: str) -> TableMetadata:
        """POST .../register (reference rest catalog.rs:997-1050): the
        server adopts existing metadata by path."""
        ns, name = identifier.rsplit(".", 1)
        _, body = self._call(
            "POST", self._p(f"namespaces/{ns}/register"),
            {"name": name, "metadata-location": metadata_location})
        return self._adopt(identifier, body)[0]

    def drop_table(self, identifier: str, purge: bool = True) -> None:
        ns, name = identifier.rsplit(".", 1)
        self._call("DELETE", self._p(f"namespaces/{ns}/tables/{name}"), None)

    def rename_table(self, src: str, dst: str) -> None:
        s_ns, s_name = src.rsplit(".", 1)
        d_ns, d_name = dst.rsplit(".", 1)
        self._call("POST", self._p("tables/rename"), {
            "source": {"namespace": s_ns.split("."), "name": s_name},
            "destination": {"namespace": d_ns.split("."), "name": d_name}})

    def commit_table(self, identifier: str, base_version: int,
                     metadata: TableMetadata) -> int:
        base = self._bases.get((identifier, base_version))
        if base is None:
            # stale handle from before this client — treat as a lost race so
            # _commit_retry reloads through us and caches a base
            raise CommitConflict(f"{identifier}: no base for v{base_version}")
        updates = diff_metadata(base, metadata)
        requirements = guard_requirements(base, updates)
        ns, name = identifier.rsplit(".", 1)
        status, body = self._t(
            "POST", self._p(f"namespaces/{ns}/tables/{name}"),
            {"identifier": {"namespace": ns.split("."), "name": name},
             "requirements": requirements, "updates": updates})
        if status == 409:
            raise CommitConflict(body.get("error", {}).get("message", "conflict"))
        if status >= 300:
            raise RuntimeError(f"commit failed {status}: {body}")
        self._bases.pop((identifier, base_version), None)
        new, new_version = self._adopt(identifier, body)
        metadata.metadata_file_location = new.metadata_file_location
        return new_version

    def _adopt(self, identifier: str,
               body: dict) -> Tuple[TableMetadata, int]:
        """The response's metadata and version, kept as the base the next
        commit diffs against."""
        md = TableMetadata.from_json(json.dumps(body["metadata"]))
        md.metadata_file_location = body["metadata-location"]
        version = ptr_version(md.metadata_file_location)
        self._bases[(identifier, version)] = copy.deepcopy(md)
        return md, version

    # -- plumbing ----------------------------------------------------------
    def _call(self, method: str, path: str,
              body: Optional[dict]) -> Tuple[int, dict]:
        # transient gateway failures (502/503/504) retry with backoff —
        # safe for every route here: GETs are pure, and the commit POST is
        # requirement-guarded so a replay of an applied commit conflicts
        # instead of double-applying
        import time as _time
        self._ensure_token()
        delay = 0.1
        for attempt in range(4):
            status, resp = self._t(method, path, body)
            if status == 401 and self._credential is not None and attempt == 0:
                # expired/revoked token: one re-auth then retry
                # (client.rs token refresh-on-401)
                self._fetch_token()
                continue
            if status not in (502, 503, 504) or attempt == 3:
                break
            _time.sleep(delay)
            delay *= 2
        if status == 401:
            raise PermissionError(
                resp.get("error", {}).get("message", f"unauthorized: {path}"))
        if status == 404:
            err = resp.get("error", {})
            if err.get("type") == "NoSuchNamespaceException":
                raise NoSuchNamespace(err.get("message", path))
            raise NoSuchTable(err.get("message", path))
        if status == 409:
            err_type = resp.get("error", {}).get("type", "")
            if err_type == "AlreadyExistsException":
                raise TableAlreadyExists(resp["error"]["message"])
            if err_type == "NamespaceNotEmptyException":
                raise NamespaceNotEmpty(resp["error"]["message"])
            raise CommitConflict(resp.get("error", {}).get("message", path))
        if status >= 300:
            raise RuntimeError(f"{method} {path} -> {status}: {resp}")
        return status, resp

    def _ensure_token(self) -> None:
        if self._token is None and self._credential is not None:
            self._fetch_token()

    def _fetch_token(self) -> None:
        """OAuth2 client-credentials grant (REST spec POST /v1/oauth/tokens,
        form-encoded; client.rs:36-44). The token endpoint itself is called
        unauthenticated through the same transport."""
        cred = self._credential or ""
        client_id, _, client_secret = cred.rpartition(":")
        form = {"grant_type": "client_credentials",
                "client_secret": client_secret,
                "scope": self._scope, **self._extra_oauth}
        if client_id:
            form["client_id"] = client_id
        if self._oauth_uri and "://" in self._oauth_uri:
            # absolute token endpoint (external IdP — client.rs full-URI
            # semantics): POST the form there directly, form-encoded,
            # unauthenticated, independent of the catalog transport
            status, resp = _post_form(self._oauth_uri, form)
        else:
            path = self._oauth_uri or "v1/oauth/tokens"
            status, resp = self._t("POST", path, form)
        if status >= 300 or "access_token" not in resp:
            raise PermissionError(
                f"token fetch failed ({status}): "
                f"{resp.get('error', resp)}")
        self._token = resp["access_token"]


def _post_form(url: str, form: Dict[str, str]) -> Tuple[int, dict]:
    """Form-encoded POST to an absolute URL (external OAuth2 token
    endpoints live outside the catalog's URI space)."""
    import urllib.error
    import urllib.parse
    import urllib.request
    req = urllib.request.Request(
        url, data=urllib.parse.urlencode(form).encode(), method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read().decode() or "{}")
    except urllib.error.HTTPError as e:
        text = e.read().decode() or "{}"
        try:
            return e.code, json.loads(text)
        except ValueError:
            return e.code, {"error": {"message": text}}


def _urllib_transport(uri: str,
                      get_token: Optional[Callable[[], Optional[str]]] = None
                      ) -> Transport:
    """Real-HTTP binding (loopback in tests, deployments otherwise).
    ``get_token`` is read per-request so OAuth refreshes take effect; the
    token endpoint is form-encoded per the REST spec, everything else
    JSON."""
    import urllib.error
    import urllib.parse
    import urllib.request

    def transport(method: str, path: str, body: Optional[dict]) -> Tuple[int, dict]:
        url = uri.rstrip("/") + "/" + path
        headers = {"Content-Type": "application/json"}
        if path.endswith("oauth/tokens") and body is not None:
            data = urllib.parse.urlencode(body).encode()
            headers["Content-Type"] = "application/x-www-form-urlencoded"
        else:
            data = None if body is None else json.dumps(body).encode()
            token = get_token() if get_token else None
            if token:
                headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(url, data=data, method=method,
                                     headers=headers)
        try:
            with urllib.request.urlopen(req) as r:
                text = r.read().decode() or "{}"
                return r.status, json.loads(text)
        except urllib.error.HTTPError as e:
            text = e.read().decode() or "{}"
            try:
                return e.code, json.loads(text)
            except json.JSONDecodeError:
                return e.code, {"error": {"message": text, "type": "HTTPError"}}
    return transport


def serve_http(server: RestCatalogServer, host: str = "127.0.0.1",
               port: int = 0,
               oauth_credential: Optional[Tuple[str, str]] = None):
    """Bind a RestCatalogServer to a real HTTP socket (stdlib
    ThreadingHTTPServer in a daemon thread) so ``RestCatalog(uri=...)``
    exercises the full wire path — the deployment shape of the reference's
    HTTP client (crates/catalog/rest/src/catalog.rs:372). With
    ``oauth_credential=(client_id, client_secret)`` the server requires a
    Bearer token on every catalog route and issues tokens from
    ``POST /v1/oauth/tokens`` (client-credentials grant) — the auth shape
    of client.rs:33-65. Returns ``(uri, shutdown)``; call ``shutdown()``
    when done."""
    import http.server
    import secrets as _secrets
    import threading
    import urllib.parse

    issued: set = set()

    class _Handler(http.server.BaseHTTPRequestHandler):
        def _handle(self, method: str) -> None:
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length) if length else b""
            if oauth_credential is not None and \
                    self.path.rstrip("/").endswith("oauth/tokens"):
                form = dict(urllib.parse.parse_qsl(raw.decode()))
                cid, csecret = oauth_credential
                if (form.get("grant_type") == "client_credentials"
                        and form.get("client_id", cid) == cid
                        and form.get("client_secret") == csecret):
                    tok = _secrets.token_hex(16)
                    issued.add(tok)
                    status, resp = 200, {"access_token": tok,
                                         "token_type": "bearer"}
                else:
                    status, resp = 401, {"error": {
                        "message": "invalid client credentials",
                        "type": "NotAuthorizedException"}}
                self._reply(method, status, resp)
                return
            if oauth_credential is not None:
                auth = self.headers.get("Authorization", "")
                if not (auth.startswith("Bearer ")
                        and auth[len("Bearer "):] in issued):
                    self._reply(method, 401, {"error": {
                        "message": "missing or invalid bearer token",
                        "type": "NotAuthorizedException"}})
                    return
            body = json.loads(raw or b"{}") if length else None
            status, resp = server(method, self.path, body)
            self._reply(method, status, resp)

        def _reply(self, method: str, status: int, resp: dict) -> None:
            data = json.dumps(resp).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if method != "HEAD":
                self.wfile.write(data)

        def do_GET(self):
            self._handle("GET")

        def do_POST(self):
            self._handle("POST")

        def do_DELETE(self):
            self._handle("DELETE")

        def do_HEAD(self):
            self._handle("HEAD")

        def log_message(self, *args):  # keep test output clean
            pass

    httpd = http.server.ThreadingHTTPServer((host, port), _Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    uri = f"http://{host}:{httpd.server_address[1]}"

    def shutdown() -> None:
        httpd.shutdown()
        httpd.server_close()

    return uri, shutdown
