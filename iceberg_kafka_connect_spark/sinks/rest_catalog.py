"""REST catalog client — ``iceberg.catalog.type=rest`` made executable.

Reference parity: data/Utilities.java:68-121 resolves
``iceberg.catalog.type=rest`` to Iceberg's ``RESTCatalog`` and the sink
then loads/creates tables through it (IcebergWriterFactory.java:51-66).
This client speaks the same public REST Catalog protocol (stdlib
``urllib`` — no SDK) against any conformant service, including this
package's :class:`~.rest_server.IcebergRestServer`:

- table discovery and lifecycle (``list / exists / load / create / drop /
  rename``) go over HTTP;
- ``loadTable`` returns Iceberg metadata whose ``location`` points at
  shared storage, and data IO happens directly against that location —
  the catalog never proxies data, which is what lets one catalog front a
  1000-executor cluster;
- property and ref changes route through the commit endpoint with the
  protocol's optimistic requirements (``assert-table-uuid``,
  ``assert-ref-snapshot-id``) and retry on 409, so concurrent writers
  serialize at the catalog exactly as Iceberg prescribes.

Auth: a static ``token`` becomes ``Authorization: Bearer <token>`` on
every request — the reference's ``iceberg.catalog.token`` passthrough.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from urllib.parse import quote

from pyspark.sql import types as T

from .catalog import (
    NoSuchTableError,
    TableAlreadyExistsError,
    UnsupportedCatalogError,
)
from .pointer_catalog import AutoCreate, _uri_to_path
from .table import LakehouseTable


class RestCommitFailed(Exception):
    """The server rejected a commit's requirements (HTTP 409) and retries
    were exhausted."""


class RestCatalogError(Exception):
    """Non-retryable REST error (the server's error object, flattened)."""

    def __init__(self, code: int, etype: str, message: str):
        super().__init__(f"{etype} ({code}): {message}")
        self.code = code
        self.etype = etype


class RestCatalog(AutoCreate):
    """Catalog over a REST endpoint; same surface as the directory
    :class:`~.catalog.Catalog` so pipelines swap backends by config."""

    def __init__(
        self,
        uri: str,
        token: str | None = None,
        credential: str | None = None,
        timeout: float = 10.0,
    ):
        """``token`` is the protocol's static-Bearer mode
        (``iceberg.catalog.token``); ``credential`` is the OAuth2
        client-credentials mode (``iceberg.catalog.credential``,
        Iceberg's ``client_id:client_secret`` format) — the client
        exchanges it at ``/v1/oauth/tokens`` for the Bearer token it then
        presents, re-fetching once on a 401 (expiry)."""
        self.uri = uri.rstrip("/")
        self.token = token
        self.credential = credential
        self.timeout = timeout
        if credential is not None and token is None:
            self.token = self._fetch_oauth_token()
        # config handshake — also the reachability probe build() relies on
        self.config = self._request("GET", "/v1/config")

    # ------------------------------------------------------------ transport
    def _fetch_oauth_token(self) -> str:
        cid, _, secret = (self.credential or "").partition(":")
        form = urllib.parse.urlencode(
            {
                "grant_type": "client_credentials",
                "client_id": cid,
                "client_secret": secret,
                "scope": "catalog",
            }
        ).encode()
        req = urllib.request.Request(
            self.uri + "/v1/oauth/tokens",
            method="POST",
            data=form,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read())["access_token"]
        except urllib.error.HTTPError as e:
            raw = e.read()
            try:
                err = json.loads(raw)
            except Exception:
                err = {"error": "HTTPError", "error_description": raw.decode(errors="replace")}
            raise RestCatalogError(
                e.code,
                err.get("error", "HTTPError"),
                err.get("error_description", ""),
            ) from None

    def _request(
        self, method: str, path: str, body: dict | None = None
    ) -> dict:
        for attempt in range(2):
            req = urllib.request.Request(
                self.uri + path,
                method=method,
                data=None if body is None else json.dumps(body).encode(),
                headers={
                    "Content-Type": "application/json",
                    **(
                        {"Authorization": f"Bearer {self.token}"}
                        if self.token
                        else {}
                    ),
                },
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    raw = resp.read()
                    return json.loads(raw) if raw else {}
            except urllib.error.HTTPError as e:
                raw = e.read()
                try:
                    err = json.loads(raw)["error"]
                except Exception:
                    err = {
                        "message": raw.decode(errors="replace"),
                        "type": "HTTPError",
                    }
                # an issued token can expire mid-session: re-fetch ONCE
                # through the credential and replay the request
                if e.code == 401 and self.credential and attempt == 0:
                    self.token = self._fetch_oauth_token()
                    continue
                raise RestCatalogError(
                    e.code, err.get("type", "HTTPError"), err.get("message", "")
                ) from None
        raise AssertionError("unreachable")  # pragma: no cover

    @staticmethod
    def _ident(name: str) -> tuple[str, str]:
        """(dotted namespace, table): the namespace may be multi-level
        ("a.b.c.t" → ns "a.b.c")."""
        parts = name.split(".")
        if len(parts) == 1:
            parts = ["default", parts[0]]
        return ".".join(parts[:-1]), parts[-1]

    def _table_path(self, name: str) -> str:
        ns, t = self._ident(name)
        return f"/v1/namespaces/{quote(ns)}/tables/{quote(t)}"

    def _ensure_namespace(self, ns: str) -> None:
        try:
            self._request(
                "POST",
                "/v1/namespaces",
                {"namespace": ns.split("."), "properties": {}},
            )
        except RestCatalogError as e:
            if e.code != 409:  # already exists is fine
                raise

    # -------------------------------------------------------------- surface
    def list_namespaces(self, parent: str | None = None) -> list[str]:
        """One level, spec semantics: top-level namespaces, or ``parent``'s
        direct children (dotted names either way)."""
        path = "/v1/namespaces"
        if parent:
            path += "?parent=" + quote(parent.replace(".", "\x1f"))
        out = self._request("GET", path)
        return [".".join(n) for n in out.get("namespaces", [])]

    def all_namespaces(self) -> list[str]:
        """Every namespace at every depth (breadth-first over the
        level-at-a-time listing)."""
        found: list[str] = []
        queue: list[str | None] = [None]
        while queue:
            for ns in self.list_namespaces(queue.pop(0)):
                found.append(ns)
                queue.append(ns)
        return sorted(found)

    def list_tables(self) -> list[str]:
        names = []
        for ns in self.all_namespaces():
            out = self._request(
                "GET", f"/v1/namespaces/{quote(ns)}/tables"
            )
            names += [
                f"{ns}.{i['name']}" for i in out.get("identifiers", [])
            ]
        return sorted(names)

    def table_exists(self, name: str) -> bool:
        try:
            self._request("HEAD", self._table_path(name))
            return True
        except RestCatalogError as e:
            if e.code == 404:
                return False
            raise

    def load_table(self, name: str) -> LakehouseTable:
        """loadTable → open the table at the metadata's ``location`` on
        shared storage (the REST split: pointer from the catalog, IO
        direct)."""
        try:
            out = self._request("GET", self._table_path(name))
        except RestCatalogError as e:
            if e.code == 404:
                raise NoSuchTableError(name) from None
            raise
        loc = _uri_to_path(out["metadata"]["location"])
        return LakehouseTable(loc)

    def load_table_metadata(self, name: str) -> tuple[str, dict]:
        """(metadata-location, Iceberg v2 metadata JSON) — the raw
        LoadTableResult, for clients that consume spec metadata instead of
        opening the Lakehouse table (e.g. feeding
        ``iceberg_import.import_iceberg_table`` on another cluster)."""
        out = self._request("GET", self._table_path(name))
        return _uri_to_path(out["metadata-location"]), out["metadata"]

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | str | None = None,
        properties: dict | None = None,
        identifier_fields: list[str] | None = None,
    ) -> LakehouseTable:
        from .iceberg_export import iceberg_schema
        from .spec import parse_partition_spec

        ns, t = self._ident(name)
        self._ensure_namespace(ns)
        schema_json, _ = iceberg_schema(schema)
        name_ids = {f["name"]: f["id"] for f in schema_json["fields"]}
        if identifier_fields:
            schema_json["identifier-field-ids"] = [
                name_ids[c] for c in identifier_fields
            ]
        spec_fields = []
        for i, pf in enumerate(parse_partition_spec(partition_by)):
            if pf.source not in name_ids:
                raise ValueError(f"partition source {pf.source!r} not in schema")
            transform = {
                "identity": "identity",
                "year": "year",
                "month": "month",
                "day": "day",
                "hour": "hour",
                "iceberg_bucket": f"bucket[{pf.param}]",
                "truncate": f"truncate[{pf.param}]",
            }.get(pf.transform)
            if transform is None:
                # xxhash64 bucket is not an Iceberg spec transform — the
                # REST protocol can only carry spec transforms
                raise ValueError(
                    f"transform {pf.transform!r} has no Iceberg spec form; "
                    "use iceberg_bucket(n, col) for REST-created tables"
                )
            spec_fields.append(
                {
                    "source-id": name_ids[pf.source],
                    "field-id": 1000 + i,
                    "name": pf.name,
                    "transform": transform,
                }
            )
        body = {
            "name": t,
            "schema": schema_json,
            "properties": dict(properties or {}),
        }
        if spec_fields:
            body["partition-spec"] = {"spec-id": 0, "fields": spec_fields}
        try:
            out = self._request(
                "POST", f"/v1/namespaces/{quote(ns)}/tables", body
            )
        except RestCatalogError as e:
            if e.code == 409:
                raise TableAlreadyExistsError(name) from None
            raise
        return LakehouseTable(_uri_to_path(out["metadata"]["location"]))

    def register_table(
        self, name: str, metadata_location: str
    ) -> LakehouseTable:
        """Iceberg ``registerTable`` over the spec endpoint
        (``POST /v1/namespaces/{ns}/register``): adopt an existing
        Iceberg metadata tree into the catalog, zero data copy."""
        ns, t = self._ident(name)
        self._ensure_namespace(ns)
        try:
            out = self._request(
                "POST",
                f"/v1/namespaces/{quote(ns)}/register",
                {"name": t, "metadata-location": metadata_location},
            )
        except RestCatalogError as e:
            if e.code == 409:
                raise TableAlreadyExistsError(name) from None
            raise
        return LakehouseTable(_uri_to_path(out["metadata"]["location"]))

    def drop_table(self, name: str, purge: bool = True) -> None:
        if not purge:
            raise ValueError("purge=False is not supported over REST here")
        try:
            self._request(
                "DELETE", self._table_path(name) + "?purgeRequested=true"
            )
        except RestCatalogError as e:
            if e.code == 404:
                raise NoSuchTableError(name) from None
            raise

    def rename_table(self, src: str, dst: str) -> LakehouseTable:
        sns, st = self._ident(src)
        dns, dt = self._ident(dst)
        self._ensure_namespace(dns)
        try:
            self._request(
                "POST",
                "/v1/tables/rename",
                {
                    "source": {"namespace": sns.split("."), "name": st},
                    "destination": {"namespace": dns.split("."), "name": dt},
                },
            )
        except RestCatalogError as e:
            if e.code == 404:
                raise NoSuchTableError(src) from None
            if e.code == 409:
                raise TableAlreadyExistsError(dst) from None
            raise
        return self.load_table(dst)

    # -------------------------------------------------- catalog-side commits
    def _commit(
        self,
        name: str,
        updates: list[dict],
        requirements: list[dict] | None = None,
        retries: int = 3,
    ) -> dict:
        last: RestCatalogError | None = None
        for attempt in range(retries):
            reqs = requirements
            if reqs is None:
                # default optimistic guard: same table identity
                _, meta = self.load_table_metadata(name)
                reqs = [
                    {"type": "assert-table-uuid", "uuid": meta["table-uuid"]}
                ]
            try:
                return self._request(
                    "POST",
                    self._table_path(name),
                    {"requirements": reqs, "updates": updates},
                )
            except RestCatalogError as e:
                if e.code != 409:
                    raise
                last = e
                if attempt == retries - 1:
                    break
                time.sleep(0.05 * (attempt + 1))
        raise RestCommitFailed(str(last) if last else "commit rejected")

    def set_properties(self, name: str, props: dict[str, str | None]) -> None:
        """updateProperties through the catalog (set, or None-valued unset),
        under the protocol's uuid requirement."""
        sets = {k: str(v) for k, v in props.items() if v is not None}
        removes = [k for k, v in props.items() if v is None]
        updates: list[dict] = []
        if sets:
            updates.append({"action": "set-properties", "updates": sets})
        if removes:
            updates.append({"action": "remove-properties", "removals": removes})
        if updates:
            self._commit(name, updates)

    def set_ref(
        self,
        name: str,
        ref: str,
        snapshot_id: int,
        ref_type: str = "branch",
        expected_snapshot_id: int | None = ...,  # type: ignore[assignment]
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> None:
        """``set-snapshot-ref`` with compare-and-swap: the commit carries
        ``assert-ref-snapshot-id`` so a concurrently-moved ref is a clean
        409, not a lost update. ``expected_snapshot_id``: the int
        snapshot-id the ref must currently hold (None = must not exist;
        omit for unconditional). The optional spec retention fields
        (max-ref-age-ms / min-snapshots-to-keep / max-snapshot-age-ms)
        ride the same update, as in the protocol."""
        reqs: list[dict] | None = None
        if expected_snapshot_id is not ...:
            reqs = [
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": ref,
                    "snapshot-id": expected_snapshot_id,
                }
            ]
        update = {
            "action": "set-snapshot-ref",
            "ref-name": ref,
            "snapshot-id": snapshot_id,
            "type": ref_type,
        }
        for k, v in (
            ("max-ref-age-ms", max_ref_age_ms),
            ("min-snapshots-to-keep", min_snapshots_to_keep),
            ("max-snapshot-age-ms", max_snapshot_age_ms),
        ):
            if v is not None:
                update[k] = int(v)
        self._commit(
            name,
            [update],
            requirements=reqs,
            retries=1 if reqs else 3,
        )

    def commit_transaction(
        self,
        changes: list[tuple[str, list[dict], list[dict] | None]],
    ) -> None:
        """Multi-table transaction (``POST /v1/transactions/commit``):
        ``changes`` is a list of (table name, updates, requirements).
        The server validates EVERY table's requirements and updates
        before applying any — a stale CAS or malformed update anywhere
        rejects the whole transaction (409/400) with nothing written.
        (Exception: an out-of-band storage-side conflict DURING apply
        returns 409 with an already-applied prefix committed — reload
        the tables and reconcile before retrying.)"""
        table_changes = []
        for name, updates, reqs in changes:
            ns, t = self._ident(name)
            table_changes.append(
                {
                    "identifier": {"namespace": ns.split("."), "name": t},
                    "requirements": reqs or [],
                    "updates": updates,
                }
            )
        try:
            self._request(
                "POST",
                "/v1/transactions/commit",
                {"table-changes": table_changes},
            )
        except RestCatalogError as e:
            if e.code == 409:
                raise RestCommitFailed(str(e)) from None
            raise

    def _current_served_schema(self, name: str) -> dict:
        _, meta = self.load_table_metadata(name)
        # schema-id is an ID, not a list position — an evolved external
        # table's schemas list is neither dense nor id-ordered
        cur = meta["current-schema-id"]
        return next(
            s for s in meta["schemas"] if s.get("schema-id") == cur
        )

    def _post_schema(self, name: str, schema_json: dict) -> None:
        self._commit(
            name,
            [
                {"action": "add-schema", "schema": schema_json},
                {"action": "set-current-schema", "schema-id": -1},
            ],
        )

    @staticmethod
    def _max_field_id(node) -> int:
        """Highest field id anywhere in an Iceberg schema/type JSON node."""
        m = 0
        if isinstance(node, dict):
            for k in ("id", "element-id", "key-id", "value-id"):
                if isinstance(node.get(k), int):
                    m = max(m, node[k])
            for k in ("fields", "element", "key", "value", "type"):
                v = node.get(k)
                if isinstance(v, list):
                    for c in v:
                        m = max(m, RestCatalog._max_field_id(c))
                elif isinstance(v, dict):
                    m = max(m, RestCatalog._max_field_id(v))
        return m

    @staticmethod
    def _renumber(t, alloc):
        """Fresh ids for a new column's entire subtree — draft ids from
        iceberg_schema are positional and would collide with served ids."""
        if isinstance(t, dict) and t.get("type") == "struct":
            return {
                **t,
                "fields": [
                    {
                        **f,
                        "id": alloc(),
                        "type": RestCatalog._renumber(f["type"], alloc),
                    }
                    for f in t["fields"]
                ],
            }
        if isinstance(t, dict) and t.get("type") == "list":
            return {
                **t,
                "element-id": alloc(),
                "element": RestCatalog._renumber(t["element"], alloc),
            }
        if isinstance(t, dict) and t.get("type") == "map":
            return {
                **t,
                "key-id": alloc(),
                "value-id": alloc(),
                "key": RestCatalog._renumber(t["key"], alloc),
                "value": RestCatalog._renumber(t["value"], alloc),
            }
        return t

    @staticmethod
    def _merge_type(served_t, draft_t, alloc):
        """Draft type merged onto the served one: existing nested fields
        keep their served ids (matched by name), new nested fields get
        fresh ids, primitive positions take the draft's (widenings pass
        through to the server's evolve)."""
        if (
            isinstance(served_t, dict)
            and isinstance(draft_t, dict)
            and served_t.get("type") == draft_t.get("type") == "struct"
        ):
            by_name = {f["name"]: f for f in served_t["fields"]}
            out = []
            for f in draft_t["fields"]:
                sf = by_name.get(f["name"])
                if sf is None:
                    out.append(
                        {
                            **f,
                            "id": alloc(),
                            "type": RestCatalog._renumber(f["type"], alloc),
                        }
                    )
                else:
                    out.append(
                        {
                            **sf,
                            "type": RestCatalog._merge_type(
                                sf["type"], f["type"], alloc
                            ),
                        }
                    )
            return {**served_t, "fields": out}
        if (
            isinstance(served_t, dict)
            and isinstance(draft_t, dict)
            and served_t.get("type") == draft_t.get("type") == "list"
        ):
            return {
                **served_t,
                "element": RestCatalog._merge_type(
                    served_t["element"], draft_t["element"], alloc
                ),
            }
        if (
            isinstance(served_t, dict)
            and isinstance(draft_t, dict)
            and served_t.get("type") == draft_t.get("type") == "map"
        ):
            return {
                **served_t,
                "key": RestCatalog._merge_type(
                    served_t["key"], draft_t["key"], alloc
                ),
                "value": RestCatalog._merge_type(
                    served_t["value"], draft_t["value"], alloc
                ),
            }
        return draft_t if isinstance(draft_t, str) else served_t

    def update_schema(self, name: str, schema: T.StructType) -> None:
        """Additive schema evolution through the commit endpoint
        (``add-schema`` + ``set-current-schema``). Existing columns —
        including fields inside existing structs — keep their served
        field ids; new columns and new nested fields get fresh ids past
        BOTH the served schema's max and the metadata's last-column-id
        (Iceberg forbids reusing a dropped column's id: old files would
        resolve the dead column's data into the new field)."""
        from .iceberg_export import iceberg_schema

        loc_meta = self.load_table_metadata(name)[1]
        cur = loc_meta["current-schema-id"]
        served = next(
            s for s in loc_meta["schemas"] if s.get("schema-id") == cur
        )
        by_name = {f["name"]: f for f in served["fields"]}
        counter = [
            max(
                self._max_field_id(served),
                int(loc_meta.get("last-column-id") or 0),
            )
        ]

        def alloc() -> int:
            counter[0] += 1
            return counter[0]

        draft, _ = iceberg_schema(schema)
        fields = []
        for f in draft["fields"]:
            if f["name"] in by_name:
                served_f = by_name[f["name"]]
                fields.append(
                    {
                        **served_f,
                        "type": self._merge_type(
                            served_f["type"], f["type"], alloc
                        ),
                    }
                )
            else:
                fields.append(
                    {
                        **f,
                        "id": alloc(),
                        "type": self._renumber(f["type"], alloc),
                    }
                )
        self._post_schema(name, {**served, "fields": fields})

    def rename_column(self, name: str, old: str, new: str) -> None:
        """Iceberg ``updateSchema().renameColumn`` over REST: same field
        id, new name — the server reads it as a rename, and old data
        files keep resolving through the exported name mapping."""
        served = self._current_served_schema(name)
        if old not in {f["name"] for f in served["fields"]}:
            raise ValueError(f"no such column {old!r}")
        fields = [
            {**f, "name": new} if f["name"] == old else f
            for f in served["fields"]
        ]
        self._post_schema(name, {**served, "fields": fields})

    def drop_column(self, name: str, col: str) -> None:
        """Iceberg ``updateSchema().deleteColumn`` over REST: the field id
        disappears from the posted schema."""
        served = self._current_served_schema(name)
        if col not in {f["name"] for f in served["fields"]}:
            raise ValueError(f"no such column {col!r}")
        fields = [f for f in served["fields"] if f["name"] != col]
        self._post_schema(name, {**served, "fields": fields})

    def update_spec(
        self, name: str, partition_by: list[str] | str | None
    ) -> None:
        """Partition-spec evolution through the commit endpoint
        (``add-spec`` + ``set-default-spec``); affects future writes, like
        Iceberg spec evolution."""
        from .iceberg_export import iceberg_schema
        from .spec import parse_partition_spec

        name_ids = {
            f["name"]: f["id"]
            for f in self._current_served_schema(name)["fields"]
        }
        fields = []
        for i, pf in enumerate(parse_partition_spec(partition_by)):
            transform = {
                "identity": "identity",
                "year": "year",
                "month": "month",
                "day": "day",
                "hour": "hour",
                "iceberg_bucket": f"bucket[{pf.param}]",
                "truncate": f"truncate[{pf.param}]",
            }.get(pf.transform)
            if transform is None or pf.source not in name_ids:
                raise ValueError(
                    f"cannot express {pf.transform}({pf.source}) as an "
                    "Iceberg spec transform over the current schema"
                )
            fields.append(
                {
                    "source-id": name_ids[pf.source],
                    "field-id": 1000 + i,
                    "name": pf.name,
                    "transform": transform,
                }
            )
        self._commit(
            name,
            [
                {"action": "add-spec", "spec": {"spec-id": -1, "fields": fields}},
                {"action": "set-default-spec", "spec-id": -1},
            ],
        )

    def register_views(self, spark, prefix: str = "") -> list[str]:
        registered = []
        for name in self.list_tables():
            view = (prefix + name).replace(".", "_")
            self.load_table(name).read(spark).createOrReplaceTempView(view)
            registered.append(view)
        return registered

    # --------------------------------------------------------- SQL views
    def _view_path(self, name: str) -> str:
        ns, v = self._ident(name)
        return f"/v1/namespaces/{quote(ns)}/views/{quote(v)}"

    def create_view(
        self,
        name: str,
        sql: str,
        schema: T.StructType | None = None,
        dialect: str = "spark",
        properties: dict | None = None,
    ) -> dict:
        """createView (public REST spec): the view-version carries the SQL
        representation; an optional Spark schema is sent in Iceberg form."""
        from .iceberg_export import iceberg_schema
        from .views import sql_view_version

        ns, v = self._ident(name)
        self._ensure_namespace(ns)
        schema_json: dict = {"type": "struct", "schema-id": 0, "fields": []}
        if schema is not None:
            schema_json, _ = iceberg_schema(schema)
            schema_json["schema-id"] = 0
        out = self._request(
            "POST",
            f"/v1/namespaces/{quote(ns)}/views",
            {
                "name": v,
                "schema": schema_json,
                "view-version": sql_view_version(
                    sql, dialect=dialect, default_namespace=ns.split(".")
                ),
                "properties": properties or {},
            },
        )
        return out["metadata"]

    def load_view(self, name: str) -> tuple[str, dict]:
        out = self._request("GET", self._view_path(name))
        return out["metadata-location"], out["metadata"]

    def view_exists(self, name: str) -> bool:
        try:
            self._request("HEAD", self._view_path(name))
            return True
        except RestCatalogError as e:
            if e.code == 404:
                return False
            raise

    def drop_view(self, name: str) -> None:
        self._request("DELETE", self._view_path(name))

    def list_views(self, namespace: str = "default") -> list[str]:
        out = self._request(
            "GET", f"/v1/namespaces/{quote(namespace)}/views"
        )
        return [
            ".".join([*i["namespace"], i["name"]])
            for i in out.get("identifiers", [])
        ]

    def rename_view(self, src: str, dst: str) -> None:
        sns, sv = self._ident(src)
        dns, dv = self._ident(dst)
        self._request(
            "POST",
            "/v1/views/rename",
            {
                "source": {"namespace": sns.split("."), "name": sv},
                "destination": {"namespace": dns.split("."), "name": dv},
            },
        )

    def replace_view(
        self, name: str, sql: str, dialect: str = "spark"
    ) -> dict:
        """The spec's replace-view flow in one commit: assert-view-uuid,
        add-view-version, set-current-view-version -1."""
        from .views import sql_view_version

        _, meta = self.load_view(name)
        ns, _v = self._ident(name)
        out = self._request(
            "POST",
            self._view_path(name),
            {
                "requirements": [
                    {"type": "assert-view-uuid", "uuid": meta["view-uuid"]}
                ],
                "updates": [
                    {
                        "action": "add-view-version",
                        "view-version": sql_view_version(
                            sql,
                            dialect=dialect,
                            default_namespace=ns.split("."),
                        ),
                    },
                    {
                        "action": "set-current-view-version",
                        "view-version-id": -1,
                    },
                ],
            },
        )
        return out["metadata"]

    def _all_view_names(self) -> list[str]:
        out: list[str] = []
        for ns in self.all_namespaces():
            out.extend(self.list_views(ns))
        return out

    def read_view(self, spark, name: str):
        """Execute the view's current SQL against the catalog's tables
        (registered as ``db_t`` temp views — the same naming
        ``register_views`` gives interactive users). Only referenced
        relations are registered; views over views resolve recursively
        (cycle → ViewCycleError)."""
        from .views import ViewStore, register_relations

        _, meta = self.load_view(name)
        sql = ViewStore.current_sql(meta, dialect="spark")
        register_relations(
            spark,
            sql,
            list_tables=self.list_tables,
            read_table=lambda t: self.load_table(t).read(spark),
            view_names=self._all_view_names,
            view_sql=lambda v: ViewStore.current_sql(
                self.load_view(v)[1], dialect="spark"
            ),
            _stack=(name,),
        )
        return spark.sql(sql)


def build_rest_catalog(
    uri: str, token: str | None = None, credential: str | None = None
) -> RestCatalog:
    """Probe-and-build for :meth:`CatalogSpec.build`: an unreachable
    endpoint stays an :class:`UnsupportedCatalogError` (the pre-existing
    contract for missing runtimes), a reachable one returns a live
    catalog."""
    try:
        return RestCatalog(uri, token=token, credential=credential)
    except (urllib.error.URLError, OSError, TimeoutError) as e:
        raise UnsupportedCatalogError(
            f"rest catalog at {uri!r} is unreachable in this deployment: "
            f"{e}"
        ) from None
