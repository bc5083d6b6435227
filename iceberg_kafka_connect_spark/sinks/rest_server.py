"""Iceberg REST catalog server — serve the warehouse over the public
REST catalog API.

Reference parity: the reference builds a ``RESTCatalog`` whenever the
connector config says ``iceberg.catalog.type=rest``
(data/Utilities.java:68-121 → Iceberg ``CatalogUtil.buildIcebergCatalog``),
and every managed deployment of the reference fronts its warehouse with a
REST catalog service. This module is the service side: a dependency-free
(stdlib ``http.server``) implementation of the Iceberg REST Catalog
OpenAPI surface (public spec: ``rest-catalog-open-api.yaml`` in
apache/iceberg) over a directory warehouse:

- ``GET  /v1/config`` — catalog config handshake
- ``GET/POST /v1/namespaces``, ``GET/HEAD/DELETE /v1/namespaces/{ns}``
- ``GET/POST /v1/namespaces/{ns}/tables`` — list / create
- ``GET/HEAD/DELETE /v1/namespaces/{ns}/tables/{t}`` — load / exists / drop
- ``POST /v1/namespaces/{ns}/tables/{t}`` — commit (requirements + updates)
- ``POST /v1/tables/rename``

``loadTable`` responses carry REAL Iceberg v2 metadata: the server keeps a
per-table export (``iceberg_export.export_iceberg_metadata``) current with
the Lakehouse table version and serves that ``metadata.json`` verbatim, so
any spec-conformant client — not just this package's ``RestCatalog`` —
can read the returned ``metadata-location``/``metadata`` and scan the data
files directly from shared storage, exactly the split the REST protocol
prescribes (catalog arbitrates metadata pointers; data IO goes straight to
storage).

The commit endpoint implements the protocol's optimistic-concurrency
contract: requirements (``assert-create`` / ``assert-table-uuid`` /
``assert-ref-snapshot-id``) are checked under a per-table lock and a
failed check returns the spec's 409 ``CommitFailedException`` shape, so a
client that lost the race retries against fresh metadata. Commits are
ATOMIC: every update in the body is validated and prepared before any
applies, so a malformed update rejects the whole commit with nothing
written. Supported updates cover both the pointer operations
(``set-properties`` / ``remove-properties`` / ``set-snapshot-ref`` /
``remove-snapshot-ref`` / ``add-schema`` / ``add-spec``) AND the
protocol's write side: ``add-snapshot`` adopts a snapshot an external
spec-conformant writer produced (data files + Avro manifests + manifest
list written against the served metadata) as one native commit — paired
with ``set-snapshot-ref`` it lands on that branch; unpaired it stages
WAP-style on a hidden ``rest-staged-<id>`` branch until a later commit
publishes it. ``remove-snapshots`` retires unreferenced (orphaned)
snapshots; referenced history goes through expireSnapshots. The writer's
assigned snapshot id round-trips: the exporter serves the snapshot back
under exactly the id the client committed (``rest.assigned-id``).

Scale note: the server only ever touches metadata — listing, pointer CAS,
and O(live files) export on table-version change. No data IO, no Spark
session; a single instance fronts any number of concurrently-committing
writers the same way Iceberg's REST catalog does.
"""

from __future__ import annotations

import contextlib
import hmac
import json
import os
import re
import threading
import time
from http.server import ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse
from uuid import uuid4

from ..background import BackgroundServer, JsonHandler
from .catalog import Catalog, NoSuchTableError, TableAlreadyExistsError
from .iceberg_export import (
    STAGED_REF_PREFIX,
    _export_snapshot_id,
    export_iceberg_metadata,
)
from .table import MAIN, CommitConflict


def _int_id_map(meta: dict) -> dict[int, str]:
    """Exported int snapshot id → internal hex id. Uses the same id
    derivation the exporter serves (``rest.assigned-id`` aware), so the
    ids a client read from loadTable resolve here."""
    return {
        _export_snapshot_id(s): s["snapshot_id"]
        for s in meta.get("snapshots", [])
    }

# multipart namespaces are joined with the unit separator (0x1F) in URLs,
# per the REST spec's `namespace` path-param encoding
_NS_SEP = "\x1f"


class RestError(Exception):
    def __init__(self, code: int, etype: str, message: str):
        super().__init__(message)
        self.code = code
        self.etype = etype
        self.message = message


def _err(code: int, etype: str, message: str) -> RestError:
    return RestError(code, etype, message)


def _ct_eq(a: str | None, b: str | None) -> bool:
    """Timing-independent string equality for tokens and client secrets
    (RFC 6749 §10.2's credential-guessing hardening; ordinary ``==`` leaks
    match length through comparison time)."""
    if a is None or b is None:
        return False
    return hmac.compare_digest(a.encode(), b.encode())


# ------------------------------------------------------------ spec → DSL
def _ice_spec_to_dsl(
    spec_json: dict | None, id_names: dict[int, str]
) -> list[str]:
    """Posted Iceberg partition-spec JSON → this package's spec-DSL strings
    (the inverse of the client's DSL → spec translation; same transform
    subset as ``iceberg_import.import_iceberg_table``)."""
    if not spec_json or not spec_json.get("fields"):
        return []
    out = []
    for pf in spec_json["fields"]:
        src = id_names.get(pf.get("source-id"))
        transform = pf.get("transform", "")
        if src is None:
            raise _err(
                400,
                "BadRequestException",
                f"partition source-id {pf.get('source-id')} is not a "
                "top-level schema field",
            )
        if transform == "identity":
            out.append(src)
        elif transform in ("year", "month", "day", "hour"):
            out.append(f"{transform}({src})")
        elif m := re.fullmatch(r"bucket\[(\d+)\]", transform):
            out.append(f"iceberg_bucket({m.group(1)}, {src})")
        elif m := re.fullmatch(r"truncate\[(\d+)\]", transform):
            out.append(f"truncate({m.group(1)}, {src})")
        else:
            raise _err(
                400,
                "BadRequestException",
                f"unsupported partition transform {transform!r}",
            )
    return out


class _State:
    """Server-side warehouse state shared across handler threads."""

    def __init__(self, warehouse: str):
        self.catalog = Catalog(warehouse)
        self.lock = threading.Lock()  # guards _table_locks / _meta_cache
        self._table_locks: dict[str, threading.Lock] = {}
        # table name -> (lakehouse version, served metadata.json path)
        self._meta_cache: dict[str, tuple[int, str]] = {}
        # OAuth2 client-credentials tokens: token -> expiry epoch-seconds
        self.issued_tokens: dict[str, float] = {}

    def table_lock(self, name: str) -> threading.Lock:
        with self.lock:
            return self._table_locks.setdefault(name, threading.Lock())

    # ---------------------------------------------------------- metadata
    def current_metadata(self, name: str) -> tuple[str, dict]:
        """(metadata-location, metadata JSON) for the table's CURRENT
        version — re-export only when the Lakehouse version moved."""
        table = self.catalog.load_table(name)
        v = table.current_version()
        with self.lock:
            cached = self._meta_cache.get(name)
        if cached is None or cached[0] != v or not os.path.isfile(cached[1]):
            path = export_iceberg_metadata(table)
            with self.lock:
                self._meta_cache[name] = (v, path)
        else:
            path = cached[1]
        with open(path) as f:
            return path, json.load(f)

    def invalidate(self, name: str) -> None:
        with self.lock:
            self._meta_cache.pop(name, None)

    # --------------------------------------------------------- namespaces
    def ns_dir(self, ns: str) -> str:
        return os.path.join(self.catalog.warehouse, *ns.split("."))

    def ns_exists(self, ns: str) -> bool:
        return os.path.isdir(self.ns_dir(ns))

    def ns_properties(self, ns: str) -> dict:
        p = os.path.join(self.ns_dir(ns), ".namespace.json")
        if os.path.isfile(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def list_namespaces(self) -> list[list[str]]:
        """Every namespace at any depth (multi-level Iceberg namespaces):
        a namespace dir is any non-hidden dir under the warehouse that is
        not itself a table root, excluding table internals."""
        from .table import LakehouseTable

        wh = self.catalog.warehouse
        out: list[list[str]] = []
        for dirpath, dirnames, _ in os.walk(wh):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            if dirpath != wh and LakehouseTable.exists(dirpath):
                dirnames.clear()  # table internals are not namespaces
                continue
            if dirpath != wh:
                out.append(
                    os.path.relpath(dirpath, wh).split(os.sep)
                )
        return sorted(out)


def _ns_levels(ns_raw: str) -> list[str]:
    """URL namespace segment → levels. The spec joins multipart namespaces
    with the unit separator (0x1F); dotted form is accepted too since a
    level can never contain '.' here (it is the level separator in table
    identifiers)."""
    ns = unquote(ns_raw)
    parts = [p for seg in ns.split(_NS_SEP) for p in seg.split(".")]
    if not parts:
        raise _err(400, "BadRequestException", "empty namespace")
    for p in parts:
        if not re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_\-]*", p):
            raise _err(
                400, "BadRequestException", f"invalid namespace level {p!r}"
            )
    return parts


def _ns_name(levels: list[str]) -> str:
    return ".".join(levels)


class _Handler(JsonHandler):
    # the server instance stuffs these in via type() subclassing
    state: _State = None  # type: ignore[assignment]
    token: str | None = None
    credentials: dict[str, str] | None = None  # client_id -> client_secret
    token_ttl_s: float = 3600.0

    protocol_version = "HTTP/1.1"

    # ------------------------------------------------------------- plumbing
    def _json_body(self) -> dict:
        try:
            return self._body()
        except json.JSONDecodeError as e:
            raise _err(400, "BadRequestException", f"invalid JSON body: {e}")

    def _send_error_obj(self, e: RestError) -> None:
        self._send(
            e.code,
            {
                "error": {
                    "message": e.message,
                    "type": e.etype,
                    "code": e.code,
                }
            },
        )

    def _auth(self) -> None:
        if self.token is None and not self.credentials:
            return
        got = self.headers.get("Authorization", "")
        if self.token is not None and _ct_eq(got, f"Bearer {self.token}"):
            return
        if self.credentials and got.startswith("Bearer "):
            presented = got.removeprefix("Bearer ")
            # constant-time scan: the store is bounded (expired tokens are
            # swept on issue), so O(issued) per request is fine
            exp = next(
                (
                    e
                    for t, e in list(self.state.issued_tokens.items())
                    if _ct_eq(presented, t)
                ),
                None,
            )
            if exp is not None:
                if exp > time.time():
                    return
                # expired: retire so the store stays bounded
                self.state.issued_tokens.pop(presented, None)
                raise _err(
                    401, "NotAuthorizedException", "token expired"
                )
        raise _err(401, "NotAuthorizedException", "invalid or missing token")

    def _oauth_tokens(self) -> None:
        """POST /v1/oauth/tokens — the REST spec's OAuth2 client-credentials
        grant (RFC 6749 §4.4; public ``rest-catalog-open-api.yaml``
        getToken): a configured client exchanges id+secret for the Bearer
        token every other endpoint requires. Errors use the spec's
        OAuthTokenResponse error shape (RFC 6749 §5.2), not the catalog's
        ErrorModel. This endpoint itself is unauthenticated by definition."""
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n).decode() if n else ""
        ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
        if ctype == "application/json":
            try:
                form = {
                    k: [str(v)] for k, v in (json.loads(raw) or {}).items()
                }
            except json.JSONDecodeError:
                form = {}
        else:  # the spec's application/x-www-form-urlencoded
            form = parse_qs(raw)

        def _f(k: str) -> str | None:
            return (form.get(k) or [None])[0]

        def _oauth_err(code: int, error: str, desc: str) -> None:
            self._send(
                code, {"error": error, "error_description": desc}
            )

        if _f("grant_type") != "client_credentials":
            return _oauth_err(
                400,
                "unsupported_grant_type",
                "only client_credentials is supported",
            )
        cid, secret = _f("client_id"), _f("client_secret")
        if not self.credentials:
            return _oauth_err(
                400,
                "invalid_request",
                "this catalog issues no tokens (static-token or open mode)",
            )
        if cid is None or not _ct_eq(self.credentials.get(cid), secret):
            return _oauth_err(
                401, "invalid_client", "unknown client or bad secret"
            )
        tok = f"iks-{uuid4().hex}"
        now = time.time()
        # sweep tokens already past expiry — clients that never re-present
        # their token (one-shot jobs) would otherwise grow the store forever
        for t, exp in list(self.state.issued_tokens.items()):
            if exp <= now:
                self.state.issued_tokens.pop(t, None)
        self.state.issued_tokens[tok] = now + self.token_ttl_s
        return self._send(
            200,
            {
                "access_token": tok,
                "token_type": "bearer",
                "expires_in": int(self.token_ttl_s),
                "issued_token_type": (
                    "urn:ietf:params:oauth:token-type:access_token"
                ),
                "scope": _f("scope") or "catalog",
            },
        )

    # ------------------------------------------------------------- dispatch
    def _route(self):
        u = urlparse(self.path)
        path, q = u.path.rstrip("/"), parse_qs(u.query)
        self._query = q  # list handlers read pageToken/pageSize from here
        if path == "/v1/oauth/tokens" and self.command == "POST":
            return self._oauth_tokens()
        self._auth()
        m = self.command

        if path == "/v1/config" and m == "GET":
            return self._send(200, {"defaults": {}, "overrides": {}})
        if path == "/v1/namespaces":
            if m == "GET":
                # spec semantics: one LEVEL per call — top-level without
                # `parent`, direct children with it
                all_ns = self.state.list_namespaces()
                parent = (q.get("parent") or [None])[0]
                if parent:
                    plv = _ns_levels(parent)
                    if not self.state.ns_exists(_ns_name(plv)):
                        raise _err(
                            404,
                            "NoSuchNamespaceException",
                            f"namespace {_ns_name(plv)!r} not found",
                        )
                    out = [
                        n
                        for n in all_ns
                        if len(n) == len(plv) + 1 and n[: len(plv)] == plv
                    ]
                else:
                    out = [n for n in all_ns if len(n) == 1]
                return self._send(
                    200, self._paginate("namespaces", out)
                )
            if m == "POST":
                return self._create_namespace()
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)", path):
            return self._namespace(_ns_name(_ns_levels(mt.group(1))))
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/properties", path):
            if m == "POST":
                return self._ns_properties_update(
                    _ns_name(_ns_levels(mt.group(1)))
                )
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/tables", path):
            return self._tables(_ns_name(_ns_levels(mt.group(1))))
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/register", path):
            if m == "POST":
                return self._register(_ns_name(_ns_levels(mt.group(1))))
        if mt := re.fullmatch(
            r"/v1/namespaces/([^/]+)/tables/([^/]+)/metrics", path
        ):
            if m == "POST":
                # spec reportMetrics: clients push scan/commit reports;
                # acknowledging is conformant (servers MAY ignore), and a
                # 404 here would error strict clients after every scan
                full = ".".join(
                    [*_ns_levels(mt.group(1)), unquote(mt.group(2))]
                )
                # drain (and validate) the body BEFORE any error return:
                # on HTTP/1.1 keep-alive an unread body desyncs the next
                # request on the connection
                self._json_body()
                if not self.state.catalog.table_exists(full):
                    raise _err(
                        404,
                        "NoSuchTableException",
                        f"table {full!r} not found",
                    )
                return self._send(204)
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/tables/([^/]+)", path):
            return self._table(
                _ns_name(_ns_levels(mt.group(1))), unquote(mt.group(2)), q
            )
        if path == "/v1/tables/rename" and m == "POST":
            return self._rename()
        if path == "/v1/transactions/commit" and m == "POST":
            return self._commit_transaction()
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/views", path):
            return self._views(_ns_name(_ns_levels(mt.group(1))))
        if mt := re.fullmatch(r"/v1/namespaces/([^/]+)/views/([^/]+)", path):
            return self._view(
                _ns_name(_ns_levels(mt.group(1))), unquote(mt.group(2))
            )
        if path == "/v1/views/rename" and m == "POST":
            return self._rename_view()
        raise _err(404, "NoSuchEndpointException", f"{m} {path}")

    # ----------------------------------------------------------- namespaces
    def _create_namespace(self):
        body = self._json_body()
        ns_parts = body.get("namespace") or []
        if not ns_parts:
            raise _err(400, "BadRequestException", "namespace required")
        levels = _ns_levels(_NS_SEP.join(ns_parts))
        ns = _ns_name(levels)
        d = self.state.ns_dir(ns)
        if os.path.isdir(d):
            raise _err(
                409,
                "AlreadyExistsException",
                f"namespace {ns!r} already exists",
            )
        try:
            os.makedirs(d)
        except FileExistsError:
            # two concurrent creates both passed the isdir check; the
            # loser of the mkdir race gets the same 409 a late arrival
            # would (clients treat AlreadyExists as success)
            raise _err(
                409,
                "AlreadyExistsException",
                f"namespace {ns!r} already exists",
            ) from None
        props = body.get("properties") or {}
        if props:
            with open(os.path.join(d, ".namespace.json"), "w") as f:
                json.dump(props, f)
        self._send(200, {"namespace": levels, "properties": props})

    def _namespace(self, ns: str):
        if not self.state.ns_exists(ns):
            raise _err(
                404, "NoSuchNamespaceException", f"namespace {ns!r} not found"
            )
        if self.command in ("GET", "HEAD"):
            return self._send(
                200,
                {
                    "namespace": ns.split("."),
                    "properties": self.state.ns_properties(ns),
                },
            )
        if self.command == "DELETE":
            tables = [
                t
                for t in self.state.catalog.list_tables()
                if t.startswith(ns + ".")
            ]
            lv = ns.split(".")
            children = [
                n
                for n in self.state.list_namespaces()
                if len(n) > len(lv) and n[: len(lv)] == lv
            ]
            if tables or children:
                raise _err(
                    409,
                    "NamespaceNotEmptyException",
                    f"namespace {ns!r} still holds "
                    f"{len(tables)} table(s) / "
                    f"{len(children)} child namespace(s)",
                )
            import shutil

            shutil.rmtree(self.state.ns_dir(ns))
            return self._send(204)
        raise _err(405, "BadRequestException", f"{self.command} on namespace")

    def _ns_properties_update(self, ns: str):
        """Spec endpoint ``POST /v1/namespaces/{ns}/properties``:
        ``{"updates": {...}, "removals": [...]}`` — a key in both is a
        422, per the OpenAPI contract."""
        if not self.state.ns_exists(ns):
            raise _err(
                404, "NoSuchNamespaceException", f"namespace {ns!r} not found"
            )
        body = self._json_body()
        updates = body.get("updates") or {}
        removals = body.get("removals") or []
        both = sorted(set(updates) & set(removals))
        if both:
            raise _err(
                422,
                "UnprocessableEntityException",
                f"keys in both updates and removals: {both}",
            )
        props = self.state.ns_properties(ns)
        removed = [k for k in removals if k in props]
        missing = [k for k in removals if k not in props]
        for k in removed:
            del props[k]
        props.update({k: str(v) for k, v in updates.items()})
        with open(
            os.path.join(self.state.ns_dir(ns), ".namespace.json"), "w"
        ) as f:
            json.dump(props, f)
        self._send(
            200,
            {
                "updated": sorted(updates),
                "removed": removed,
                "missing": missing,
            },
        )

    # --------------------------------------------------------------- tables
    def _tables(self, ns: str):
        if not self.state.ns_exists(ns):
            raise _err(
                404, "NoSuchNamespaceException", f"namespace {ns!r} not found"
            )
        if self.command == "GET":
            idents = [
                {"namespace": ns.split("."), "name": t[len(ns) + 1 :]}
                for t in self.state.catalog.list_tables()
                # direct children only — deeper tables belong to child
                # namespaces (Iceberg listTables semantics)
                if t.startswith(ns + ".") and "." not in t[len(ns) + 1 :]
            ]
            return self._send(200, self._paginate("identifiers", idents))
        if self.command == "POST":
            return self._create_table(ns)
        raise _err(405, "BadRequestException", f"{self.command} on tables")

    def _create_table(self, ns: str):
        from .iceberg_import import iceberg_type_to_spark

        body = self._json_body()
        if (nm0 := body.get("name")) and self._view_store().exists(
            f"{ns}.{nm0}"
        ):
            raise _err(
                409,
                "AlreadyExistsException",
                f"a view named {ns}.{nm0} already exists",
            )
        if body.get("stage-create"):
            raise _err(
                400,
                "BadRequestException",
                "stage-create (transactional create) is not supported",
            )
        name = body.get("name")
        schema_json = body.get("schema")
        if not name or not schema_json:
            raise _err(400, "BadRequestException", "name and schema required")
        full = f"{ns}.{name}"
        if self.state.catalog.table_exists(full):
            raise _err(
                409, "AlreadyExistsException", f"table {full!r} already exists"
            )

        from pyspark.sql import types as T

        id_names: dict[int, str] = {}
        fields = []
        for f in schema_json.get("fields", []):
            id_names[f["id"]] = f["name"]
            fields.append(
                T.StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                )
            )
        schema = T.StructType(fields)
        ident_ids = schema_json.get("identifier-field-ids") or []
        identifier_fields = [
            id_names[i] for i in ident_ids if i in id_names
        ] or None
        partition_by = _ice_spec_to_dsl(body.get("partition-spec"), id_names)
        lock = self.state.table_lock(full)
        with lock:
            try:
                self.state.catalog.create_table(
                    full,
                    schema,
                    partition_by or None,
                    body.get("properties") or None,
                    identifier_fields,
                )
            except (TableAlreadyExistsError, FileExistsError, CommitConflict):
                raise _err(
                    409,
                    "AlreadyExistsException",
                    f"table {full!r} already exists",
                )
            loc, meta = self.state.current_metadata(full)
        self._send(
            200,
            {
                "metadata-location": f"file://{loc}",
                "metadata": meta,
                "config": {},
            },
        )

    def _register(self, ns: str):
        """``registerTable``: adopt an existing Iceberg metadata tree
        (spec endpoint ``POST /v1/{prefix}/namespaces/{ns}/register``)."""
        body = self._json_body()
        name = body.get("name")
        loc = body.get("metadata-location")
        if not name or not loc:
            raise _err(
                400,
                "BadRequestException",
                "name and metadata-location required",
            )
        full = f"{ns}.{name}"
        for prefix in ("file://", "file:"):
            if loc.startswith(prefix):
                loc = loc[len(prefix) :]
                break
        lock = self.state.table_lock(full)
        with lock:
            try:
                self.state.catalog.register_table(full, loc)
            except TableAlreadyExistsError:
                raise _err(
                    409,
                    "AlreadyExistsException",
                    f"table {full!r} already exists",
                )
            except Exception as e:
                raise _err(
                    400,
                    "BadRequestException",
                    f"cannot register {loc!r}: {type(e).__name__}: {e}",
                )
            mloc, meta = self.state.current_metadata(full)
        self._send(
            200,
            {
                "metadata-location": f"file://{mloc}",
                "metadata": meta,
                "config": {},
            },
        )

    def _paginate(self, key: str, items: list) -> dict:
        """Spec list pagination: an opaque ``pageToken`` (here: the start
        index) plus ``pageSize`` window over the deterministic full list;
        ``next-page-token`` rides the response while items remain. Without
        ``pageSize`` the full list returns in one page, exactly like a
        server that does not paginate — clients per the spec treat the
        absent token as end-of-listing."""
        q = getattr(self, "_query", {}) or {}
        try:
            start = int((q.get("pageToken") or ["0"])[0])
            size = int((q.get("pageSize") or ["0"])[0])
        except ValueError:
            raise _err(
                400, "BadRequestException", "malformed pageToken/pageSize"
            )
        if start < 0 or size < 0:
            # a negative start would flow into Python negative slicing and
            # silently skip entries; negative size is equally malformed
            raise _err(
                400, "BadRequestException", "malformed pageToken/pageSize"
            )
        if size == 0:
            if start == 0:
                return {key: items}
            # resuming with only the server-issued token (pageSize is an
            # optional bound a client may omit): serve the remainder —
            # restarting from 0 would hand the client duplicate entries
            return {key: items[start:]}
        page = items[start : start + size]
        out = {key: page}
        if start + size < len(items):
            out["next-page-token"] = str(start + size)
        return out

    def _table(self, ns: str, name: str, q: dict):
        full = f"{ns}.{name}"
        if self.command in ("GET", "HEAD"):
            if not self.state.catalog.table_exists(full):
                raise _err(
                    404, "NoSuchTableException", f"table {full!r} not found"
                )
            if self.command == "HEAD":
                return self._send(200)
            loc, meta = self.state.current_metadata(full)
            # spec `snapshots` param: "all" (default) serves every
            # snapshot; "refs" trims to those reachable from a ref or tag
            # by parent links — what engines ask for when they only plan
            # current reads and want O(refs) metadata, not O(history)
            mode = (q.get("snapshots") or ["all"])[0].lower()
            if mode == "refs" and meta.get("snapshots"):
                by_id = {
                    s["snapshot-id"]: s for s in meta["snapshots"]
                }
                keep: set[int] = set()
                heads = [
                    r.get("snapshot-id")
                    for r in (meta.get("refs") or {}).values()
                ]
                for head in heads:
                    cur = head
                    while cur in by_id and cur not in keep:
                        keep.add(cur)
                        cur = by_id[cur].get("parent-snapshot-id")
                meta = dict(
                    meta,
                    snapshots=[
                        s
                        for s in meta["snapshots"]
                        if s["snapshot-id"] in keep
                    ],
                )
            return self._send(
                200,
                {
                    "metadata-location": f"file://{loc}",
                    "metadata": meta,
                    "config": {},
                },
            )
        if self.command == "DELETE":
            try:
                self.state.catalog.drop_table(full, purge=True)
            except NoSuchTableError:
                raise _err(
                    404, "NoSuchTableException", f"table {full!r} not found"
                )
            self.state.invalidate(full)
            return self._send(204)
        if self.command == "POST":
            return self._commit(full)
        raise _err(405, "BadRequestException", f"{self.command} on table")

    def _rename(self):
        body = self._json_body()
        try:
            src = body["source"]
            dst = body["destination"]
            src_ns = _ns_name(_ns_levels(_NS_SEP.join(src["namespace"])))
            src_full = f"{src_ns}.{src['name']}"
            dst_ns = _ns_name(_ns_levels(_NS_SEP.join(dst["namespace"])))
            dst_full = f"{dst_ns}.{dst['name']}"
        except (KeyError, IndexError, TypeError):
            raise _err(
                400,
                "BadRequestException",
                "rename needs source/destination {namespace, name}",
            )
        if self._view_store().exists(dst_full):
            raise _err(
                409,
                "AlreadyExistsException",
                f"a view named {dst_full!r} already exists",
            )
        os.makedirs(self.state.ns_dir(dst_ns), exist_ok=True)
        try:
            self.state.catalog.rename_table(src_full, dst_full)
        except NoSuchTableError:
            raise _err(
                404, "NoSuchTableException", f"table {src_full!r} not found"
            )
        except TableAlreadyExistsError:
            raise _err(
                409,
                "AlreadyExistsException",
                f"table {dst_full!r} already exists",
            )
        self.state.invalidate(src_full)
        self.state.invalidate(dst_full)
        self._send(204)

    # --------------------------------------------------------------- commit
    def _commit_transaction(self):
        """Multi-table transaction commit — the public REST spec's
        ``POST /v1/transactions/commit`` (CommitTransactionRequest), the
        protocol face of the reference's multi-table coordinated commit
        (T8; the committer lands one commit per table under a single
        coordination round). Per-table locks are taken in sorted order
        (no deadlock between concurrent transactions), EVERY table's
        requirements are checked and EVERY update prepared before any
        table applies — a stale CAS or malformed update anywhere rejects
        the whole transaction with nothing written. Apply is then
        per-table atomic storage commits; a server crash or an
        out-of-band storage-side CommitConflict mid-apply can leave an
        already-applied prefix of tables committed (single-arbiter
        scope — the 409 tells the client to reload and reconcile)."""
        from contextlib import ExitStack

        body = self._json_body()
        changes = body.get("table-changes") or []
        if not changes:
            raise _err(400, "BadRequestException", "table-changes required")
        per_table: list[tuple[str, dict]] = []
        for ch in changes:
            ident = ch.get("identifier") or {}
            ns_levels = ident.get("namespace") or []
            nm = ident.get("name")
            if not ns_levels or not nm:
                raise _err(
                    400,
                    "BadRequestException",
                    "table-changes entries need identifier.namespace "
                    "and identifier.name",
                )
            full = ".".join([*ns_levels, nm])
            if not self.state.catalog.table_exists(full):
                raise _err(
                    404, "NoSuchTableException", f"table {full!r} not found"
                )
            per_table.append((full, ch))
        with ExitStack() as stack:
            for full in sorted({f for f, _ in per_table}):
                stack.enter_context(self.state.table_lock(full))
            prepared = [
                (full, self._prepare_commit(full, ch)) for full, ch in per_table
            ]
            try:
                for full, actions in prepared:
                    for act in actions:
                        if act is not None:
                            act()
                    self.state.invalidate(full)
            except CommitConflict as e:
                raise _err(409, "CommitFailedException", str(e))
        self._send(204)

    def _commit(self, full: str):
        body = self._json_body()
        if not self.state.catalog.table_exists(full):
            raise _err(404, "NoSuchTableException", f"table {full!r} not found")
        lock = self.state.table_lock(full)
        with lock:
            actions = self._prepare_commit(full, body)
            # phase 2 — apply in order (validation already done; the only
            # failures left are storage-level CAS races, surfaced as 409)
            try:
                for act in actions:
                    if act is not None:
                        act()
            except CommitConflict as e:
                raise _err(409, "CommitFailedException", str(e))
            self.state.invalidate(full)
            loc, served = self.state.current_metadata(full)
        self._send(
            200, {"metadata-location": f"file://{loc}", "metadata": served}
        )

    def _prepare_commit(self, full: str, change: dict) -> list:
        """Phase 1 of one table's commit (a ``_commit`` body or one
        ``table-changes`` entry of a transaction): load the table, check
        the change's requirements against its head, then validate and
        PREPARE every update before any is applied — a malformed update
        rejects the whole commit with nothing applied (the protocol's
        atomic-commit contract). Returns the apply callables in order
        (None for acknowledged no-ops)."""
        table = self.state.catalog.load_table(full)
        meta = table.metadata()
        int_to_hex = _int_id_map(meta)
        self._check_requirements(
            change.get("requirements") or [], table, meta, int_to_hex
        )
        updates = change.get("updates") or []
        needs_served = any(
            (u.get("action") or u.get("type")) == "add-snapshot"
            for u in updates
        )
        ctx = {
            "meta": meta,
            "int_to_hex": int_to_hex,
            "hex_to_int": {h: i for i, h in int_to_hex.items()},
            "staged": {},   # ext int sid -> prepared commit (add-snapshot)
            "claimed": {},  # ext int sid -> ref-name that commits it
            # the exported metadata the external writer worked against;
            # only materialized when a snapshot-producing update needs it
            "served": (
                self.state.current_metadata(full)[1]
                if needs_served
                else None
            ),
        }
        return [self._prepare_update(table, up, ctx) for up in updates]

    def _check_requirements(
        self, reqs: list[dict], table, meta: dict, int_to_hex: dict
    ):
        for r in reqs:
            rt = r.get("type")
            if rt == "assert-create":
                # commit path only reaches existing tables
                raise _err(
                    409,
                    "CommitFailedException",
                    "assert-create failed: table already exists",
                )
            elif rt == "assert-table-uuid":
                if r.get("uuid") != meta.get("table_uuid"):
                    raise _err(
                        409,
                        "CommitFailedException",
                        f"table uuid changed: expected {r.get('uuid')!r}, "
                        f"found {meta.get('table_uuid')!r}",
                    )
            elif rt == "assert-ref-snapshot-id":
                ref = r.get("ref")
                cur_hex = meta["refs"].get(ref) or (meta.get("tags") or {}).get(
                    ref
                )
                want = r.get("snapshot-id")
                want_hex = int_to_hex.get(want) if want is not None else None
                if want is None:
                    if cur_hex is not None:
                        raise _err(
                            409,
                            "CommitFailedException",
                            f"ref {ref!r} expected absent, found "
                            f"{cur_hex!r}",
                        )
                elif want_hex is None:
                    # the asserted id doesn't name any snapshot of THIS
                    # table — it cannot be the ref's current head, so the
                    # requirement fails (previously this passed vacuously
                    # when the ref was also absent: None == None)
                    raise _err(
                        409,
                        "CommitFailedException",
                        f"ref {ref!r}: asserted snapshot {want} does not "
                        "exist in this table",
                    )
                elif cur_hex != want_hex:
                    raise _err(
                        409,
                        "CommitFailedException",
                        f"ref {ref!r} moved: expected snapshot {want}, "
                        f"found {cur_hex!r}",
                    )
            else:
                raise _err(
                    400,
                    "BadRequestException",
                    f"unsupported commit requirement {rt!r}",
                )

    # ------------------------------------------------- commit update prep
    _RETENTION_KEYS = (
        "max-ref-age-ms",
        "min-snapshots-to-keep",
        "max-snapshot-age-ms",
    )

    def _prepare_update(self, table, up: dict, ctx: dict):
        """Phase 1 of the atomic commit: validate ``up`` and return a
        zero-argument apply callable (or None for acknowledged no-ops).
        Everything that can fail for a malformed request fails HERE, before
        any update in the body has touched the table."""
        ut = up.get("action") or up.get("type")
        if ut == "set-properties":
            props = dict(up.get("updates") or {})
            return lambda: table.set_properties(props)
        if ut == "remove-properties":
            removals = list(up.get("removals") or [])
            return lambda: table.set_properties(
                {k: None for k in removals}
            )
        if ut == "add-snapshot":
            return self._prepare_add_snapshot(table, up, ctx)
        if ut == "set-snapshot-ref":
            return self._prepare_set_ref(table, up, ctx)
        if ut == "remove-snapshot-ref":
            ref = up.get("ref-name")
            if not ref:
                raise _err(400, "BadRequestException", "ref-name required")
            if ref == MAIN:
                raise _err(
                    400, "BadRequestException", "cannot drop the main branch"
                )
            is_tag = ref in (ctx["meta"].get("tags") or {})
            # remove-snapshots later in this same body sees the drop
            ctx.setdefault("dropped_refs", set()).add(ref)

            def act():
                try:
                    (table.drop_tag if is_tag else table.drop_branch)(ref)
                except ValueError as e:
                    raise _err(400, "BadRequestException", str(e))

            return act
        if ut == "remove-snapshots":
            ids = list(up.get("snapshot-ids") or [])
            hexes = [
                ctx["int_to_hex"][i] for i in ids if i in ctx["int_to_hex"]
            ]
            # reachability as of AFTER the ref-drops earlier in this body
            # (drop-staging-ref + remove-snapshot is one atomic commit).
            # A hidden rest-staged-* ref is a server implementation detail,
            # not a client-visible reference (spec: a staged add-snapshot
            # has NO ref) — removing a snapshot whose only reference is its
            # own staging branch is therefore allowed and retires the
            # staging branch with it (r5 advice).
            dropped = ctx.get("dropped_refs", set())
            target_hexes = set(hexes)
            staged_refs = [
                r
                for r, v in ctx["meta"].get("refs", {}).items()
                if r.startswith(STAGED_REF_PREFIX) and v in target_hexes
            ]
            meta_view = dict(
                ctx["meta"],
                refs={
                    k: v
                    for k, v in ctx["meta"].get("refs", {}).items()
                    if k not in dropped and k not in staged_refs
                },
                tags={
                    k: v
                    for k, v in (ctx["meta"].get("tags") or {}).items()
                    if k not in dropped
                },
            )
            reachable = table._reachable_snapshots(meta_view)
            bad = sorted(
                i
                for i in ids
                if ctx["int_to_hex"].get(i) in reachable
            )
            if bad:
                raise _err(
                    400,
                    "BadRequestException",
                    f"snapshots {bad} are referenced by a branch or tag; "
                    "referenced history retires via expireSnapshots",
                )
            if not hexes:
                return None

            def act():
                for r in staged_refs:
                    if r in table.metadata().get("refs", {}):
                        table.drop_branch(r)
                table.remove_snapshots(hexes)

            return act
        if ut == "add-schema":
            return self._prepare_add_schema(table, up)
        if ut == "add-spec":
            from .iceberg_export import iceberg_schema as _ice_schema

            ice, _ = _ice_schema(table.schema())
            id_names = {f["id"]: f["name"] for f in ice["fields"]}
            dsl = _ice_spec_to_dsl(up.get("spec") or {}, id_names)
            # live files keep their old layout; the exporter emits retired
            # specs as additional partition-specs with per-manifest spec
            # ids (multi-spec export), so loadTable keeps serving after
            # the evolution — no compact() required
            return lambda: table.update_partition_spec(dsl or None)
        if ut in ("set-current-schema", "set-default-spec", "assign-uuid"):
            # add-schema/add-spec apply immediately; -1 acks the last;
            # uuid is assigned at create and immutable here
            return None
        raise _err(
            400,
            "BadRequestException",
            f"unsupported metadata update {ut!r}",
        )

    def _prepare_add_snapshot(self, table, up: dict, ctx: dict):
        """Snapshot-producing commits: an external spec-conformant writer
        wrote data files + Avro manifests + a manifest list against the
        served metadata and posts the snapshot JSON (public REST spec
        AddSnapshotUpdate). Translation + validation (manifest scan, file
        existence, parent lookup) all happen here in phase 1; the apply
        half is one native atomic commit."""
        from .iceberg_import import (
            IcebergImportUnsupported,
            translate_rest_snapshot,
        )

        try:
            prep = translate_rest_snapshot(
                table, ctx["served"], up.get("snapshot") or {}
            )
        except IcebergImportUnsupported as e:
            raise _err(400, "BadRequestException", str(e))
        sid = prep["ext_sid"]
        if sid in ctx["int_to_hex"] or sid in ctx["staged"]:
            raise _err(
                400,
                "BadRequestException",
                f"snapshot id {sid} already exists",
            )
        ctx["staged"][sid] = prep

        def act():
            if sid in ctx["claimed"]:
                return  # the claiming set-snapshot-ref action commits it
            # no ref in this body names the snapshot: commit it
            # self-contained on a hidden staging branch (WAP shape) so a
            # later commit's set-snapshot-ref can publish it
            self._commit_staged(table, ctx, sid, ref=None, rtype=None)

        return act

    def _prepare_set_ref(self, table, up: dict, ctx: dict):
        ref = up.get("ref-name")
        if not ref:
            raise _err(400, "BadRequestException", "ref-name required")
        rtype = (up.get("type") or "branch").lower()
        if rtype not in ("branch", "tag"):
            raise _err(
                400, "BadRequestException", f"unknown ref type {rtype!r}"
            )
        sid = up.get("snapshot-id")
        retention = {
            k.replace("-", "_"): up[k]
            for k in self._RETENTION_KEYS
            if up.get(k) is not None
        }
        for k, v in retention.items():
            if not isinstance(v, int) or v < 0:
                raise _err(
                    400,
                    "BadRequestException",
                    f"{k.replace('_', '-')} must be a non-negative int",
                )
        # mirror set_ref_retention's guards HERE so they can never fire
        # after the snapshot commit already applied (atomic contract): main
        # never carries max-ref-age-ms; tags carry max-ref-age-ms ONLY
        if retention:
            if ref == MAIN and "max_ref_age_ms" in retention:
                raise _err(
                    400,
                    "BadRequestException",
                    "main cannot carry max-ref-age-ms",
                )
            if rtype == "tag" and set(retention) - {"max_ref_age_ms"}:
                raise _err(
                    400,
                    "BadRequestException",
                    f"{ref!r} is a tag — tags support only max-ref-age-ms",
                )
        if sid in ctx["staged"]:
            # publishing a snapshot added in THIS commit body
            prep = ctx["staged"][sid]
            if ctx["claimed"].get(sid) is not None:
                raise _err(
                    400,
                    "BadRequestException",
                    f"snapshot {sid} already referenced in this commit",
                )
            ctx["claimed"][sid] = ref
            if rtype == "branch":
                head_hex = ctx["meta"]["refs"].get(ref)
                head_int = (
                    ctx["hex_to_int"].get(head_hex) if head_hex else None
                )
                if head_hex is not None and prep["parent"] != head_int:
                    raise _err(
                        409,
                        "CommitFailedException",
                        f"snapshot {sid} parent {prep['parent']} is not "
                        f"the current head of branch {ref!r}",
                    )
            return lambda: self._commit_staged(
                table, ctx, sid, ref=ref, rtype=rtype, retention=retention
            )
        hexsid = ctx["int_to_hex"].get(sid)
        if hexsid is None:
            raise _err(
                400,
                "BadRequestException",
                f"unknown snapshot-id {sid!r}",
            )
        if rtype == "tag":
            tags = ctx["meta"].get("tags") or {}
            if ref in tags and tags[ref] != hexsid:
                raise _err(
                    409,
                    "CommitFailedException",
                    f"tag {ref!r} already exists (immutable)",
                )

            def act():
                try:
                    table.create_tag(ref, hexsid)
                except ValueError as e:
                    raise _err(409, "CommitFailedException", str(e))
                # publishing a previously-staged snapshot as a tag retires
                # its hidden staging branch too (the branch path below does
                # the same) — otherwise the stale ref is served forever and
                # blocks remove-snapshots as "referenced"
                staging = f"{STAGED_REF_PREFIX}{sid}"
                if staging in table.metadata().get("refs", {}):
                    table.drop_branch(staging)
                self._apply_retention(table, ref, retention)

            return act

        def act():
            table.set_branch(ref, hexsid)
            # publishing a previously-staged snapshot retires its hidden
            # staging ref
            staging = f"{STAGED_REF_PREFIX}{sid}"
            if staging != ref and staging in table.metadata().get(
                "refs", {}
            ):
                table.drop_branch(staging)
            self._apply_retention(table, ref, retention)

        return act

    def _apply_retention(self, table, ref: str, retention: dict):
        if retention:
            try:
                table.set_ref_retention(ref, **retention)
            except ValueError as e:
                raise _err(400, "BadRequestException", str(e))

    def _commit_staged(
        self,
        table,
        ctx: dict,
        sid: int,
        ref: str | None,
        rtype: str | None,
        retention: dict | None = None,
    ):
        """Apply half of add-snapshot: ONE native atomic commit. The
        summary records the writer's assigned id so the exporter serves
        the snapshot back under exactly that id (rest.assigned-id).

        Entries may carry external sequence numbers beyond the native
        counter; ``preserve_seq`` stages the snapshot at or above the
        highest one it carries, so later deletes order correctly."""
        prep = ctx["staged"][sid]
        summary = {
            "operation": prep["operation"],
            "rest.assigned-id": str(sid),
            "rest.commit": "true",
        }
        head = ctx["meta"]["refs"].get(ref) if rtype == "branch" else None
        # by default a self-contained full-set snapshot: on a brand-new
        # branch, or on a hidden staging branch for an unreferenced or tag
        # target (dropped below for tags; kept for later publication when
        # nothing references the snapshot yet)
        data, deletes = prep["full_data"], prep["full_deletes"]
        replace = True
        target = (
            ref
            if rtype == "branch" and ref is not None
            else f"{STAGED_REF_PREFIX}{sid}"
        )
        if head is not None:
            # in-place commit onto the existing branch head; expected_parent
            # turns a storage-side race into the protocol's 409. It stages
            # only the added entries, so it needs the sequence number it
            # gets to cover the entries carried over from the head too —
            # otherwise the full set is staged, covering its maximum
            head_seq = table._snapshot_by_id(ctx["meta"], head)["sequence_number"]
            staged_seq = max(
                [head_seq + 1, *(e["seq"] for e in prep["data"] + prep["deletes"])]
            )
            if all(e["seq"] <= staged_seq for e in data + deletes):
                data, deletes = prep["data"], prep["deletes"]
                replace = prep["replace"]
        snap_int = table._commit_snapshot(
            prep["operation"],
            data,
            deletes,
            summary,
            target,
            replace=replace,
            preserve_seq=True,
            expected_parent=head,
        )
        if rtype == "tag" and ref is not None:
            try:
                table.create_tag(ref, snap_int["snapshot_id"])
            except ValueError as e:
                raise _err(409, "CommitFailedException", str(e))
            table.drop_branch(f"{STAGED_REF_PREFIX}{sid}")
        if ref is not None:
            self._apply_retention(table, ref, retention or {})

    def _prepare_add_schema(self, table, up: dict):
        """Full UpdateSchema semantics, diffed BY FIELD ID like Iceberg:
        same id + new name = rename; id absent = drop; new field = add
        (union evolve). All structural validation happens here; Iceberg
        schema JSON requires an id on every field, so an id-less field is
        a 400, not a silent drop-and-re-add of the same-named column."""
        from pyspark.sql import types as T

        from .iceberg_export import iceberg_schema as _ice_schema
        from .iceberg_import import iceberg_type_to_spark

        schema_json = up.get("schema") or {}
        inc_fields = schema_json.get("fields", [])
        idless = [f.get("name") for f in inc_fields if "id" not in f]
        if idless:
            raise _err(
                400,
                "BadRequestException",
                f"add-schema fields missing required ids: {idless}",
            )
        cur_ice, _ = _ice_schema(table.schema())
        cur_by_id = {f["id"]: f["name"] for f in cur_ice["fields"]}
        inc_by_id = {f["id"]: f["name"] for f in inc_fields}
        renames = [
            (cur_by_id[fid], new_name)
            for fid, new_name in inc_by_id.items()
            if fid in cur_by_id and cur_by_id[fid] != new_name
        ]
        drops = [
            old_name
            for fid, old_name in cur_by_id.items()
            if fid not in inc_by_id
        ]
        # run the FULL column-DDL guards (partition sources, identifier
        # fields, live equality-delete keys) here in prepare — a guard that
        # fired at apply time would land earlier renames and then 400,
        # breaking the atomic contract. _evolve_struct itself never raises
        # (union evolve is total), so with these pre-checks the apply
        # closure below cannot fail for a malformed request.
        meta = table.metadata()
        try:
            for old_name, _new_name in renames:
                table._guard_column_ddl(meta, old_name, "rename")
            for old_name in drops:
                table._guard_column_ddl(meta, old_name, "drop")
        except ValueError as e:
            raise _err(400, "BadRequestException", str(e))
        # mirror rename_column/drop_column's REMAINING apply-time raises
        # (r5 advice): 'column already exists', the retired-name-mapping
        # rule, and 'cannot drop the last column' must all reject here in
        # prepare, not after earlier updates in the body have applied.
        inc_names = [f["name"] for f in inc_fields]
        dup = sorted({n for n in inc_names if inc_names.count(n) > 1})
        if dup:
            raise _err(
                400,
                "BadRequestException",
                f"add-schema has duplicate field names: {dup}",
            )
        if drops and len(drops) == len(cur_by_id):
            raise _err(
                400,
                "BadRequestException",
                "add-schema drops every current column",
            )
        raw_map = meta["properties"].get("schema.name-mapping.default")
        retired: set[str] = set()
        for e in json.loads(raw_map) if raw_map else []:
            retired.update(e.get("names", []))
        live_names = set(cur_by_id.values())
        freed = {old for old, _new in renames} | set(drops)
        for old_name, new_name in renames:
            if new_name in live_names:
                # even when this same update frees the target name (swap
                # rename id1->b,id2->a, chain a->b,b->c, or rename onto a
                # simultaneously-dropped name), data/delete files on disk
                # still carry the physical name for the OLD field — the
                # name mapping would ambiguously resolve both fields, the
                # exact wrong-reads class rename_column's guards exist for.
                # Refuse atomically at prepare; split into two commits with
                # a fresh intermediate name instead.
                hint = (
                    " (the name is freed only within this same update — "
                    "swap/chained renames are not supported; split into "
                    "two commits via a fresh intermediate name)"
                    if new_name in freed
                    else ""
                )
                raise _err(
                    400,
                    "BadRequestException",
                    f"cannot rename {old_name!r} to {new_name!r}: column "
                    f"already exists{hint}",
                )
            if new_name in retired:
                raise _err(
                    400,
                    "BadRequestException",
                    f"cannot rename {old_name!r} to {new_name!r}: the name "
                    "is retired in the table's name mapping (files on disk "
                    "still use it); pick a fresh name",
                )
        try:
            incoming = T.StructType(
                [
                    T.StructField(
                        f["name"],
                        iceberg_type_to_spark(f["type"]),
                        not f.get("required", False),
                    )
                    for f in inc_fields
                ]
            )
        except Exception as e:
            raise _err(400, "BadRequestException", f"schema: {e}")

        def act():
            try:
                for old_name, new_name in renames:
                    table.rename_column(old_name, new_name)
                for old_name in drops:
                    table.drop_column(old_name)
                table.evolve_schema(incoming)
            except ValueError as e:  # DDL guards / widening refusals
                raise _err(400, "BadRequestException", str(e))

        return act

    # ----------------------------------------------------------------- views
    def _view_store(self):
        from .views import ViewStore

        return ViewStore(self.state.catalog.warehouse)

    def _views(self, ns: str):
        """GET = listViews, POST = createView (public REST spec
        ``/v1/{prefix}/namespaces/{ns}/views``)."""
        if not self.state.ns_exists(ns):
            raise _err(
                404, "NoSuchNamespaceException", f"namespace {ns!r} not found"
            )
        store = self._view_store()
        if self.command == "GET":
            idents = [
                {"namespace": ns.split("."), "name": v[len(ns) + 1 :]}
                for v in store.list(namespace=ns)
            ]
            return self._send(200, self._paginate("identifiers", idents))
        if self.command == "POST":
            from .views import ViewAlreadyExistsError

            body = self._json_body()
            name = body.get("name")
            vv = body.get("view-version") or {}
            if not name or not vv.get("representations"):
                raise _err(
                    400,
                    "BadRequestException",
                    "createView needs name and view-version.representations",
                )
            full = f"{ns}.{name}"
            if self.state.catalog.table_exists(full):
                raise _err(
                    409,
                    "AlreadyExistsException",
                    f"a table named {full!r} already exists",
                )
            with self.state.table_lock("view:" + full):
                try:
                    meta = store.create(
                        full,
                        body.get("schema")
                        or {"type": "struct", "schema-id": 0, "fields": []},
                        vv,
                        body.get("properties"),
                    )
                except ViewAlreadyExistsError:
                    raise _err(
                        409,
                        "AlreadyExistsException",
                        f"view {full!r} already exists",
                    )
            return self._send_view(full, meta)
        raise _err(405, "BadRequestException", f"{self.command} on views")

    def _send_view(self, full: str, meta: dict):
        from .views import view_path

        return self._send(
            200,
            {
                "metadata-location": "file://"
                + os.path.abspath(
                    view_path(self.state.catalog.warehouse, full)
                ),
                "metadata": meta,
                "config": {},
            },
        )

    def _view(self, ns: str, name: str):
        full = f"{ns}.{name}"
        store = self._view_store()
        if self.command in ("GET", "HEAD"):
            if not store.exists(full):
                raise _err(
                    404, "NoSuchViewException", f"view {full!r} not found"
                )
            if self.command == "HEAD":
                return self._send(200)
            _, meta = store.load(full)
            return self._send_view(full, meta)
        if self.command == "DELETE":
            from .views import NoSuchViewError

            with self.state.table_lock("view:" + full):
                try:
                    store.drop(full)
                except NoSuchViewError:
                    raise _err(
                        404, "NoSuchViewException", f"view {full!r} not found"
                    )
            return self._send(204)
        if self.command == "POST":
            return self._commit_view(full)
        raise _err(405, "BadRequestException", f"{self.command} on view")

    def _commit_view(self, full: str):
        """UpdateViewRequest: assert-view-uuid requirements; updates
        assign-uuid / set-properties / remove-properties / add-schema /
        add-view-version / set-current-view-version (-1 = the version just
        added) — the spec's replace-view flow. Validated fully before any
        write, then applied to the in-memory document and written to disk
        exactly once, so a crash mid-body can't leave a partially applied
        UpdateViewRequest and readers never observe intermediate states
        (same atomic contract as the table commit path)."""
        store = self._view_store()
        body = self._json_body()
        with self.state.table_lock("view:" + full), store.locked(full):
            if not store.exists(full):
                raise _err(
                    404, "NoSuchViewException", f"view {full!r} not found"
                )
            _, meta = store.load(full)
            for req in body.get("requirements") or []:
                rtype = req.get("type")
                if rtype == "assert-view-uuid":
                    if req.get("uuid") != meta["view-uuid"]:
                        raise _err(
                            409,
                            "CommitFailedException",
                            "view uuid mismatch: requirement "
                            f"{req.get('uuid')!r} != {meta['view-uuid']!r}",
                        )
                else:
                    raise _err(
                        400,
                        "BadRequestException",
                        f"unknown view requirement {rtype!r}",
                    )
            updates = body.get("updates") or []
            # validate the WHOLE body before applying anything — a
            # positional simulation, not just shape checks: set-current
            # must target a version that exists AT ITS POSITION in the
            # body (an id added only later would 500 mid-apply), -1
            # requires an add-view-version earlier in this same commit,
            # and a trailing add-schema with no consuming
            # add-view-version is a silent no-op the client didn't ask
            # for — all 400 here with nothing written.
            known = {
                "assign-uuid",
                "set-properties",
                "remove-properties",
                "add-schema",
                "add-view-version",
                "set-current-view-version",
            }
            sim_ids = {v["version-id"] for v in meta["versions"]}
            next_id = max(sim_ids) + 1
            added_any = False
            pending_add_schema = False
            for up in updates:
                ut = up.get("action") or up.get("type")
                if ut not in known:
                    raise _err(
                        400,
                        "BadRequestException",
                        f"unknown view update {ut!r}",
                    )
                if ut == "add-schema":
                    pending_add_schema = True
                elif ut == "add-view-version":
                    vv = up.get("view-version") or {}
                    if not vv.get("representations"):
                        raise _err(
                            400,
                            "BadRequestException",
                            "add-view-version needs representations",
                        )
                    if vv.get("schema-id") == -1 and not pending_add_schema:
                        raise _err(
                            400,
                            "BadRequestException",
                            "view-version schema-id -1 without add-schema",
                        )
                    pending_add_schema = False
                    sim_ids.add(next_id)
                    next_id += 1
                    added_any = True
                elif ut == "set-current-view-version":
                    try:
                        vid = int(up.get("view-version-id", -1))
                    except (TypeError, ValueError):
                        raise _err(
                            400,
                            "BadRequestException",
                            "view-version-id must be an integer",
                        )
                    if vid == -1 and not added_any:
                        raise _err(
                            400,
                            "BadRequestException",
                            "set-current-view-version -1 refers to the "
                            "version added in this commit, but the body "
                            "adds none",
                        )
                    if vid != -1 and vid not in sim_ids:
                        raise _err(
                            400,
                            "BadRequestException",
                            f"no view version {vid} at this point in the "
                            "commit (existing or added earlier in the body)",
                        )
            if pending_add_schema:
                raise _err(
                    400,
                    "BadRequestException",
                    "add-schema without a consuming add-view-version "
                    "(bind it via schema-id -1)",
                )
            from .views import (
                apply_add_version,
                apply_set_current,
                apply_update_properties,
            )

            pending_schema: dict | None = None
            dirty = False
            for up in updates:
                ut = up.get("action") or up.get("type")
                if ut == "assign-uuid":
                    continue  # uuid is server-assigned and immutable here
                if ut == "set-properties":
                    apply_update_properties(meta, up.get("updates") or {})
                    dirty = True
                elif ut == "remove-properties":
                    apply_update_properties(
                        meta, {}, up.get("removals") or []
                    )
                    dirty = True
                elif ut == "add-schema":
                    pending_schema = up.get("schema") or {}
                elif ut == "add-view-version":
                    vv = dict(up["view-version"])
                    # spec: schema-id -1 binds to the schema added in this
                    # same commit
                    if vv.get("schema-id") == -1 and pending_schema is None:
                        raise _err(
                            400,
                            "BadRequestException",
                            "view-version schema-id -1 without add-schema",
                        )
                    sj = (
                        pending_schema if vv.get("schema-id") == -1 else None
                    )
                    if vv.get("schema-id") == -1:
                        vv.pop("schema-id")
                    apply_add_version(
                        meta, vv, schema_json=sj, make_current=False
                    )
                    pending_schema = None
                    dirty = True
                elif ut == "set-current-view-version":
                    try:
                        dirty = (
                            apply_set_current(
                                meta, int(up.get("view-version-id", -1))
                            )
                            or dirty
                        )
                    except ValueError as e:
                        raise _err(400, "BadRequestException", str(e))
            if dirty:
                store.write(full, meta)
            return self._send_view(full, meta)

    def _rename_view(self):
        from .views import NoSuchViewError, ViewAlreadyExistsError

        body = self._json_body()
        try:
            src = body["source"]
            dst = body["destination"]
            src_full = ".".join([*src["namespace"], src["name"]])
            dst_full = ".".join([*dst["namespace"], dst["name"]])
        except (KeyError, TypeError):
            raise _err(
                400,
                "BadRequestException",
                "renameView needs source/destination {namespace, name}",
            )
        if self.state.catalog.table_exists(dst_full):
            raise _err(
                409,
                "AlreadyExistsException",
                f"a table named {dst_full!r} already exists",
            )
        # acquire the two per-view locks in canonical (sorted) order so two
        # concurrent opposite renames (A→B and B→A) can't deadlock by
        # grabbing them in reverse orders
        keys = sorted({"view:" + src_full, "view:" + dst_full})
        try:
            with contextlib.ExitStack() as locks:
                for k in keys:  # self-rename: one key, locked once
                    locks.enter_context(self.state.table_lock(k))
                self._view_store().rename(src_full, dst_full)
        except NoSuchViewError:
            raise _err(
                404, "NoSuchViewException", f"view {src_full!r} not found"
            )
        except ViewAlreadyExistsError:
            raise _err(
                409,
                "AlreadyExistsException",
                f"view {dst_full!r} already exists",
            )
        return self._send(204)

    # --------------------------------------------------------- http methods
    def _handle(self):
        try:
            self._route()
        except RestError as e:
            self._send_error_obj(e)
        except NoSuchTableError as e:
            self._send_error_obj(
                _err(404, "NoSuchTableException", str(e))
            )
        except Exception as e:  # noqa: BLE001 — spec error shape, not a 500 page
            self._send_error_obj(
                _err(500, "InternalServerError", f"{type(e).__name__}: {e}")
            )

    do_GET = do_POST = do_DELETE = do_HEAD = _handle


class IcebergRestServer(BackgroundServer):
    """In-process Iceberg REST catalog service over a directory warehouse.

    >>> srv = IcebergRestServer("/path/warehouse").start()
    >>> srv.uri
    'http://127.0.0.1:<port>'
    >>> srv.stop()

    ``token`` (optional) enables the protocol's static-Bearer auth mode —
    the same surface the reference configures via
    ``iceberg.catalog.token`` (IcebergSinkConfig's passthrough catalog
    props).
    """

    def __init__(
        self,
        warehouse: str,
        host: str = "127.0.0.1",
        port: int = 0,
        token: str | None = None,
        credentials: dict[str, str] | None = None,
        token_ttl_s: float = 3600.0,
    ):
        self._state = _State(warehouse)
        handler = type(
            "BoundHandler",
            (_Handler,),
            {
                "state": self._state,
                "token": token,
                "credentials": dict(credentials) if credentials else None,
                "token_ttl_s": token_ttl_s,
            },
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))

    @property
    def catalog(self) -> Catalog:
        """The directory catalog the server fronts (server-side handle)."""
        return self._state.catalog
