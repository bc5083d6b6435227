"""Confluent-compatible Schema Registry: stdlib client + in-process stub.

Why this exists: the reference connector never parses bytes itself — it
receives already-converted structs from the Kafka Connect framework and
tells users to configure a converter (`README.md:77` "Messages should be
converted to a struct or map using the appropriate Kafka Connect
converter"). In real deployments that converter is almost always
Confluent's AvroConverter / JsonSchemaConverter / ProtobufConverter, which
resolve a 4-byte schema id embedded in every record against a Schema
Registry. A user switching from the reference to this engine therefore
needs the registry protocol and the wire format (sources/confluent.py) to
read their existing topics — it is part of the de-facto API surface even
though it lives outside the reference's own tree.

Protocol notes (Confluent Schema Registry REST, public docs):
- ids are GLOBAL per distinct schema text: registering the same canonical
  schema under two subjects returns the same id;
- ``POST /subjects/{s}/versions`` is idempotent for an already-registered
  schema under that subject (returns the existing id, no new version);
- ``GET /schemas/ids/{id}`` returns the schema by global id — this is the
  consumer hot path (cached client-side, one fetch per id per process);
- compatibility: the stub implements the BACKWARD rule for Avro (every
  reader field missing from the previous version must carry a default),
  enough to exercise the evolution workflow end-to-end.

The stub follows the round-9 catalog-stub conventions: ThreadingHTTPServer,
optional bearer auth compared with ``hmac.compare_digest``, and strict
request validation so a client bug fails loudly.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import threading
import urllib.request
from http.server import ThreadingHTTPServer
from urllib.parse import urlparse

from ..background import BackgroundServer, JsonHandler


def canonical_schema(schema: str | dict) -> str:
    """Canonical text used for global-id dedupe (sorted-key JSON for
    Avro/JSON schemas; raw text for Protobuf descriptors)."""
    if isinstance(schema, dict):
        return json.dumps(schema, sort_keys=True, separators=(",", ":"))
    s = schema.strip()
    if s.startswith("{") or s.startswith("["):
        try:
            return json.dumps(
                json.loads(s), sort_keys=True, separators=(",", ":")
            )
        except ValueError:
            pass
    return s


def _avro_fields(schema_text: str) -> dict[str, dict]:
    try:
        parsed = json.loads(schema_text)
    except ValueError:
        return {}
    if not isinstance(parsed, dict) or parsed.get("type") != "record":
        return {}
    return {f["name"]: f for f in parsed.get("fields", [])}


def backward_compatible(new_schema: str, old_schema: str) -> bool:
    """BACKWARD: a reader with ``new_schema`` can read data written with
    ``old_schema`` — every field added by the new schema needs a default.
    (Avro resolution also allows promotions; field add/remove is the case
    that matters for the connector's evolve-schema workflow.)"""
    new_f, old_f = _avro_fields(new_schema), _avro_fields(old_schema)
    for name, f in new_f.items():
        if name not in old_f and "default" not in f:
            return False
    return True


class _Store:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.by_canonical: dict[str, int] = {}  # canonical text -> global id
        self.by_id: dict[int, tuple[str, str]] = {}  # id -> (schema, type)
        # subject -> list of (version, id) in registration order
        self.subjects: dict[str, list[tuple[int, int]]] = {}
        self.next_id = 1
        # compatibility levels (Confluent /config): global default +
        # per-subject overrides; enforcement happens at registration
        self.global_compat = "NONE"
        self.subject_compat: dict[str, str] = {}


class _Handler(JsonHandler):
    store: _Store
    token: str | None
    content_type = "application/vnd.schemaregistry.v1+json"

    def _err(self, code: int, error_code: int, msg: str) -> None:
        self._send(code, {"error_code": error_code, "message": msg})

    def _auth_ok(self) -> bool:
        if self.token is None:
            return True
        got = self.headers.get("Authorization", "")
        return hmac.compare_digest(got, f"Bearer {self.token}")

    def _version_entry(
        self, subject: str, version: str
    ) -> tuple[int, int] | None:
        versions = self.store.subjects.get(subject)
        if not versions:
            return None
        if version == "latest":
            return versions[-1]
        v = int(version)
        for entry in versions:
            if entry[0] == v:
                return entry
        return None

    def _route(self, method: str) -> None:
        if not self._auth_ok():
            return self._err(401, 40101, "bearer token mismatch")
        parts = [p for p in urlparse(self.path).path.split("/") if p]
        s = self.store
        # GET /schemas/ids/{id}
        if method == "GET" and parts[:2] == ["schemas", "ids"]:
            sid = int(parts[2])
            with s.lock:
                if sid not in s.by_id:
                    return self._err(404, 40403, f"schema id {sid} not found")
                schema, stype = s.by_id[sid]
            out = {"schema": schema}
            if stype != "AVRO":
                out["schemaType"] = stype
            return self._send(200, out)
        # GET /subjects
        if method == "GET" and parts == ["subjects"]:
            with s.lock:
                return self._send(200, sorted(s.subjects))
        # GET/PUT /config and /config/{subject}
        if parts[:1] == ["config"] and len(parts) <= 2:
            subject = parts[1] if len(parts) == 2 else None
            if method == "PUT":
                level = (self._body().get("compatibility") or "").upper()
                if level not in ("NONE", "BACKWARD"):
                    return self._err(
                        422, 42203,
                        f"unsupported compatibility level {level!r} "
                        "(stub implements NONE and BACKWARD)",
                    )
                with s.lock:
                    if subject is None:
                        s.global_compat = level
                    else:
                        s.subject_compat[subject] = level
                return self._send(200, {"compatibility": level})
            if method == "GET":
                with s.lock:
                    level = (
                        s.subject_compat.get(subject, s.global_compat)
                        if subject is not None
                        else s.global_compat
                    )
                return self._send(200, {"compatibilityLevel": level})
        if parts[:1] == ["subjects"] and len(parts) >= 2:
            subject = parts[1]
            # POST /subjects/{s}/versions
            if (
                method == "POST"
                and len(parts) == 3
                and parts[2] == "versions"
            ):
                body = self._body()
                if "schema" not in body:
                    return self._err(422, 42201, "missing schema field")
                stype = body.get("schemaType") or "AVRO"
                canon = canonical_schema(body["schema"])
                with s.lock:
                    # compatibility enforcement (the real registry's
                    # registration-time check): an incompatible schema
                    # under a BACKWARD subject fails with 409
                    level = s.subject_compat.get(
                        subject, s.global_compat
                    )
                    versions_now = s.subjects.get(subject) or []
                    if (
                        level == "BACKWARD"
                        and versions_now
                        and stype == "AVRO"
                        and s.by_canonical.get(canon)
                        not in {i for _, i in versions_now}
                    ):
                        latest_schema, _ = s.by_id[versions_now[-1][1]]
                        if not backward_compatible(
                            body["schema"], latest_schema
                        ):
                            return self._err(
                                409,
                                409,
                                "Schema being registered is "
                                "incompatible with an earlier schema",
                            )
                    sid = s.by_canonical.get(canon)
                    if sid is None:
                        sid = s.next_id
                        s.next_id += 1
                        s.by_canonical[canon] = sid
                        s.by_id[sid] = (body["schema"], stype)
                    versions = s.subjects.setdefault(subject, [])
                    if all(existing != sid for _, existing in versions):
                        versions.append((len(versions) + 1, sid))
                return self._send(200, {"id": sid})
            # GET /subjects/{s}/versions
            if (
                method == "GET"
                and len(parts) == 3
                and parts[2] == "versions"
            ):
                with s.lock:
                    versions = s.subjects.get(subject)
                    if versions is None:
                        return self._err(
                            404, 40401, f"subject {subject!r} not found"
                        )
                    return self._send(200, [v for v, _ in versions])
            # GET /subjects/{s}/versions/{v|latest}
            if method == "GET" and len(parts) == 4 and parts[2] == "versions":
                with s.lock:
                    entry = self._version_entry(subject, parts[3])
                    if entry is None:
                        return self._err(404, 40402, "version not found")
                    version, sid = entry
                    schema, stype = s.by_id[sid]
                out = {
                    "subject": subject,
                    "version": version,
                    "id": sid,
                    "schema": schema,
                }
                if stype != "AVRO":
                    out["schemaType"] = stype
                return self._send(200, out)
        # POST /compatibility/subjects/{s}/versions/{v|latest}
        if (
            method == "POST"
            and parts[:2] == ["compatibility", "subjects"]
            and len(parts) == 5
            and parts[3] == "versions"
        ):
            body = self._body()
            with s.lock:
                entry = self._version_entry(parts[2], parts[4])
                if entry is None:
                    return self._err(404, 40402, "version not found")
                old_schema, _ = s.by_id[entry[1]]
            ok = backward_compatible(body.get("schema", ""), old_schema)
            return self._send(200, {"is_compatible": ok})
        return self._err(404, 40401, f"no route {method} {self.path}")

    def do_GET(self):  # noqa: N802
        self._route("GET")

    def do_POST(self):  # noqa: N802
        self._route("POST")

    def do_PUT(self):  # noqa: N802
        self._route("PUT")


class SchemaRegistryServer(BackgroundServer):
    """In-process Confluent-protocol registry for tests and gates; serves
    from construction."""

    def __init__(
        self, host: str = "127.0.0.1", port: int = 0, token: str | None = None
    ) -> None:
        store = _Store()
        handler = type(
            "_Bound", (_Handler,), {"store": store, "token": token}
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))
        self.store = store
        self.start()


class SchemaRegistryClient:
    """Minimal stdlib client; id→schema lookups are cached (the consumer
    hot path fetches each writer schema once per process, exactly like
    Confluent's CachedSchemaRegistryClient)."""

    def __init__(self, base_url: str, token: str | None = None) -> None:
        self.base_url = base_url.rstrip("/")
        self.token = token
        self._id_cache: dict[int, dict] = {}
        self._register_cache: dict[tuple[str, str], int] = {}
        self._lock = threading.Lock()

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base_url + path, data=data, method=method
        )
        req.add_header(
            "Content-Type", "application/vnd.schemaregistry.v1+json"
        )
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read() or b"{}")

    def register(
        self, subject: str, schema: str | dict, schema_type: str = "AVRO"
    ) -> int:
        text = (
            json.dumps(schema) if isinstance(schema, dict) else schema
        )
        key = (subject, canonical_schema(text))
        with self._lock:
            if key in self._register_cache:
                return self._register_cache[key]
        out = self._call(
            "POST",
            f"/subjects/{subject}/versions",
            {"schema": text, "schemaType": schema_type},
        )
        sid = int(out["id"])
        with self._lock:
            self._register_cache[key] = sid
        return sid

    def get_by_id(self, schema_id: int) -> dict:
        """Returns ``{"schema": text, "schemaType": type}``; cached."""
        with self._lock:
            hit = self._id_cache.get(schema_id)
        if hit is not None:
            return hit
        out = self._call("GET", f"/schemas/ids/{schema_id}")
        out.setdefault("schemaType", "AVRO")
        with self._lock:
            self._id_cache[schema_id] = out
        return out

    def latest(self, subject: str) -> dict:
        return self._call("GET", f"/subjects/{subject}/versions/latest")

    def set_compatibility(
        self, level: str, subject: str | None = None
    ) -> None:
        """PUT /config[/subject]: set the enforcement level (NONE or
        BACKWARD); BACKWARD makes incompatible registrations fail 409."""
        path = "/config" if subject is None else f"/config/{subject}"
        self._call("PUT", path, {"compatibility": level})

    def get_compatibility(self, subject: str | None = None) -> str:
        path = "/config" if subject is None else f"/config/{subject}"
        return self._call("GET", path)["compatibilityLevel"]

    def check_compatibility(
        self, subject: str, schema: str | dict, version: str = "latest"
    ) -> bool:
        text = json.dumps(schema) if isinstance(schema, dict) else schema
        out = self._call(
            "POST",
            f"/compatibility/subjects/{subject}/versions/{version}",
            {"schema": text},
        )
        return bool(out.get("is_compatible"))


def schema_fingerprint(schema: str | dict) -> str:
    """Stable fingerprint of the canonical text (diagnostics/tests)."""
    return hashlib.sha256(canonical_schema(schema).encode()).hexdigest()
