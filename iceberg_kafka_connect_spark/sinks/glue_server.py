"""AWS Glue Data Catalog stub service — the pointer store behind the
``glue`` catalog leg (``glue_catalog.py``).

Reference parity: the reference builds Iceberg's ``GlueCatalog`` when
the connector config says ``iceberg.catalog.type=glue``
(``data/Utilities.java:68-121`` → ``CatalogUtil``). No AWS endpoint
exists in this deployment, so — the same pattern as the REST / Nessie /
DynamoDB pairs — this implements the SERVICE side on stdlib
``http.server``: the Glue JSON 1.1 protocol
(``X-Amz-Target: AWSGlue.<Op>``) for the operation subset the catalog
issues (honestly scoped):

- ``CreateDatabase`` / ``GetDatabase``
- ``CreateTable`` / ``GetTable`` / ``GetTables`` / ``DeleteTable``
- ``UpdateTable`` — with Glue's **VersionId optimistic locking**: every
  write bumps the table's ``VersionId``; an ``UpdateTable`` carrying a
  stale ``VersionId`` fails with ``ConcurrentModificationException``,
  which is exactly the lock-free commit protocol Iceberg's GlueCatalog
  relies on.

SigV4 is VERIFIED when credentials are set (shared verifier with the
DynamoDB stub), so the client's signer is exercised, not assumed.
"""

from __future__ import annotations

import threading
from http.server import ThreadingHTTPServer

from ..background import BackgroundServer
from .dynamodb_server import _Handler as _SigV4Handler


class _GlueError(Exception):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code


class _Store:
    def __init__(self):
        self.lock = threading.RLock()
        self.databases: dict[str, dict] = {}
        # (db, name) → {"table": {...}, "version": int}
        self.tables: dict[tuple[str, str], dict] = {}

    def create_database(self, body: dict) -> dict:
        with self.lock:
            name = body["DatabaseInput"]["Name"]
            if name in self.databases:
                raise _GlueError(
                    "AlreadyExistsException", f"database {name} exists"
                )
            self.databases[name] = dict(body["DatabaseInput"])
            return {}

    def get_database(self, body: dict) -> dict:
        db = self.databases.get(body["Name"])
        if db is None:
            raise _GlueError(
                "EntityNotFoundException", f"database {body['Name']}"
            )
        return {"Database": db}

    def create_table(self, body: dict) -> dict:
        with self.lock:
            db = body["DatabaseName"]
            if db not in self.databases:
                raise _GlueError(
                    "EntityNotFoundException", f"database {db}"
                )
            ti = body["TableInput"]
            key = (db, ti["Name"])
            if key in self.tables:
                raise _GlueError(
                    "AlreadyExistsException", f"table {ti['Name']} exists"
                )
            self.tables[key] = {"table": dict(ti), "version": 1}
            return {}

    def _entry(self, db: str, name: str) -> dict:
        e = self.tables.get((db, name))
        if e is None:
            raise _GlueError(
                "EntityNotFoundException", f"table {db}.{name}"
            )
        return e

    def get_table(self, body: dict) -> dict:
        e = self._entry(body["DatabaseName"], body["Name"])
        return {
            "Table": {
                **e["table"],
                "DatabaseName": body["DatabaseName"],
                "VersionId": str(e["version"]),
            }
        }

    def update_table(self, body: dict) -> dict:
        with self.lock:
            db = body["DatabaseName"]
            ti = body["TableInput"]
            e = self._entry(db, ti["Name"])
            expected = body.get("VersionId")
            if expected is not None and expected != str(e["version"]):
                # Glue's optimistic lock — Iceberg's lock-free commit
                raise _GlueError(
                    "ConcurrentModificationException",
                    f"version moved from {expected} to {e['version']}",
                )
            e["table"] = dict(ti)
            e["version"] += 1
            return {}

    def delete_table(self, body: dict) -> dict:
        with self.lock:
            key = (body["DatabaseName"], body["Name"])
            if key not in self.tables:
                raise _GlueError(
                    "EntityNotFoundException", f"table {key}"
                )
            del self.tables[key]
            return {}

    def get_tables(self, body: dict) -> dict:
        db = body["DatabaseName"]
        out = [
            {**e["table"], "DatabaseName": db,
             "VersionId": str(e["version"])}
            for (d, _), e in sorted(self.tables.items())
            if d == db
        ]
        return {"TableList": out}


_OPS = {
    "CreateDatabase": _Store.create_database,
    "GetDatabase": _Store.get_database,
    "CreateTable": _Store.create_table,
    "GetTable": _Store.get_table,
    "UpdateTable": _Store.update_table,
    "DeleteTable": _Store.delete_table,
    "GetTables": _Store.get_tables,
}


class _Handler(_SigV4Handler):
    """The DynamoDB stub's SigV4 verifier and dispatch; only the op table
    and error namespace differ."""

    ops = _OPS
    error = _GlueError
    error_namespace = "com.amazonaws.glue"


class GlueServer(BackgroundServer):
    """In-process Glue Data Catalog stub; verifies SigV4 when
    credentials are set."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        access_key: str | None = None,
        secret_key: str | None = None,
        region: str = "us-east-1",
    ):
        self.store = _Store()
        handler = type(
            "BoundGlueHandler",
            (_Handler,),
            {
                "store": self.store,
                "access_key": access_key,
                "secret_key": secret_key,
                "region": region,
            },
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))
