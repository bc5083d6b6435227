"""AWS Glue catalog client — the ``iceberg.catalog.type=glue`` leg.

Reference parity: ``data/Utilities.java:68-121`` builds Iceberg's
``GlueCatalog`` for ``type=glue`` configs. Re-expressed here on the
stdlib SigV4 signer (shared with ``dynamodb_catalog``) speaking the
Glue JSON 1.1 protocol. Table shape per the public ``apache/iceberg``
``GlueCatalog`` (cited for parity, re-implemented — not copied): an
EXTERNAL_TABLE whose ``Parameters`` carry ``table_type=ICEBERG`` and
``metadata_location`` / ``previous_metadata_location``; commits are
``UpdateTable`` calls carrying the table's current ``VersionId`` —
Glue's optimistic lock: a concurrent writer bumps the version and the
stale committer fails with ``ConcurrentModificationException``, the
lock-free protocol Iceberg uses on Glue.

The pointer protocol (sync-on-read republish, create, drop) is
``pointer_catalog.PointerCatalog``'s; this leg supplies its primitives —
``GetTable`` / the ``VersionId``-carrying ``UpdateTable`` / ``CreateTable``
(after ensuring the database) / ``DeleteTable`` / ``GetTables`` — and
renames as create-destination then delete-source.
``glue_server.GlueServer`` is the in-process twin; with credentials set
it VERIFIES each request's SigV4 signature.
"""

from __future__ import annotations

from .catalog import NoSuchTableError, TableAlreadyExistsError
from .dynamodb_server import aws_json_call
from .pointer_catalog import PointerCatalog
from .table import CommitConflict, LakehouseTable

_ERRORS = {
    "ConcurrentModificationException": CommitConflict,
    "AlreadyExistsException": TableAlreadyExistsError,
    "EntityNotFoundException": NoSuchTableError,
}


class GlueCatalog(PointerCatalog):
    kind = "glue"

    def __init__(
        self,
        uri: str,
        warehouse: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        region: str = "us-east-1",
        timeout: float = 10.0,
    ):
        self.uri = uri.rstrip("/")
        self.warehouse = warehouse
        self.access_key = access_key
        self.secret_key = secret_key
        self.region = region
        self.timeout = timeout

    # ----------------------------------------------------------- protocol
    def _call(self, op: str, body: dict) -> dict:
        return aws_json_call(
            self, "AWSGlue", op, body,
            "application/x-amz-json-1.1", "glue", _ERRORS,
        )

    # ------------------------------------------------------------ pointers
    def _ensure_database(self, db: str) -> None:
        try:
            self._call("GetDatabase", {"Name": db})
        except NoSuchTableError:
            try:
                self._call(
                    "CreateDatabase", {"DatabaseInput": {"Name": db}}
                )
            except TableAlreadyExistsError:
                pass

    def _get(self, db: str, t: str) -> dict | None:
        try:
            return self._call(
                "GetTable", {"DatabaseName": db, "Name": t}
            )["Table"]
        except NoSuchTableError:
            return None

    def _table_input(self, name: str, loc: str, prev: str | None) -> dict:
        return {
            "Name": name,
            "TableType": "EXTERNAL_TABLE",
            "Parameters": {
                "table_type": "ICEBERG",
                "metadata_location": loc,
                **(
                    {"previous_metadata_location": prev} if prev else {}
                ),
            },
        }

    def _get_pointer(self, db: str, t: str) -> tuple[str, dict] | None:
        """The CAS token is the whole Glue table (VersionId + location)."""
        cur = self._get(db, t)
        if cur is None:
            return None
        return cur["Parameters"]["metadata_location"], cur

    def _cas_pointer(self, db: str, t: str, cur: dict, new: str) -> None:
        self._call(
            "UpdateTable",
            {
                "DatabaseName": db,
                "TableInput": self._table_input(
                    t, new, cur["Parameters"]["metadata_location"]
                ),
                # the optimistic lock: stale version → CommitConflict
                "VersionId": cur["VersionId"],
            },
        )

    def _insert_pointer(
        self, name: str, db: str, t: str, loc: str, table=None
    ) -> None:
        self._ensure_database(db)
        self._call(
            "CreateTable",
            {
                "DatabaseName": db,
                "TableInput": self._table_input(t, loc, None),
            },
        )

    def _delete_pointer(self, db: str, t: str) -> None:
        self._call("DeleteTable", {"DatabaseName": db, "Name": t})

    # ------------------------------------------------------------- surface
    def rename_table(self, src: str, dst: str) -> LakehouseTable:
        """Glue has no rename — Iceberg's GlueCatalog does create-new +
        delete-old the same way; the create's AlreadyExists check keeps
        the destination safe."""
        return self._move_pointer(src, dst)

    def list_tables(self, namespace: str = "default") -> list[str]:
        out = self._call("GetTables", {"DatabaseName": namespace})
        return sorted(
            f"{namespace}.{t['Name']}" for t in out.get("TableList", [])
        )
