"""Nessie catalog client — the ``iceberg.catalog.type=nessie`` leg.

Reference parity: ``data/Utilities.java:68-121`` loads
``org.apache.iceberg.nessie.NessieCatalog`` for ``type=nessie`` configs.
This is that client re-expressed against the public Nessie REST API v2
(see ``nessie_server.py`` for the service side and the semantics notes):
the catalog stores one ``ICEBERG_TABLE`` content (a metadata-location
POINTER) per table key per reference, commits move the pointer with
Nessie's key-level CAS, and the VERSIONED part — branches, tags, merge —
applies to the whole catalog, not one table:

- ``create_branch("audit")`` then ``on_ref("audit")`` gives a catalog
  view where every table pointer is frozen at the branch point; commits
  there never disturb ``main``.
- ``merge("audit")`` lands every pointer the branch moved back on main
  in ONE atomic commit — cross-table transactional publish, the thing a
  per-table catalog cannot express.

The pointer protocol (sync-on-read republish, create, drop) is
``pointer_catalog.PointerCatalog``'s; this leg supplies its primitives
as Nessie commits. A pointer read returns the content together with the
commit hash it was read at, and every pointer move commits against that
hash, so the service's key-level CAS rejects it when another writer
moved the key in between. Each ICEBERG_TABLE content carries the
snapshot id read back from its exported metadata.json; renames are one
atomic two-op commit.
"""

from __future__ import annotations

import copy
import json
import os
import urllib.error
import urllib.parse
import urllib.request
import uuid

from .catalog import TableAlreadyExistsError
from .pointer_catalog import PointerCatalog, _read_json
from .table import CommitConflict, LakehouseTable


class NessieCatalog(PointerCatalog):
    kind = "nessie"

    def __init__(
        self,
        uri: str,
        warehouse: str | None = None,
        ref: str = "main",
        token: str | None = None,
        timeout: float = 10.0,
    ):
        self.uri = uri.rstrip("/")
        self.warehouse = warehouse
        self.ref = ref
        self.token = token
        self.timeout = timeout
        # config handshake — fails loud and early when the service is
        # unreachable (the missing-runtime error contract)
        self._get("config")

    # ---------------------------------------------------------------- http
    def _req(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            f"{self.uri}/{path}", data=data, method=method
        )
        req.add_header("Content-Type", "application/json")
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as e:
            payload = e.read().decode(errors="replace")
            if e.code == 409:
                raise CommitConflict(payload) from None
            if e.code == 404:
                raise KeyError(payload) from None
            raise RuntimeError(f"nessie {method} {path}: {e.code} {payload}")

    def _get(self, path: str) -> dict:
        return self._req("GET", path)

    # ------------------------------------------------------------ identity
    def _key(self, name: str) -> str:
        return ".".join(self._ident(name))

    def _head(self) -> str:
        return self._get(f"trees/{urllib.parse.quote(self.ref)}")[
            "reference"
        ]["hash"]

    def _content(self, key: str) -> dict | None:
        ptr = self._get_pointer(*self._ident(key))
        return None if ptr is None else ptr[1][0]

    def _commit(
        self,
        ops: list[dict],
        message: str,
        expected: str | None = None,
    ) -> dict:
        expected = expected or self._head()
        ref = urllib.parse.quote(f"{self.ref}@{expected}")
        return self._req(
            "POST",
            f"trees/{ref}/history/commit",
            {"commitMeta": {"message": message}, "operations": ops},
        )

    def _put_op(self, key: str, content: dict) -> dict:
        return {
            "type": "PUT",
            "key": {"elements": key.split(".")},
            "content": content,
        }

    # ------------------------------------------------------------ pointers
    def _get_pointer(self, ns: str, t: str, at: str | None = None):
        """(metadataLocation, (content, hash)) read at ``at`` (default:
        the ref's head); the hash is what the pointer's next move
        commits against."""
        ref = self.ref if at is None else f"{self.ref}@{at}"
        try:
            got = self._get(
                f"trees/{urllib.parse.quote(ref)}/contents/"
                f"{urllib.parse.quote(f'{ns}.{t}')}"
            )
        except KeyError:
            return None
        content = got["content"]
        return content["metadataLocation"], (
            content,
            got["effectiveReference"]["hash"],
        )

    def _table_content(self, loc: str, content_id: str | None) -> dict:
        """The ICEBERG_TABLE content for a pointer to ``loc``. Its
        snapshotId must equal the exported metadata.json's
        current-snapshot-id (a Nessie-aware reader cross-checks the two;
        the exporter remaps internal sequence numbers to Iceberg snapshot
        ids, so read the published value, don't recompute it)."""
        snap = _read_json(loc).get("current-snapshot-id", -1)
        return {
            "type": "ICEBERG_TABLE",
            "id": content_id or str(uuid.uuid4()),
            "metadataLocation": loc,
            "snapshotId": int(snap if snap is not None else -1),
            "schemaId": 0,
            "specId": 0,
            "sortOrderId": 0,
        }

    def _cas_pointer(self, ns: str, t: str, token, new: str) -> None:
        content, expected = token
        key = f"{ns}.{t}"
        self._commit(
            [self._put_op(key, self._table_content(new, content.get("id")))],
            f"publish {key} -> {os.path.basename(new)}",
            expected,
        )

    def _insert_pointer(
        self, name: str, ns: str, t: str, loc: str, table=None
    ) -> None:
        """Commit the new key against the hash its absence was read at —
        a concurrent creator's commit conflicts it."""
        head = self._head()
        if self._get_pointer(ns, t, at=head) is not None:
            raise TableAlreadyExistsError(name)
        key = f"{ns}.{t}"
        try:
            self._commit(
                [self._put_op(key, self._table_content(loc, None))],
                f"publish {key} -> {os.path.basename(loc)}",
                head,
            )
        except CommitConflict:
            raise TableAlreadyExistsError(name) from None

    def _delete_pointer(self, ns: str, t: str) -> None:
        key = f"{ns}.{t}"
        self._commit(
            [{"type": "DELETE", "key": {"elements": key.split(".")}}],
            f"drop {key}",
        )

    # ------------------------------------------------------------- surface
    def register_table(self, name: str, metadata_location: str):
        """Iceberg ``registerTable``: adopt an existing metadata tree."""
        return self._register(name, metadata_location)

    def rename_table(self, src: str, dst: str) -> LakehouseTable:
        sns, st, _, (content, expected) = self._pointer_of(src)
        dns, dt = self._ident(dst)
        if self._get_pointer(dns, dt) is not None:
            raise TableAlreadyExistsError(dst)
        skey, dkey = f"{sns}.{st}", f"{dns}.{dt}"
        # one atomic commit moves the pointer — Nessie renames are
        # transactional by construction
        self._commit(
            [
                {"type": "DELETE", "key": {"elements": skey.split(".")}},
                self._put_op(dkey, content),
            ],
            f"rename {skey} -> {dkey}",
            expected,
        )
        return self.load_table(dst)

    def list_tables(self) -> list[str]:
        out = self._get(f"trees/{urllib.parse.quote(self.ref)}/entries")
        return sorted(
            ".".join(e["name"]["elements"]) for e in out["entries"]
        )

    # ------------------------------------------------------ versioned part
    def create_branch(self, name: str, from_ref: str | None = None) -> dict:
        src = from_ref or self.ref
        h = self._get(f"trees/{urllib.parse.quote(src)}")["reference"][
            "hash"
        ]
        return self._req(
            "POST",
            f"trees?name={urllib.parse.quote(name)}&type=BRANCH",
            {"type": "BRANCH", "name": src, "hash": h},
        )["reference"]

    def create_tag(self, name: str, from_ref: str | None = None) -> dict:
        src = from_ref or self.ref
        h = self._get(f"trees/{urllib.parse.quote(src)}")["reference"][
            "hash"
        ]
        return self._req(
            "POST",
            f"trees?name={urllib.parse.quote(name)}&type=TAG",
            {"type": "TAG", "name": src, "hash": h},
        )["reference"]

    def on_ref(self, ref: str) -> "NessieCatalog":
        """A catalog view pinned to another reference — same service,
        same warehouse, different pointer universe."""
        c = copy.copy(self)
        c.ref = ref
        return c

    def merge(self, from_ref: str, from_hash: str | None = None) -> dict:
        """Merge ``from_ref``'s pointer moves into THIS catalog's ref —
        every table the branch changed publishes atomically, key-level
        conflicts raise CommitConflict."""
        head = self._head()
        ref = urllib.parse.quote(f"{self.ref}@{head}")
        return self._req(
            "POST",
            f"trees/{ref}/history/merge",
            {"fromRefName": from_ref, **(
                {"fromHash": from_hash} if from_hash else {}
            )},
        )

    def history(self) -> list[dict]:
        return self._get(f"trees/{urllib.parse.quote(self.ref)}/history")[
            "logEntries"
        ]
