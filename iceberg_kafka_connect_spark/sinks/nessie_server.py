"""Nessie catalog service — the versioned-catalog backend the reference
names but delegates to an external runtime.

Reference parity: the reference builds a ``NessieCatalog`` whenever the
connector config says ``iceberg.catalog.type=nessie``
(data/Utilities.java:68-121 → ``CatalogUtil.buildIcebergCatalog``, which
loads ``org.apache.iceberg.nessie.NessieCatalog``). No Nessie service
exists in this deployment, so — exactly like the REST catalog pair
(``rest_server.py`` / ``rest_catalog.py``) — this module implements the
SERVICE side of the public Nessie REST API v2 (OpenAPI published at
projectnessie.org; the ``api/v2`` surface) over stdlib ``http.server``,
and ``nessie_catalog.py`` the client side, so the ``type=nessie`` config
leg is executable end-to-end in-process.

Implemented v2 surface (the subset the Iceberg/Nessie integration uses):

- ``GET  /api/v2/config``                       — defaultBranch handshake
- ``GET  /api/v2/trees``                        — list references
- ``POST /api/v2/trees?name=&type=``            — create branch/tag
- ``GET/DELETE /api/v2/trees/{ref}``            — resolve / delete a ref
  (``{ref}`` accepts the v2 ``name@hash`` form)
- ``GET  /api/v2/trees/{ref}/entries``          — list content keys
- ``GET  /api/v2/trees/{ref}/contents/{key}``   — read one content
- ``POST /api/v2/trees/{branch}/history/commit``— commit PUT/DELETE ops
- ``POST /api/v2/trees/{branch}/history/merge`` — merge a ref
- ``GET  /api/v2/trees/{ref}/history``          — commit log

Semantics follow Nessie's model, not a simplification of it:

- Commits are content-addressed: each commit hash is the SHA-256 of
  (parent hash, canonical ops JSON), so identical history yields
  identical hashes.
- The commit CAS is KEY-LEVEL, like Nessie's: ``expectedHash`` may trail
  the branch head, and the commit still lands (rebases) as long as none
  of ITS keys changed between ``expectedHash`` and the head; a touched
  key conflicts with the spec's 409 shape. Head-only CAS would serialize
  writers that touch disjoint tables — Nessie's whole point is that they
  don't contend.
- Merge takes, for every key the source changed since the merge base,
  the source's latest content; a key also changed on the target since
  the base is a 409 conflict (no silent overwrite).
- Tags are immutable references; committing to a tag is a 400.

Iceberg table contents are the standard ``ICEBERG_TABLE`` shape
(``{"type": "ICEBERG_TABLE", "id", "metadataLocation", "snapshotId",
...}``): the catalog arbitrates metadata POINTERS, data IO goes straight
to storage — the same split as the REST catalog.

Scale note: the server never touches data, only pointer commits and
O(log) ancestry walks; content resolution is memoized per commit.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import threading
import uuid
from http.server import ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from ..background import BackgroundServer, JsonHandler

NO_ANCESTOR = "11223344556677889900aabbccddeeff00112233445566778899aabbccddeeff"


def _commit_hash(parent: str, ops: dict, meta: dict) -> str:
    payload = json.dumps(
        {"parent": parent, "ops": ops, "meta": meta}, sort_keys=True
    )
    return hashlib.sha256(payload.encode()).hexdigest()


class NessieConflict(Exception):
    pass


class _Store:
    """In-memory versioned key-value store with Nessie's reference and
    commit semantics. Thread-safe under one lock — the service is
    metadata-only, so contention is commit-rate, not data-rate."""

    def __init__(self, default_branch: str = "main"):
        self.lock = threading.RLock()
        # commit hash → {"parent": h|NO_ANCESTOR, "ops": {key: content|None},
        #                "meta": {...}}
        self.commits: dict[str, dict] = {}
        self.refs: dict[str, dict] = {
            default_branch: {"type": "BRANCH", "hash": NO_ANCESTOR}
        }
        self.default_branch = default_branch
        self._resolved: dict[str, dict] = {NO_ANCESTOR: {}}

    # ----------------------------------------------------------- ancestry
    def _ancestry(self, h: str) -> list[str]:
        out = []
        while h != NO_ANCESTOR:
            out.append(h)
            h = self.commits[h]["parent"]
        return out

    def _resolve(self, h: str) -> dict:
        """{key: content} live at commit ``h`` (memoized per commit)."""
        if h in self._resolved:
            return self._resolved[h]
        c = self.commits[h]
        base = dict(self._resolve(c["parent"]))
        for k, v in c["ops"].items():
            if v is None:
                base.pop(k, None)
            else:
                base[k] = v
        self._resolved[h] = base
        return base

    def _keys_changed_between(self, frm: str, to: str) -> set[str]:
        """Keys touched by commits on ``to``'s ancestry after ``frm``.
        Raises if ``frm`` is not an ancestor of ``to``."""
        changed: set[str] = set()
        h = to
        while h != frm:
            if h == NO_ANCESTOR:
                raise NessieConflict(
                    f"expected hash {frm!r} is not on this branch"
                )
            c = self.commits[h]
            changed.update(c["ops"])
            h = c["parent"]
        return changed

    def _merge_base(self, a: str, b: str) -> str:
        an = set(self._ancestry(a)) | {NO_ANCESTOR}
        h = b
        while h not in an:
            h = self.commits[h]["parent"]
        return h

    # ---------------------------------------------------------- reference
    def ref(self, name: str) -> dict:
        r = self.refs.get(name)
        if r is None:
            raise KeyError(name)
        return {"type": r["type"], "name": name, "hash": r["hash"]}

    def create_ref(self, name: str, rtype: str, source_hash: str) -> dict:
        with self.lock:
            if name in self.refs:
                raise NessieConflict(f"reference {name!r} already exists")
            self.refs[name] = {"type": rtype, "hash": source_hash}
            return self.ref(name)

    def delete_ref(self, name: str) -> None:
        with self.lock:
            if name == self.default_branch:
                raise NessieConflict("cannot delete the default branch")
            if name not in self.refs:
                raise KeyError(name)
            del self.refs[name]

    # ------------------------------------------------------------- commit
    def commit(
        self,
        branch: str,
        expected: str | None,
        ops: dict[str, dict | None],
        meta: dict,
    ) -> dict:
        with self.lock:
            r = self.refs.get(branch)
            if r is None:
                raise KeyError(branch)
            if r["type"] != "BRANCH":
                raise ValueError(f"reference {branch!r} is not a branch")
            head = r["hash"]
            if expected is not None and expected != head:
                # Nessie key-level CAS: rebase over the newer commits
                # unless one of THEM touched one of OUR keys
                touched = self._keys_changed_between(expected, head)
                conflict = sorted(set(ops) & touched)
                if conflict:
                    raise NessieConflict(
                        f"keys changed since {expected[:12]}: {conflict}"
                    )
            h = _commit_hash(head, ops, meta)
            self.commits[h] = {"parent": head, "ops": dict(ops), "meta": meta}
            r["hash"] = h
            return self.ref(branch)

    def merge(self, target: str, from_name: str, from_hash: str | None) -> dict:
        with self.lock:
            src = self.refs.get(from_name)
            if src is None:
                raise KeyError(from_name)
            src_hash = from_hash or src["hash"]
            tgt = self.refs.get(target)
            if tgt is None:
                raise KeyError(target)
            base = self._merge_base(tgt["hash"], src_hash)
            src_changed = self._keys_changed_between(base, src_hash)
            tgt_changed = self._keys_changed_between(base, tgt["hash"])
            src_state = self._resolve(src_hash)
            tgt_state = self._resolve(tgt["hash"])
            # a key changed on both sides conflicts only when the two
            # sides DISAGREE — content-identical keys (e.g. a previous
            # squash-merge of the same branch) are no-ops, which keeps
            # re-merges idempotent, like Nessie's content-aware merge
            conflict = sorted(
                k
                for k in src_changed & tgt_changed
                if src_state.get(k) != tgt_state.get(k)
            )
            if conflict:
                raise NessieConflict(
                    f"merge conflict on keys {conflict} (changed on both "
                    f"{from_name!r} and {target!r} since the merge base)"
                )
            ops = {
                k: src_state.get(k)  # None = deleted on source
                for k in src_changed
                if src_state.get(k) != tgt_state.get(k)
            }
            if not ops:
                return self.ref(target)  # nothing to merge — no-op
            return self.commit(
                target,
                None,
                ops,
                {"message": f"merge {from_name} at {src_hash[:12]}"},
            )

    def log(self, h: str) -> list[dict]:
        out = []
        for ch in self._ancestry(h):
            c = self.commits[ch]
            out.append(
                {
                    "commitMeta": c["meta"],
                    "hash": ch,
                    "parentCommitHash": c["parent"],
                    "operations": [
                        {
                            "type": "DELETE" if v is None else "PUT",
                            "key": {"elements": k.split(".")},
                        }
                        for k, v in c["ops"].items()
                    ],
                }
            )
        return out


def _split_ref(ref: str) -> tuple[str, str | None]:
    """v2 ``name@hash`` reference form."""
    name, _, h = unquote(ref).partition("@")
    return name, (h or None)


class _Handler(JsonHandler):
    store: _Store
    token: str | None = None

    def _err(self, code: int, msg: str) -> None:
        self._send(
            code,
            {
                "status": code,
                "reason": msg,
                "message": msg,
                "errorCode": "REFERENCE_CONFLICT" if code == 409 else "UNKNOWN",
            },
        )

    def _auth_ok(self) -> bool:
        if self.token is None:
            return True
        got = self.headers.get("Authorization", "")
        # constant-time compare, same as the SigV4 stubs' signature check
        return hmac.compare_digest(got, f"Bearer {self.token}")

    def _route(self, method: str) -> None:
        if not self._auth_ok():
            return self._err(401, "invalid or missing bearer token")
        u = urlparse(self.path)
        q = parse_qs(u.query)
        parts = [p for p in u.path.split("/") if p]
        s = self.store
        try:
            if parts[:2] != ["api", "v2"]:
                return self._err(404, f"unknown path {u.path}")
            rest = parts[2:]
            if rest == ["config"] and method == "GET":
                return self._send(
                    200,
                    {
                        "defaultBranch": s.default_branch,
                        "minSupportedApiVersion": 2,
                        "maxSupportedApiVersion": 2,
                        "specVersion": "2.2.0",
                    },
                )
            if rest == ["trees"] and method == "GET":
                with s.lock:
                    return self._send(
                        200,
                        {
                            "references": [
                                s.ref(n) for n in sorted(s.refs)
                            ],
                            "hasMore": False,
                        },
                    )
            if rest == ["trees"] and method == "POST":
                name = q.get("name", [None])[0]
                rtype = q.get("type", ["BRANCH"])[0]
                src = self._body()
                if not name:
                    return self._err(400, "missing ?name=")
                src_hash = src.get("hash") or s.ref(
                    src.get("name", s.default_branch)
                )["hash"]
                ref = s.create_ref(name, rtype, src_hash)
                return self._send(200, {"reference": ref})
            if len(rest) == 2 and rest[0] == "trees":
                name, at = _split_ref(rest[1])
                if method == "GET":
                    ref = s.ref(name)
                    if at:
                        ref = {**ref, "hash": at}
                    return self._send(200, {"reference": ref})
                if method == "DELETE":
                    s.delete_ref(name)
                    return self._send(200, {})
            if len(rest) == 3 and rest[0] == "trees" and rest[2] == "entries":
                name, at = _split_ref(rest[1])
                h = at or s.ref(name)["hash"]
                state = s._resolve(h)
                return self._send(
                    200,
                    {
                        "entries": [
                            {
                                "name": {"elements": k.split(".")},
                                "type": v.get("type", "ICEBERG_TABLE"),
                                "contentId": v.get("id"),
                            }
                            for k, v in sorted(state.items())
                        ],
                        "hasMore": False,
                    },
                )
            if len(rest) == 3 and rest[0] == "trees" and rest[2] == "history":
                name, at = _split_ref(rest[1])
                h = at or s.ref(name)["hash"]
                return self._send(200, {"logEntries": s.log(h)})
            if (
                len(rest) == 4
                and rest[0] == "trees"
                and rest[2] == "contents"
                and method == "GET"
            ):
                name, at = _split_ref(rest[1])
                ref = s.ref(name)
                h = at or ref["hash"]
                key = unquote(rest[3])
                content = s._resolve(h).get(key)
                if content is None:
                    return self._err(404, f"no content for key {key!r}")
                return self._send(
                    200,
                    {
                        "content": content,
                        "effectiveReference": {**ref, "hash": h},
                    },
                )
            if (
                len(rest) == 4
                and rest[0] == "trees"
                and rest[2] == "history"
                and rest[3] == "commit"
                and method == "POST"
            ):
                name, expected = _split_ref(rest[1])
                body = self._body()
                ops: dict[str, dict | None] = {}
                for op in body.get("operations", []):
                    key = ".".join(op["key"]["elements"])
                    if op.get("type") == "DELETE":
                        ops[key] = None
                    else:
                        ops[key] = op["content"]
                try:
                    ref = s.commit(
                        name, expected, ops, body.get("commitMeta") or {}
                    )
                except ValueError as e:
                    return self._err(400, str(e))
                return self._send(200, {"targetBranch": ref})
            if (
                len(rest) == 4
                and rest[0] == "trees"
                and rest[2] == "history"
                and rest[3] == "merge"
                and method == "POST"
            ):
                name, _ = _split_ref(rest[1])
                body = self._body()
                try:
                    ref = s.merge(
                        name, body["fromRefName"], body.get("fromHash")
                    )
                except ValueError as e:
                    # merging into a tag is a CLIENT error (the spec's
                    # 400), not a server fault
                    return self._err(400, str(e))
                return self._send(
                    200,
                    {
                        "resultType": "MERGE",
                        "effectiveTargetHash": ref["hash"],
                        "targetBranch": ref,
                    },
                )
            return self._err(404, f"unknown route {method} {u.path}")
        except NessieConflict as e:
            return self._err(409, str(e))
        except KeyError as e:
            return self._err(404, f"reference or key not found: {e}")
        except Exception as e:  # noqa: BLE001 — spec error shape
            return self._err(500, f"{type(e).__name__}: {e}")

    def do_GET(self):  # noqa: N802
        self._route("GET")

    def do_POST(self):  # noqa: N802
        self._route("POST")

    def do_DELETE(self):  # noqa: N802
        self._route("DELETE")


class NessieServer(BackgroundServer):
    """In-process Nessie REST v2 service.

    >>> with NessieServer() as srv:
    ...     srv.uri  # http://127.0.0.1:<port>/api/v2
    """

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        default_branch: str = "main",
        token: str | None = None,
    ):
        self.store = _Store(default_branch)
        handler = type(
            "BoundNessieHandler",
            (_Handler,),
            {"store": self.store, "token": token},
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))

    @property
    def uri(self) -> str:
        return super().uri + "/api/v2"


def new_content_id() -> str:
    return str(uuid.uuid4())
