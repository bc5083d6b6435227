"""DynamoDB-API stub service — the pointer store behind the
``iceberg.catalog.type`` DynamoDB leg (``dynamodb_catalog.py``).

Reference parity: the reference builds Iceberg's ``DynamoDbCatalog``
when the connector config names it (``data/Utilities.java:68-121`` →
``CatalogUtil``). No AWS endpoint exists in this deployment, so — the
same pattern as ``rest_server.py`` (Iceberg REST) and
``nessie_server.py`` (Nessie v2) — this implements the SERVICE side on
stdlib ``http.server``: the DynamoDB JSON 1.0 protocol
(``X-Amz-Target: DynamoDB_20120810.<Op>``) for the operation subset the
catalog client issues (honestly scoped — this is a catalog-backing
stub, not a general DynamoDB):

- ``CreateTable`` / ``DescribeTable``
- ``GetItem`` / ``PutItem`` (with ``attribute_not_exists`` conditions)
- ``UpdateItem`` (conditional on the version attribute — the optimistic
  lock Iceberg's DynamoDbCatalog uses)
- ``DeleteItem`` / ``Query`` (key-condition on the GSI the catalog uses
  to list a namespace)

The stub VERIFIES AWS Signature Version 4 on every request when
constructed with credentials (the full canonical-request → string-to-
sign → signing-key derivation chain, public AWS spec), so the client's
stdlib signer is exercised end-to-end, not assumed: a bad secret, a
stale date, or a mis-canonicalized header all fail with the 403 shape
real DynamoDB returns.
"""

from __future__ import annotations

import datetime
import hashlib
import hmac
import json
import threading
import urllib.error
import urllib.request
from http.server import ThreadingHTTPServer
from urllib.parse import urlparse

from ..background import BackgroundServer, JsonHandler


# --------------------------------------------------------------- sigv4
def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sigv4_signature(
    secret_key: str,
    date_stamp: str,
    region: str,
    service: str,
    string_to_sign: str,
) -> str:
    """The AWS SigV4 signing-key derivation (public spec,
    "Signature Version 4 signing process")."""
    k = _hmac(_hmac(_hmac(_hmac(
        ("AWS4" + secret_key).encode(), date_stamp
    ), region), service), "aws4_request")
    return hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()


def canonical_request(
    method: str,
    path: str,
    query: str,
    headers: dict[str, str],
    signed_headers: list[str],
    payload: bytes,
) -> str:
    canon_headers = "".join(
        f"{h}:{' '.join(headers[h].split())}\n" for h in signed_headers
    )
    return "\n".join(
        [
            method,
            path or "/",
            query,
            canon_headers,
            ";".join(signed_headers),
            hashlib.sha256(payload).hexdigest(),
        ]
    )


def string_to_sign(amz_date: str, scope: str, canon_req: str) -> str:
    return "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            hashlib.sha256(canon_req.encode()).hexdigest(),
        ]
    )


def sign_aws_request(
    host: str,
    path: str,
    target: str,
    content_type: str,
    payload: bytes,
    access_key: str,
    secret_key: str,
    region: str,
    service: str,
) -> dict[str, str]:
    """The CLIENT side of SigV4 in one place (shared by the DynamoDB and
    Glue catalogs): returns the x-amz-date + Authorization headers for a
    POST of ``payload`` with the given ``X-Amz-Target``."""
    now = datetime.datetime.now(datetime.timezone.utc)
    amz_date = now.strftime("%Y%m%dT%H%M%SZ")
    date_stamp = now.strftime("%Y%m%d")
    signed = sorted(["host", "x-amz-date", "x-amz-target", "content-type"])
    canon = canonical_request(
        "POST",
        path,
        "",
        {
            "host": host,
            "x-amz-date": amz_date,
            "x-amz-target": target,
            "content-type": content_type,
        },
        signed,
        payload,
    )
    scope = f"{date_stamp}/{region}/{service}/aws4_request"
    sig = sigv4_signature(
        secret_key,
        date_stamp,
        region,
        service,
        string_to_sign(amz_date, scope, canon),
    )
    return {
        "x-amz-date": amz_date,
        "Authorization": (
            f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
            f"SignedHeaders={';'.join(signed)}, Signature={sig}"
        ),
    }


def aws_json_call(
    client,
    target_prefix: str,
    op: str,
    body: dict,
    content_type: str,
    service: str,
    errors: dict[str, type[Exception]],
) -> dict:
    """One AWS JSON-protocol request, the transport of the DynamoDB and
    Glue catalogs: POST ``body`` to ``client.uri`` with ``X-Amz-Target:
    <target_prefix>.<op>``, SigV4-signed for ``service`` when ``client``
    carries ``access_key`` and ``secret_key``. An error reply's
    ``__type`` picks the exception class from ``errors``; any other
    error raises RuntimeError. ``client`` also supplies ``region`` and
    ``timeout``."""
    payload = json.dumps(body).encode()
    u = urlparse(client.uri)
    headers = {
        "Content-Type": content_type,
        "X-Amz-Target": f"{target_prefix}.{op}",
        "Host": u.netloc,
    }
    if client.access_key and client.secret_key:
        headers.update(
            sign_aws_request(
                u.netloc,
                u.path,
                headers["X-Amz-Target"],
                headers["Content-Type"],
                payload,
                client.access_key,
                client.secret_key,
                client.region,
                service,
            )
        )
    req = urllib.request.Request(
        client.uri, data=payload, method="POST", headers=headers
    )
    try:
        with urllib.request.urlopen(req, timeout=client.timeout) as resp:
            return json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        err = json.loads(e.read() or b"{}")
        etype = (err.get("__type") or "").rpartition("#")[2]
        if etype in errors:
            raise errors[etype](err.get("message", etype)) from None
        raise RuntimeError(
            f"{service} {op}: {e.code} {err.get('message', err)}"
        ) from None


# ---------------------------------------------------------------- store
class _DynamoError(Exception):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code


class _Store:
    """One in-memory DynamoDB table universe: {table: {key_tuple: item}}.
    Items are DynamoDB-typed attribute maps ({"S": ...})."""

    def __init__(self):
        self.lock = threading.RLock()
        self.tables: dict[str, dict] = {}  # name → {"keys": [...], "items"}

    @staticmethod
    def _plain(av: dict) -> str:
        return av["S"]

    def _key_of(self, table: dict, item: dict) -> tuple:
        return tuple(self._plain(item[k]) for k in table["keys"])

    def create_table(self, body: dict) -> dict:
        with self.lock:
            name = body["TableName"]
            if name in self.tables:
                raise _DynamoError(
                    "ResourceInUseException", f"table {name} exists"
                )

            def _keys(schema: list) -> list[str]:
                return [
                    e["AttributeName"]
                    for e in sorted(
                        schema, key=lambda e: e["KeyType"] != "HASH"
                    )
                ]

            gsis = {
                g["IndexName"]: _keys(g["KeySchema"])
                for g in body.get("GlobalSecondaryIndexes") or []
            }
            self.tables[name] = {
                "keys": _keys(body["KeySchema"]),
                "gsis": gsis,
                "items": {},
            }
            return {"TableDescription": {
                "TableName": name, "TableStatus": "ACTIVE"}}

    def _table(self, name: str) -> dict:
        t = self.tables.get(name)
        if t is None:
            raise _DynamoError(
                "ResourceNotFoundException", f"table {name} not found"
            )
        return t

    def describe(self, body: dict) -> dict:
        t = self._table(body["TableName"])
        return {
            "Table": {
                "TableName": body["TableName"],
                "TableStatus": "ACTIVE",
                "KeySchema": [
                    {"AttributeName": k, "KeyType": kt}
                    for k, kt in zip(t["keys"], ("HASH", "RANGE"))
                ],
            }
        }

    def get_item(self, body: dict) -> dict:
        t = self._table(body["TableName"])
        key = tuple(self._plain(v) for v in (
            body["Key"][k] for k in t["keys"]))
        item = t["items"].get(key)
        return {"Item": item} if item is not None else {}

    def put_item(self, body: dict) -> dict:
        with self.lock:
            t = self._table(body["TableName"])
            item = body["Item"]
            key = self._key_of(t, item)
            cond = body.get("ConditionExpression")
            if cond and "attribute_not_exists" in cond:
                if key in t["items"]:
                    raise _DynamoError(
                        "ConditionalCheckFailedException",
                        "item already exists",
                    )
            t["items"][key] = dict(item)
            return {}

    def update_item(self, body: dict) -> dict:
        """The catalog's only UpdateItem shape: SET expressions with a
        ``#v = :expected`` equality condition (the optimistic lock)."""
        with self.lock:
            t = self._table(body["TableName"])
            key = tuple(self._plain(v) for v in (
                body["Key"][k] for k in t["keys"]))
            item = t["items"].get(key)
            if item is None:
                raise _DynamoError(
                    "ConditionalCheckFailedException", "no such item"
                )
            names = body.get("ExpressionAttributeNames") or {}
            values = body.get("ExpressionAttributeValues") or {}

            def resolve(token: str) -> str:
                return names.get(token, token)

            cond = body.get("ConditionExpression") or ""
            if cond:
                # "#n = :v" equality conditions, AND-joined
                for clause in cond.split(" AND "):
                    lhs, _, rhs = clause.strip().partition(" = ")
                    attr = resolve(lhs.strip())
                    want = values[rhs.strip()]
                    if item.get(attr) != want:
                        raise _DynamoError(
                            "ConditionalCheckFailedException",
                            f"condition failed on {attr}",
                        )
            expr = body.get("UpdateExpression") or ""
            if not expr.startswith("SET "):
                raise _DynamoError(
                    "ValidationException", f"unsupported expression {expr!r}"
                )
            for assign in expr[4:].split(","):
                lhs, _, rhs = assign.strip().partition(" = ")
                item[resolve(lhs.strip())] = values[rhs.strip()]
            return {}

    def delete_item(self, body: dict) -> dict:
        with self.lock:
            t = self._table(body["TableName"])
            key = tuple(self._plain(v) for v in (
                body["Key"][k] for k in t["keys"]))
            t["items"].pop(key, None)
            return {}

    def query(self, body: dict) -> dict:
        """Key-condition query on an attribute equality. Enforces REAL
        DynamoDB's rule: the constrained attribute must be the HASH key
        of the queried index — the table's primary key, or the GSI named
        by IndexName — so a client query that real DynamoDB would reject
        fails here too instead of silently working against the stub."""
        t = self._table(body["TableName"])
        names = body.get("ExpressionAttributeNames") or {}
        values = body.get("ExpressionAttributeValues") or {}
        cond = body["KeyConditionExpression"]
        lhs, _, rhs = cond.partition(" = ")
        attr = names.get(lhs.strip(), lhs.strip())
        want = values[rhs.strip()]
        index = body.get("IndexName")
        if index is not None:
            gsi = (t.get("gsis") or {}).get(index)
            if gsi is None:
                raise _DynamoError(
                    "ValidationException",
                    f"index {index} does not exist on the table",
                )
            hash_key = gsi[0]
        else:
            hash_key = t["keys"][0]
        if attr != hash_key:
            raise _DynamoError(
                "ValidationException",
                "Query condition missed key schema element: "
                f"{hash_key}",
            )
        items = [
            it
            for it in t["items"].values()
            if it.get(attr) == want
        ]
        return {"Items": items, "Count": len(items)}


_OPS = {
    "CreateTable": _Store.create_table,
    "DescribeTable": _Store.describe,
    "GetItem": _Store.get_item,
    "PutItem": _Store.put_item,
    "UpdateItem": _Store.update_item,
    "DeleteItem": _Store.delete_item,
    "Query": _Store.query,
}


class _Handler(JsonHandler):
    store: _Store
    access_key: str | None = None
    secret_key: str | None = None
    region: str = "us-east-1"
    content_type = "application/x-amz-json-1.0"
    # the JSON-protocol service this handler dispatches to
    ops = _OPS
    error = _DynamoError
    error_namespace = "com.amazonaws.dynamodb.v20120810"

    def _verify_sigv4(self, payload: bytes) -> str | None:
        """None when the signature checks out, else the failure reason."""
        auth = self.headers.get("Authorization", "")
        if not auth.startswith("AWS4-HMAC-SHA256 "):
            return "missing SigV4 Authorization header"
        parts = dict(
            p.strip().split("=", 1)
            for p in auth[len("AWS4-HMAC-SHA256 "):].split(",")
        )
        cred = parts.get("Credential", "")
        akid, _, scope = cred.partition("/")
        if akid != self.access_key:
            return "unknown access key id"
        date_stamp, region, service, _ = scope.split("/", 3)
        signed = parts.get("SignedHeaders", "").split(";")
        amz_date = self.headers.get("x-amz-date", "")
        # recency: reject dates not of today/yesterday UTC (replay guard;
        # generous because tests cross midnight)
        today = datetime.datetime.now(datetime.timezone.utc)
        if date_stamp not in {
            (today - datetime.timedelta(days=d)).strftime("%Y%m%d")
            for d in (0, 1)
        }:
            return "signature date too old"
        headers = {
            h: self.headers.get(h, "")
            for h in signed
        }
        headers["host"] = self.headers.get("Host", "")
        u = urlparse(self.path)
        canon = canonical_request(
            "POST", u.path, u.query, headers, signed, payload
        )
        sts = string_to_sign(
            amz_date, f"{date_stamp}/{region}/{service}/aws4_request", canon
        )
        want = sigv4_signature(
            self.secret_key, date_stamp, region, service, sts
        )
        if not hmac.compare_digest(want, parts.get("Signature", "")):
            return "signature mismatch"
        return None

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length") or 0)
        payload = self.rfile.read(n)
        if self.access_key is not None:
            reason = self._verify_sigv4(payload)
            if reason:
                return self._send(
                    403,
                    {
                        "__type": "com.amazon.coral.service#"
                        "InvalidSignatureException",
                        "message": reason,
                    },
                )
        target = self.headers.get("X-Amz-Target", "")
        op = target.rpartition(".")[2]
        fn = self.ops.get(op)
        if fn is None:
            return self._send(
                400,
                {
                    "__type": "com.amazon.coral.service#UnknownOperation",
                    "message": f"unsupported operation {op!r}",
                },
            )
        try:
            body = json.loads(payload or b"{}")
            return self._send(200, fn(self.store, body))
        except self.error as e:
            return self._send(
                400,
                {
                    "__type": f"{self.error_namespace}#{e.code}",
                    "message": str(e),
                },
            )
        except Exception as e:  # noqa: BLE001
            return self._send(
                400,
                {
                    "__type": "com.amazon.coral.service#ValidationException",
                    "message": f"{type(e).__name__}: {e}",
                },
            )


class DynamoDbServer(BackgroundServer):
    """In-process DynamoDB-API stub. With ``access_key``/``secret_key``
    set, every request's SigV4 signature is VERIFIED."""

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
            "BoundDynamoHandler",
            (_Handler,),
            {
                "store": self.store,
                "access_key": access_key,
                "secret_key": secret_key,
                "region": region,
            },
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))
