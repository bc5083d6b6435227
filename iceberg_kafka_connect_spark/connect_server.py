"""Kafka Connect REST API twin over ConnectWorker.

The public Connect REST protocol (the surface the reference's README
drives: ``POST /connectors`` with the connector JSON, status, pause /
resume / restart / stop, delete, config validation) served by the
stdlib HTTP stack against an in-process ConnectWorker. Routes and
status shapes follow the public API so existing deployment tooling
(scripts that poll /status, CI that PUTs configs) ports unchanged.
"""

from __future__ import annotations

import hmac
from http.server import ThreadingHTTPServer
from urllib.parse import urlparse

from .connect_worker import SINK_CLASS, ConnectError, ConnectWorker
from .background import BackgroundServer, JsonHandler

_VERSION = "3.5.1-spark-twin"


class _Handler(JsonHandler):
    worker: ConnectWorker
    token: str | None

    def _err(self, code: int, msg: str) -> None:
        self._send(code, {"error_code": code, "message": msg})

    def _auth_ok(self) -> bool:
        if self.token is None:
            return True
        got = self.headers.get("Authorization", "")
        return hmac.compare_digest(got, f"Bearer {self.token}")

    def _route(self, method: str) -> None:
        if not self._auth_ok():
            return self._err(401, "bearer token mismatch")
        parts = [p for p in urlparse(self.path).path.split("/") if p]
        w = self.worker
        try:
            if method == "GET" and not parts:
                return self._send(
                    200,
                    {
                        "version": _VERSION,
                        "commit": "0",
                        "kafka_cluster_id": "file-twin",
                    },
                )
            if parts == ["connector-plugins"] and method == "GET":
                return self._send(
                    200,
                    [{"class": SINK_CLASS, "type": "sink",
                      "version": _VERSION}],
                )
            # PUT /connector-plugins/{class}/config/validate
            if (
                method == "PUT"
                and len(parts) == 4
                and parts[0] == "connector-plugins"
                and parts[2:] == ["config", "validate"]
            ):
                from .connect_worker import validate_config

                config = self._body()
                errs = validate_config(config)
                configs = [
                    {
                        "definition": {"name": "connector.class"},
                        "value": {
                            "name": "connector.class",
                            "value": config.get("connector.class"),
                            "errors": errs,
                        },
                    }
                ]
                return self._send(
                    200,
                    {
                        "name": parts[1],
                        "error_count": len(errs),
                        "configs": configs,
                    },
                )
            if parts[:1] == ["connectors"]:
                if len(parts) == 1:
                    if method == "GET":
                        return self._send(200, w.names())
                    if method != "POST":
                        return self._err(
                            405, f"{method} not allowed on /connectors"
                        )
                    if method == "POST":
                        body = self._body()
                        name = body.get("name")
                        if not name:
                            return self._err(400, "name is required")
                        info, _ = w.create_or_update(
                            name,
                            body.get("config") or {},
                            create_only=True,
                        )
                        return self._send(201, info)
                name = parts[1]
                tail = parts[2:]
                if method == "GET" and not tail:
                    return self._send(200, w.info(name))
                if method == "GET" and tail == ["config"]:
                    return self._send(200, w.info(name)["config"])
                if method == "PUT" and tail == ["config"]:
                    info, created = w.create_or_update(name, self._body())
                    return self._send(201 if created else 200, info)
                if method == "GET" and tail == ["status"]:
                    return self._send(200, w.status(name))
                if method == "GET" and tail == ["topics"]:
                    return self._send(200, w.topics_of(name))
                if method == "GET" and tail == ["offsets"]:
                    return self._send(200, w.offsets(name))
                if method == "PUT" and tail == ["pause"]:
                    w.pause(name)
                    return self._send(202)
                if method == "PUT" and tail == ["resume"]:
                    w.resume(name)
                    return self._send(202)
                if method == "PUT" and tail == ["stop"]:
                    w.stop(name)
                    return self._send(204)
                if method == "POST" and tail == ["restart"]:
                    w.restart(name)
                    return self._send(204)
                if method == "DELETE" and not tail:
                    w.delete(name)
                    return self._send(204)
            return self._err(404, f"no route {method} {self.path}")
        except ConnectError as exc:
            return self._err(exc.code, exc.message)
        except Exception as exc:  # noqa: BLE001 — HTTP boundary: a
            # build-time ParseException etc. must yield a 500 response,
            # never a dropped connection
            return self._err(500, f"{type(exc).__name__}: {exc}")

    def do_GET(self):  # noqa: N802
        self._route("GET")

    def do_POST(self):  # noqa: N802
        self._route("POST")

    def do_PUT(self):  # noqa: N802
        self._route("PUT")

    def do_DELETE(self):  # noqa: N802
        self._route("DELETE")


class ConnectRestServer(BackgroundServer):
    """In-process Connect REST endpoint bound to a ConnectWorker; serves
    from construction, and stopping it shuts the worker down too."""

    def __init__(
        self,
        worker: ConnectWorker,
        host: str = "127.0.0.1",
        port: int = 0,
        token: str | None = None,
    ) -> None:
        handler = type(
            "_Bound", (_Handler,), {"worker": worker, "token": token}
        )
        super().__init__(ThreadingHTTPServer((host, port), handler))
        self.worker = worker
        self.start()

    def stop(self) -> None:
        self.worker.shutdown()
        super().stop()
