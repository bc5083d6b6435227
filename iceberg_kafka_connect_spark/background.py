"""Background serving for the in-process service twins.

Every in-process service — schema registry, Connect REST, Iceberg REST,
Nessie, Glue, DynamoDB and the Hive Metastore — is a
:class:`BackgroundServer`: it wraps one ``socketserver`` server, serves
it on a daemon thread and owns the lifecycle (``start`` / ``stop`` /
``close``, the context manager, ``uri``). The HTTP services answer JSON
through :class:`JsonHandler`.

Stdlib only, and outside ``sinks/`` on purpose: the schema-registry
client runs inside Spark's Python workers, and importing it must not
drag the lakehouse engine into every worker.
"""

from __future__ import annotations

import json
import socketserver
import threading
from http.server import BaseHTTPRequestHandler


class BackgroundServer:
    """Serves a ``socketserver`` server on a daemon thread. ``start`` is
    idempotent; ``stop`` (alias ``close``) ends the serve loop and
    releases the socket; ``with`` does both."""

    def __init__(self, server: socketserver.BaseServer):
        server.daemon_threads = True
        self._server = server
        self._thread: threading.Thread | None = None

    @property
    def uri(self) -> str:
        h, p = self._server.server_address[:2]
        return f"http://{h}:{p}"

    def start(self):
        if self._thread is None:
            self._thread = threading.Thread(
                # poll_interval: shutdown() blocks until the serve loop's
                # next poll tick — the 0.5s default charges every gate
                # that stops a server ~0.25s of pure latency; 10ms polls
                # are free
                target=lambda: self._server.serve_forever(poll_interval=0.01),
                daemon=True,
            )
            self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is not None:
            self._server.shutdown()
            self._thread.join(timeout=5)
        self._server.server_close()

    def close(self) -> None:
        self.stop()

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class JsonHandler(BaseHTTPRequestHandler):
    """JSON request plumbing: quiet logs, a JSON reply, a JSON body."""

    content_type = "application/json"

    def log_message(self, *a):  # noqa: D102 — no per-request stderr lines
        pass

    def _send(self, code: int, obj=None) -> None:
        """Reply ``obj`` as JSON; None (or a HEAD request) sends no body."""
        body = b""
        if obj is not None and self.command != "HEAD":
            body = json.dumps(obj).encode()
        self.send_response(code)
        if obj is not None:
            self.send_header("Content-Type", self.content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n) or b"{}")
