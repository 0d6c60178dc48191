"""Ops HTTP endpoint (reference `runtime/web.rs:19-190`, `app.rs:416-430`
— async-h1 server with slug-dispatched pages, SURVEY.md §2.1 S11).

A stdlib ThreadingHTTPServer on the driver serving JSON: built-in routes
``/`` (app summary), ``/progress`` (per-query StreamingQueryProgress —
the reference's consumer-statistics surface, `kafka/contexts.rs:31-56`),
``/state`` (driver-local app state), plus user pages registered via
``app.page(slug, handler)`` parity.

User pages receive a :class:`Request` (method/path/query/body —
reference routes get ``(Request, Context)``, `types/route.rs:6-67`);
zero-arg handlers keep working (signature-sniffed).

Security: binds 127.0.0.1 by default — ``/state`` dumps driver-local
app state, which must not be reachable from arbitrary network peers.
Pass ``host="0.0.0.0"`` explicitly for the reference's open-bind
behavior.
"""

from __future__ import annotations

import inspect
import json
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse


@dataclass
class Request:
    """Parity with the reference's route Request (`types/route.rs:6-67`):
    method, path, parsed query params, raw body."""

    method: str = "GET"
    path: str = "/"
    query: dict[str, list[str]] = field(default_factory=dict)
    body: bytes = b""

    def param(self, name: str, default: str | None = None) -> str | None:
        vals = self.query.get(name)
        return vals[0] if vals else default


def _call_handler(fn: Callable, req: Request) -> Any:
    try:
        n_params = len(
            [
                p
                for p in inspect.signature(fn).parameters.values()
                if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                and p.default is p.empty
            ]
        )
    except (TypeError, ValueError):
        n_params = 0
    return fn(req) if n_params >= 1 else fn()


class OpsServer:
    def __init__(self, app: Any, host: str = "127.0.0.1", port: int = 3000) -> None:
        self.app = app
        self.routes: dict[str, Callable[..., Any]] = {
            "/": lambda: {
                "app": app.name,
                "agents": sorted(n for n, s in app._streams.items() if s.kind == "agent"),
                "flows": sorted(n for n, s in app._streams.items() if s.kind == "flow"),
                "tables": sorted(getattr(app, "_tables", {})),
                "queries_active": len(getattr(app, "_queries", [])),
            },
            "/progress": lambda: app.progress(),
            "/state": lambda: {k: repr(v) for k, v in app.state.items()},
        }
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def _dispatch(self, method: str) -> None:
                parsed = urlparse(self.path)
                fn = outer.routes.get(parsed.path.rstrip("/") or "/")
                if fn is None:
                    self.send_response(404)
                    self.end_headers()
                    return
                n_body = int(self.headers.get("Content-Length") or 0)
                req = Request(
                    method=method,
                    path=parsed.path,
                    query=parse_qs(parsed.query),
                    body=self.rfile.read(n_body) if n_body else b"",
                )
                try:
                    body = json.dumps(_call_handler(fn, req), default=str).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(body)
                except Exception as exc:  # pragma: no cover
                    self.send_response(500)
                    self.end_headers()
                    self.wfile.write(str(exc).encode())

            def do_GET(self) -> None:  # noqa: N802
                self._dispatch("GET")

            def do_POST(self) -> None:  # noqa: N802
                self._dispatch("POST")

            def log_message(self, *args: Any) -> None:  # silence
                return

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_port
        self._thread: threading.Thread | None = None

    def page(self, slug: str, handler: Callable[..., Any]) -> None:
        """User route parity (`app.rs:416-430`); handler takes () or
        (Request)."""
        self.routes["/" + slug.strip("/")] = handler

    def start(self) -> "OpsServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
