"""Thin HTTP API over the Engine — response-shape parity with the
reference's Flask surface (reference lib/fossa/views/api.py):

- ``POST /api/0.01/task``      → submit a job spec, returns task_id + links
  (reference api.py:28-72; 503 at capacity, 400 on missing model_class,
  412 on unregistered class)
- ``GET  /api/0.01/node_info`` → capacity/running summary (api.py:75-80)
- ``GET  /api/0.01/task/<id>`` → task status document (api.py:83-103)

stdlib http.server on a daemon thread — deliberately no web framework: the
engine is a library; this is an observability/compat shim, not a service
mesh. Spark's own UI/REST covers stage-level observability.
"""

from __future__ import annotations

import html
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from fossa_spark.engine import CapacityExceeded, Engine, InvalidTaskSpec, parse_job

API_PREFIX = "/api/0.01"


def _make_handler(engine: Engine):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, body: dict | str) -> None:
            """A dict goes out as JSON, a str as an HTML page."""
            is_doc = isinstance(body, dict)
            data = (json.dumps(body) if is_doc else body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json" if is_doc
                             else "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args) -> None:  # quiet
            return

        def do_GET(self) -> None:
            if self.path == f"{API_PREFIX}/node_info":
                self._send(200, engine.node_summary())
            elif self.path.startswith(f"{API_PREFIX}/task/"):
                task_id = self.path.rsplit("/", 1)[-1]
                doc = engine.task_summary(task_id)
                self._send(200 if doc["status"] != "unknown" else 404, doc)
            elif self.path == "/":
                # HTML node view (reference lib/fossa/views/web.py:11-27)
                s = engine.node_summary()
                rows = "".join(
                    f"<li><a href='/task/{html.escape(t, quote=True)}'>"
                    f"{html.escape(t)}</a></li>"
                    for t in s["running_tasks"] + s["previous_tasks"]
                )
                self._send(
                    200,
                    "<html><body><h1>fossa_spark node</h1>"
                    f"<p>capacity: {s['available_processing_capacity']}"
                    f"/{s['max_concurrent_tasks']}</p><ul>{rows}</ul></body></html>",
                )
            elif self.path.startswith("/task/"):
                task_id = self.path.rsplit("/", 1)[-1]
                doc = engine.task_summary(task_id)
                code = 200 if doc["status"] != "unknown" else 404
                # escape everything URL- or job-derived: reflected XSS otherwise
                self._send(
                    code,
                    f"<html><body><h1>task {html.escape(task_id)}</h1>"
                    f"<p>status: {html.escape(doc['status'])}</p>"
                    f"<pre>{html.escape(json.dumps(doc, indent=2, default=str))}"
                    "</pre></body></html>",
                )
            else:
                self._send(404, {"error": "not found"})

        def do_POST(self) -> None:
            if self.path != f"{API_PREFIX}/task":
                self._send(404, {"error": "not found"})
                return
            length = int(self.headers.get("Content-Length", "0"))
            try:
                job = parse_job(self.rfile.read(length))
            except ValueError as e:
                self._send(400, {"error": str(e)})
                return
            try:
                task_id = engine.submit(job)
            except InvalidTaskSpec as e:
                self._send(412, {"error": str(e)})
                return
            except CapacityExceeded as e:
                self._send(503, {"error": str(e)})
                return
            self._send(
                200,
                {
                    "task_id": task_id,
                    "_metadata": {"links": {"task": f"{API_PREFIX}/task/{task_id}"}},
                },
            )

    return Handler


class StatusApi:
    """Serve the engine API on localhost; ``with StatusApi(engine) as api:``
    or ``api.start()`` / ``api.stop()``.

    Serving model (documented trade-off vs the reference): the reference
    fronts its API with gunicorn, workers=4 (reference lib/fossa/main.py:81)
    because each of its requests may fork task processes; here requests
    only read the registry or enqueue to the engine, so the registry must
    stay in THIS process (the Spark driver). One ThreadingHTTPServer
    spawning a thread per request gives that concurrency — more acceptor
    loops in the same GIL-bound process would add nothing. Behind a real
    deployment, put any WSGI front (the handler logic is framework-free) —
    the engine contract does not change."""

    def __init__(self, engine: Engine, port: int = 0):
        self._server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(engine))

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "StatusApi":
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "StatusApi":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
