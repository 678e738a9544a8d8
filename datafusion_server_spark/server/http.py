"""REST front-end on the stdlib HTTP server (no web framework in this
container). Routes mirror the reference's axum router
(/root/reference/lib/src/server/routes.rs:24-56):

  POST   /dataframe/query
  GET    /session/create?id=&keepAlive=
  GET    /session                     list
  GET    /session/{id}                detail
  DELETE /session/{id}
  POST   /session/{id}/datasource     add source(s)
  GET    /session/{id}/datasource     list sources
  GET    /session/{id}/datasource/{name}
  DELETE /session/{id}/datasource/{name}
  GET    /session/{id}/datasource/{name}/refresh
  POST   /session/{id}/processor      merge processors
  POST   /session/{id}/query          JSON {sql,...} or raw application/sql
  POST   /session/{id}/datasource/save    {"dataSources": [...]}
  POST   /session/{id}/datasource/upload  multipart/form-data, one table
                                          per field
  GET    /healthz | /sysinfo | /metrics
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from datafusion_server_spark.server.api import Engine


# multipart-field format resolution, mirroring the reference's
# format::resolve_from (request/format.rs:8-57): exact content-type match
# first (text/csv, application/json, application/vnd.apache.parquet,
# application/vnd.apache.avro), then filename extension.
_MULTIPART_CT_FORMATS = {
    "text/csv": "csv",
    "application/json": "json",
    "application/vnd.apache.parquet": "parquet",
    "application/vnd.apache.avro": "avro",
}
_MULTIPART_EXT_FORMATS = {"csv": "csv", "json": "json", "parquet": "parquet", "avro": "avro"}


def resolve_multipart_format(content_type: str | None, file_name: str | None) -> str | None:
    ct = (content_type or "").split(";")[0].strip().lower()
    fmt = _MULTIPART_CT_FORMATS.get(ct)
    if fmt is None and file_name and "." in file_name:
        fmt = _MULTIPART_EXT_FORMATS.get(file_name.rsplit(".", 1)[1].lower())
    return fmt


def parse_multipart(content_type: str, body: bytes) -> list[tuple[str | None, str | None, str, bytes]]:
    """Parse a multipart/form-data body with the stdlib email parser.

    Returns (field_name, file_name, part_content_type, data) per part —
    the same tuple the reference's extract::Multipart iteration sees
    (data_source.rs:70-134).
    """
    import email.parser
    import email.policy

    msg = email.parser.BytesParser(policy=email.policy.HTTP).parsebytes(
        b"Content-Type: " + content_type.encode() + b"\r\n\r\n" + body
    )
    if not msg.is_multipart():
        raise ValueError("body is not multipart/form-data")
    parts = []
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        parts.append(
            (name, part.get_filename(), part.get_content_type(), part.get_payload(decode=True) or b"")
        )
    return parts


# Matched-path templates for http metrics labels — the analog of axum's
# MatchedPath the reference labels requests with (metrics.rs:80-99):
# concrete ids collapse to :session_id/:name so label cardinality stays
# bounded. Order matters: literal segments before the :name wildcard.
_PATH_TEMPLATES = (
    (re.compile(r"^/session/[^/]+/datasource/(save|upload)$"), r"/session/:session_id/datasource/\1"),
    (re.compile(r"^/session/[^/]+/datasource/[^/]+/refresh$"), "/session/:session_id/datasource/:name/refresh"),
    (re.compile(r"^/session/[^/]+/datasource/[^/]+$"), "/session/:session_id/datasource/:name"),
    (re.compile(r"^/session/[^/]+/(datasource|processor|query)$"), r"/session/:session_id/\1"),
    (re.compile(r"^/session/(?!create$)[^/]+$"), "/session/:session_id"),
)

_LITERAL_ROUTES = frozenset(
    {"/healthz", "/sysinfo", "/metrics", "/dataframe/query", "/session", "/session/create"}
)


def matched_path(path: str) -> str:
    """Route template for the path metric label. Unrouted paths collapse
    to ONE sentinel label: tracking them verbatim would let any scanner
    allocate unbounded per-URL counter/histogram series (and inject
    arbitrary bytes into label values)."""
    if path in _LITERAL_ROUTES:
        return path
    for rx, template in _PATH_TEMPLATES:
        if rx.match(path):
            return rx.sub(template, path) if "\\1" in template else template
    return "/unmatched"


class PayloadTooLarge(ValueError):
    """Body exceeds session.upload_limit_size — maps to 413, the
    reference's status (custom_extractor.rs:30, http_error.rs:153)."""


class Handler(BaseHTTPRequestHandler):
    engine: Engine  # set by serve()

    # Permissive CORS layer, reference parity (lib/src/server/http.rs:17-34
    # tower_http::cors::CorsLayer): any origin, no credentials, five
    # methods, the five listed request headers. tower-http stamps every
    # response with allow-origin and answers OPTIONS preflight itself;
    # the Vary triple matches its output for `Any` origin.
    _CORS_ALLOW_METHODS = "GET,POST,PUT,DELETE,OPTIONS"
    _CORS_ALLOW_HEADERS = (
        "accept,accept-language,authorization,content-language,content-type"
    )
    _CORS_VARY = (
        "origin, access-control-request-method, access-control-request-headers"
    )

    def _cors(self) -> None:
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Vary", self._CORS_VARY)

    # -- helpers -----------------------------------------------------------

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        limit = self.engine.settings.upload_limit_bytes
        if n > limit:
            raise PayloadTooLarge(f"payload exceeds {limit} bytes")
        return self.rfile.read(n)

    def _json(self):
        return json.loads(self._body() or b"{}")

    def _send(self, code: int, data: bytes, content_type: str = "application/json") -> None:
        self._last_status = code
        self.send_response(code)
        self._cors()
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _send_json(self, code: int, obj) -> None:
        self._send(code, json.dumps(obj).encode())

    def _send_chunked(self, chunks, content_type: str) -> None:
        self._last_status = 200
        self.send_response(200)
        self._cors()
        self.send_header("Content-Type", content_type)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        for chunk in chunks:
            self.wfile.write(f"{len(chunk):x}\r\n".encode())
            self.wfile.write(chunk)
            self.wfile.write(b"\r\n")
        self.wfile.write(b"0\r\n\r\n")

    # reference-parity error slugs by status (http_error.rs constructors);
    # call sites can pass a more specific slug
    _ERROR_SLUGS = {
        400: "uncategorized_error",
        404: "not_found",
        413: "payload_too_large",
        415: "unsupported_format",
        500: "internal_server_error",
    }

    def _error(self, code: int, message: str, slug: str | None = None) -> None:
        """Reference-parity error body (http_error.rs ResponseError):
        ``{"code": <status>, "error": "<slug>", "message": "<detail>"}``."""
        self._send_json(
            code,
            {
                "code": code,
                "error": slug or self._ERROR_SLUGS.get(code, "uncategorized_error"),
                "message": message,
            },
        )

    def log_message(self, fmt, *args):  # quiet
        pass

    # -- routing -----------------------------------------------------------

    def _route(self, method: str) -> None:
        url = urlparse(self.path)
        path = url.path.rstrip("/") or "/"
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        accept = self.headers.get("Accept")
        # base_url prefix (reference routes.rs:53-62): every route is
        # nested under the normalized base; bare /healthz and /metrics
        # stay reachable as ops-probe conveniences (the reference serves
        # metrics on its own unprefixed listener).
        base = self.engine.settings.normalized_base_url
        if base:
            if path.startswith(base + "/") or path == base:
                path = path[len(base):] or "/"
            elif path not in ("/healthz", "/metrics"):
                return self._error(404, f"no route: {method} {path}")
        # stateful-features gate (reference routes.rs:59-62: the session
        # router is not even mounted when disabled — requests 404, they
        # are not rejected with 403)
        if (
            self.engine.settings.server.disable_stateful_features
            and path.startswith("/session")
        ):
            return self._error(404, f"no route: {method} {path}")
        try:
            # health/telemetry
            if method == "GET" and path == "/healthz":
                return self._send(200, b"OK", "text/plain")
            if method == "GET" and path == "/sysinfo":
                import platform

                from datafusion_server_spark.sources import registry

                return self._send_json(200, {
                    "version": __import__("datafusion_server_spark").__version__,
                    "python": platform.python_version(),
                    "spark": self.engine.spark.version,
                    "sessions": len(self.engine.sessions.list()),
                    "connectors": dict(registry.connectors),
                })
            if method == "GET" and path == "/metrics":
                return self._send(200, self.engine.metrics.prometheus().encode(), "text/plain")

            if method == "POST" and path == "/dataframe/query":
                payload = self._json()
                response = payload.get("response") or {}
                if (
                    response.get("format") == "arrow"
                    and response.get("stream")
                    and not payload.get("postProcessors")
                ):
                    # incremental Arrow response (reference A21,
                    # dataframe.rs:83-91): one IPC frame per record batch
                    # over chunked transfer; post-processed results are
                    # buffered
                    return self._send_chunked(
                        self.engine.dataframe_query_stream(payload),
                        "application/vnd.apache.arrow.stream",
                    )
                data, ct = self.engine.dataframe_query(payload, accept)
                return self._send(200, data, ct)

            if method == "GET" and path == "/session/create":
                ka = int(q["keepAlive"]) if "keepAlive" in q else None
                return self._send_json(200, self.engine.session_create(q.get("id"), ka))
            if method == "GET" and path == "/session":
                return self._send_json(200, self.engine.sessions.list())

            m = re.fullmatch(r"/session/([^/]+)", path)
            if m:
                sid = m.group(1)
                if method == "GET":
                    return self._send_json(200, self.engine.session_detail(sid))
                if method == "DELETE":
                    self.engine.sessions.delete(sid)
                    return self._send_json(200, {"deleted": sid})

            # reference router paths (routes.rs:35,46)
            m = re.fullmatch(r"/session/([^/]+)/datasource/(save|upload)", path)
            if m and method == "POST":
                sid, action = m.groups()
                if action == "save":
                    self.engine.session_save(sid, self._json())
                    return self._send_json(200, {"ok": True})
                # reference upload semantics (data_source.rs:70-134): a
                # multipart/form-data body, one table per field; name =
                # field name (required); format from part content-type,
                # else filename ext
                ct = self.headers.get("Content-Type") or ""
                uploaded = []
                for fname, ffile, fct, data in parse_multipart(ct, self._body()):
                    if not fname:
                        return self._error(400, "multipart field name is required")
                    fmt = resolve_multipart_format(fct, ffile)
                    if fmt is None:
                        return self._error(
                            415,
                            "multipart field content-type must be 'text/csv', "
                            "'application/json', or 'application/vnd.apache.parquet'",
                        )
                    self.engine.session_upload(sid, fname, fmt, data)
                    uploaded.append({"name": fname, "format": fmt})
                return self._send_json(200, {"uploaded": uploaded})

            m = re.fullmatch(r"/session/([^/]+)/(\w+)", path)
            if m:
                sid, action = m.groups()
                if action == "datasource":
                    if method == "POST":
                        names = self.engine.session_add_datasource(sid, self._json())
                        return self._send_json(200, {"dataSources": names})
                    if method == "GET":
                        sess = self.engine.sessions.get(sid)
                        return self._send_json(200, sorted(sess.data_sources))
                if action == "processor" and method == "POST":
                    self.engine.session_merge(sid, self._json())
                    return self._send_json(200, {"ok": True})
                if action == "query" and method == "POST":
                    ct = (self.headers.get("Content-Type") or "").lower()
                    payload = (
                        self._body().decode() if "application/sql" in ct else self._json()
                    )
                    data, out_ct = self.engine.session_query(sid, payload, accept)
                    return self._send(200, data, out_ct)

            m = re.fullmatch(r"/session/([^/]+)/datasource/([^/]+)", path)
            if m:
                sid, name = m.groups()
                if method == "GET":
                    return self._send_json(200, self.engine.data_source_detail(sid, name))
                if method == "DELETE":
                    ok = self.engine.remove_data_source(sid, name)
                    return self._send_json(200 if ok else 404, {"removed": ok})

            m = re.fullmatch(r"/session/([^/]+)/datasource/([^/]+)/refresh", path)
            if m and method == "GET":
                self.engine.refresh_data_source(*m.groups())
                return self._send_json(200, {"ok": True})

            return self._error(404, f"no route: {method} {path}")
        except KeyError as e:
            return self._error(404, str(e))
        except PayloadTooLarge as e:  # reference parity: 413
            # The oversized body was never read. Drain a bounded amount
            # before responding: close() with unread data in the
            # receive queue sends RST on Linux, which can destroy the
            # in-flight 413 before the client reads it.
            # Past the drain cap, close anyway — availability over a
            # perfectly-delivered error for a 100x-over-limit sender.
            try:
                remaining = min(
                    int(self.headers.get("Content-Length") or 0), 64 * 1024 * 1024
                )
                while remaining > 0:
                    chunk = self.rfile.read(min(remaining, 1 << 20))
                    if not chunk:
                        break
                    remaining -= len(chunk)
            except OSError:
                pass
            self.close_connection = True
            return self._error(413, str(e))
        except Exception as e:  # surface engine errors as 400s
            return self._error(400, f"{type(e).__name__}: {e}")

    def _tracked(self, method: str) -> None:
        """Request-level telemetry middleware (reference metrics.rs
        track_http:70-99): counter + latency histogram labeled with
        (method, matched path template, status)."""
        import time

        t0 = time.time()
        self._last_status = 500
        try:
            self._route(method)
        finally:
            try:
                path = urlparse(self.path).path.rstrip("/") or "/"
                base = self.engine.settings.normalized_base_url
                if base and (path.startswith(base + "/") or path == base):
                    path = path[len(base):] or "/"
                self.engine.metrics.track_http(
                    method, matched_path(path), self._last_status, time.time() - t0
                )
            except Exception:
                pass

    def do_GET(self):
        self._tracked("GET")

    def do_POST(self):
        self._tracked("POST")

    def do_DELETE(self):
        self._tracked("DELETE")

    def do_OPTIONS(self):
        """CORS preflight (reference http.rs:17-34: the CorsLayer answers
        OPTIONS for every route before routing happens — so this replies
        for any path, exactly like tower-http, and is not metric-tracked
        since the reference's layer sits outside the telemetry layer)."""
        self.send_response(200)
        self._cors()
        self.send_header("Access-Control-Allow-Methods", self._CORS_ALLOW_METHODS)
        self.send_header("Access-Control-Allow-Headers", self._CORS_ALLOW_HEADERS)
        self.send_header("Content-Length", "0")
        self.end_headers()


class _Server(ThreadingHTTPServer):
    """ThreadingHTTPServer with a serving-tier listen backlog.

    The stdlib default ``request_queue_size`` is 5; a concurrency burst
    (the bench's 32-wide one-shot tier, or N clients released together)
    overflows the accept backlog while handler threads hold the GIL on
    a loaded box, and the kernel resets the overflow connections —
    observed as client-side ``ConnectionResetError(104)`` with zero
    server-side errors. 128 matches the listen(2) backlog a production
    HTTP front end would use."""

    request_queue_size = 128


def serve(engine: Engine, host: str = "127.0.0.1", port: int = 4000) -> ThreadingHTTPServer:
    """Start the REST server on a daemon thread; returns the server."""
    handler = type("BoundHandler", (Handler,), {"engine": engine})
    httpd = _Server((host, port), handler)
    thread = threading.Thread(target=httpd.serve_forever, name="rest-server", daemon=True)
    thread.start()
    return httpd


def run_until_signalled(
    engine: Engine, httpd: ThreadingHTTPServer, flight_server=None
) -> None:
    """Block until SIGTERM or SIGINT, then drain gracefully (reference
    signal_handler.rs:5-29 selects over ctrl-c AND terminate): a
    container orchestrator sends SIGTERM, and the server must stop
    accepting, close every live session (drop its views + duration metrics,
    the TTL reaper's path), and exit 0 — not die mid-request. The
    optional Flight gRPC server drains the same way, so active Flight
    streams finish instead of dying at process exit."""
    import signal

    stop = threading.Event()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop.set())
    try:
        stop.wait()
    except KeyboardInterrupt:
        pass
    print("signal received, starting graceful shutdown", flush=True)
    httpd.shutdown()
    if flight_server is not None:
        try:
            # FlightServerBase.shutdown waits for active RPCs to finish
            flight_server.shutdown()
            print("flight server drained", flush=True)
        except Exception as e:  # never let Flight teardown block HTTP drain
            print(f"flight shutdown failed: {e}", flush=True)
    engine.sessions.stop_reaper()
    closed = engine.sessions.close_all()
    print(f"closed {len(closed)} session(s)", flush=True)
