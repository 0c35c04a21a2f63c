"""HTTP ``_sql`` entry point — the reference's second front door.

Reference: ``rest/action/SqlHttpHandler.java:83`` →
``executeSimpleRequest:230`` → ``Session.quickExec``. Clients POST
``{"stmt": "...", "args": [...]}`` (or ``bulk_args``) to ``/_sql`` and
get ``{"cols": [...], "rows": [...], "rowcount": n, "duration": ms}``;
errors come back as ``{"error": {"message", "code"}}`` with the
reference's error-code families (4000 statement errors, 4043 unknown
relation, 5000 unhandled).

Implementation is stdlib-only (http.server) over :class:`CrateSession`
— the Spark driver is the coordinator node, exactly as the reference's
HTTP handler runs on whichever node receives the request. Row values
JSON-serialize the way the reference does: timestamps as epoch millis,
decimals as numbers, structs as objects.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from crate_spark.datatypes import http_type
from crate_spark.dml import serving
from crate_spark.errors import error_class
from crate_spark.session import rowcount
from crate_spark.statement import COUNT, read_of


def _json_value(v):
    """CrateDB HTTP value mapping (SqlHttpHandler result serialization)."""
    if isinstance(v, datetime.datetime):
        return int(v.timestamp() * 1000)  # timestamps are epoch millis
    if isinstance(v, datetime.date):
        return int(
            datetime.datetime(v.year, v.month, v.day, tzinfo=datetime.timezone.utc).timestamp()
            * 1000
        )
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return {k: _json_value(x) for k, x in v.asDict().items()}
    return v


#: fixed schemas every session exposes (Schemas.java builtins)
_BUILTIN_SCHEMAS = {"doc", "sys", "information_schema", "pg_catalog", "blob"}


#: error class (crate_spark.errors) -> HttpError.java code family:
#: MISSING_USER_PRIVILEGES 4011 (HttpErrorStatus.java:60),
#: DUPLICATE_KEY 4091, unknown relation 4041, statement error 4000
_HTTP_CODES = {
    "permission": 4011, "duplicate_key": 4091, "unknown_relation": 4041,
    "user": 4000, "internal": 5000,
}


def _error_envelope(session, exc: Exception) -> dict:
    """Map an engine exception to the reference's error body
    (``rest/action/HttpError.java`` code families). An unresolved
    relation whose schema prefix names no known schema reports
    SchemaUnknownException/4045, exactly as the reference's analyzer
    does before relation lookup (interfaces/http.rst error example)."""
    cls = error_class(exc)
    if cls == "unknown_relation":
        known = _BUILTIN_SCHEMAS | session._user_schemas()
        st = read_of(exc)
        for rel in st.relations if st else ():
            schema = rel.partition(".")[0]
            if schema not in known:
                return {
                    "message": f"SchemaUnknownException[Schema '{schema}' unknown]",
                    "code": 4045,
                }
    return {"message": str(exc).split("\n")[0][:500], "code": _HTTP_CODES[cls]}


def execute_request(session, payload: dict, *, types: bool = False,
                    error_trace: bool = False) -> dict:
    """One ``/_sql`` request against a CrateSession — the
    ``executeSimpleRequest`` analog. Returns the response dict.
    ``types`` adds ``col_types`` (the ``?types`` GET param);
    ``error_trace`` adds the stack trace to error envelopes.
    Payload validation mirrors ``SQLRequestParser``: a body without a
    ``stmt`` string, or carrying BOTH ``args`` and ``bulk_args``, is a
    4000 parse error (RestSQLActionIntegrationTest.java:173-191)."""
    stmt = payload.get("stmt")
    if not stmt or not isinstance(stmt, str):
        return {
            "error": {
                "message": (
                    "SQLParseException[Can't parse request. Expecting "
                    "payload with `stmt` string and `args` or "
                    "`bulk_args` arrays]"
                ),
                "code": 4000,
            }
        }
    if payload.get("args") and payload.get("bulk_args"):
        return {
            "error": {
                "message": (
                    "SQLParseException[request body contains args and "
                    "bulk_args. It's forbidden to provide both]"
                ),
                "code": 4000,
            }
        }
    if payload.get("bulk_args") == []:
        # empty bulk: nothing executes, ack with an empty result list
        return {"cols": [], "results": [], "duration": 0.0}
    t0 = time.time()
    with serving():  # the statement's files stay until its last row is read
        try:
            if payload.get("bulk_args"):
                # bulk responses: cols always [], one result per arg row;
                # a failing arg row reports rowcount -2 + its error
                # (http.rst "Bulk errors": runtime errors don't abort)
                results = [
                    {"rowcount": -2, "error": _error_envelope(session, r)}
                    if isinstance(r, Exception) else {"rowcount": r}
                    for r in session.execute_bulk(stmt, payload["bulk_args"])
                ]
                return {"cols": [], "results": results,
                        "duration": round((time.time() - t0) * 1000, 3)}
            df = session.execute(stmt, params=payload.get("args"))
            if df is None or read_of(df).reply == COUNT:
                return {"cols": [], "rows": [], "rowcount": 0 if df is None else rowcount(df),
                        "duration": round((time.time() - t0) * 1000, 3)}
            rows = [[_json_value(v) for v in r] for r in df.collect()]
            resp = {
                "cols": list(df.columns),
                "rows": rows,
                "rowcount": len(rows),
                "duration": round((time.time() - t0) * 1000, 3),
            }
            if types:
                resp["col_types"] = [
                    http_type(f.dataType.simpleString()) for f in df.schema.fields
                ]
            return resp
        except Exception as e:  # error envelope, never a raw 500 body
            out = {"error": _error_envelope(session, e)}
            if error_trace:
                import traceback

                out["error_trace"] = traceback.format_exc()[:4000]
            return out


class _Handler(BaseHTTPRequestHandler):
    session = None  # injected by serve()
    #: the reference answers HTTP/1.1 (Netty); curl -i output in
    #: general/blobs.rst prints that status line verbatim
    protocol_version = "HTTP/1.1"
    #: one write per reply: headers and body collect in a buffered
    #: wfile that http.server flushes once after each request, and the
    #: socket sets TCP_NODELAY; headers sent apart from the body wait
    #: for the client's delayed ACK, about 40 ms on Linux
    wbufsize = 64 * 1024
    disable_nagle_algorithm = True

    def handle_expect_100(self):
        # the client sends its body only after this interim reply, so
        # the reply cannot wait in the buffer for the final one
        super().handle_expect_100()
        self.wfile.flush()
        return True

    def _plain(self, code: int, body: bytes = b"", headers: tuple = ()):
        """Response with ONLY the given headers (+content-length) —
        blob routes mirror the reference's lean header set
        (blobs.rst prints `curl -i` output verbatim: no Server/Date)."""
        self.send_response_only(code)
        for k, v in headers:
            self.send_header(k, v)
        if code != 204:  # 204 No Content carries no entity headers
            self.send_header("content-length", str(len(body)))
        self.end_headers()
        if body and self.command != "HEAD":
            self.wfile.write(body)

    def _authed_user(self) -> str | None:
        """HTTP Basic auth against the role store (reference
        auth/HttpAuthUpstreamHandler): no header -> crate (trust);
        wrong password / unknown user -> None (401)."""
        header = self.headers.get("Authorization", "")
        if not header.startswith("Basic "):
            return "crate"
        try:
            user, _, pw = (
                base64.b64decode(header[6:]).decode().partition(":")
            )
        except Exception:
            return None
        role = self.session.roles.roles.get(user.lower())
        if role is None:
            return None
        if role.password is not None and pw != role.password:
            return None
        return role.name

    def do_POST(self):  # noqa: N802 (http.server API)
        path, _, query = self.path.partition("?")
        if path.rstrip("/") not in ("/_sql", ""):
            self.send_error(404)
            return
        user = self._authed_user()
        if user is None:
            self.send_error(401, "password authentication failed")
            return
        # GET params: ?types adds col_types; ?error_trace=true adds
        # the stack trace to error envelopes (SqlHttpHandler.java)
        params = dict(
            (kv.partition("=")[0], kv.partition("=")[2])
            for kv in query.split("&")
            if kv
        )
        length = int(self.headers.get("Content-Length", 0))
        raw = self.rfile.read(length)
        if not raw:
            body = json.dumps(
                {"error": {"message": "SQLParseException[Missing request body]",
                           "code": 4000}}
            ).encode()
            self._plain(400, body, (("Content-Type", "application/json"),))
            return
        try:
            payload = json.loads(raw)
        except json.JSONDecodeError:
            payload = {}
        with self.session.acting_as(user):
            resp = execute_request(
                self.session,
                payload,
                types="types" in params,
                error_trace=params.get("error_trace", "").lower() == "true",
            )
        body = json.dumps(resp).encode()
        # HTTP status tracks the error-code family, as the reference's
        # HttpErrorStatus does: unknown relation/schema -> 404,
        # duplicate key -> 409, user errors -> 400, internal -> 500
        if "error" not in resp:
            status = 200
        else:
            code = resp["error"].get("code", 5000)
            status = {4010: 401, 4011: 401, 4041: 404, 4045: 404,
                      4091: 409}.get(code, 500 if code >= 5000 else 400)
        self._plain(status, body, (("Content-Type", "application/json"),))

    # -- /_blobs/<table>/<digest> (general/blobs.rst HTTP surface) ------
    def _blob_route(self):
        import re as _re

        m = _re.match(r"^/_blobs/(\w+)/([0-9a-fA-F]{40})$", self.path)
        return (m.group(1), m.group(2)) if m else None

    def do_PUT(self):  # noqa: N802
        route = self._blob_route()
        if not route:
            self.send_error(404)
            return
        table, digest = route
        length = int(self.headers.get("Content-Length", 0))
        content = self.rfile.read(length)
        try:
            existed = self.session.blob_exists(table, digest)
            self.session.put_blob(table, content, digest)
        except Exception as e:
            self.send_error(400, str(e).split("\n")[0])
            return
        # reference: 201 Created on new, 409 Conflict on re-upload
        self._plain(409 if existed else 201)

    #: blob cache headers are static — blobs are immutable
    #: (HttpBlobHandler; blobs.rst prints these verbatim)
    _BLOB_CACHE = (
        ("accept-ranges", "bytes"),
        ("expires", "Thu, 31 Dec 2037 23:59:59 GMT"),
        ("cache-control", "max-age=315360000"),
    )

    def do_GET(self):  # noqa: N802
        route = self._blob_route()
        if not route:
            # root banner (MainAndStaticFileHandler): GET / answers the
            # node identity document with ok/status/name/cluster_name
            if self.path.split("?")[0].rstrip("/") in ("", "/admin"):
                body = json.dumps(
                    {
                        "ok": True,
                        "status": 200,
                        "name": "n1",
                        "cluster_name": getattr(
                            self.session, "cluster_name", "crate-spark"
                        ),
                        "version": {
                            "number": "6.5.0",
                            "build_snapshot": False,
                        },
                    },
                    indent=2,
                ).encode()
                self._plain(200, body, (("Content-Type", "application/json"),))
                return
            self.send_error(404)
            return
        try:
            content = self.session.get_blob(*route)
        except Exception:
            self._plain(404)
            return
        self._plain(200, content, self._BLOB_CACHE)

    def do_HEAD(self):  # noqa: N802
        route = self._blob_route()
        if not route:
            self.send_error(404)
            return
        try:
            content = self.session.get_blob(*route)
        except Exception:
            self._plain(404)
            return
        # HEAD advertises the body length without sending it
        # (header order matches the reference's handler render)
        self.send_response_only(200)
        self.send_header("content-length", str(len(content)))
        for k, v in self._BLOB_CACHE:
            self.send_header(k, v)
        self.end_headers()

    def do_DELETE(self):  # noqa: N802
        route = self._blob_route()
        if not route:
            self.send_error(404)
            return
        try:
            ok = self.session.delete_blob(*route)
        except Exception:
            ok = False
        self._plain(204 if ok else 404)

    def log_message(self, *args):  # quiet test runs
        pass


def serve(session, host: str = "127.0.0.1", port: int = 4200) -> ThreadingHTTPServer:
    """Start the ``/_sql`` endpoint (reference default port 4200) on a
    daemon thread; returns the server (call ``.shutdown()`` to stop)."""
    handler = type("BoundHandler", (_Handler,), {"session": session})
    srv = ThreadingHTTPServer((host, port), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
