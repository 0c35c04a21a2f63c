"""PostgreSQL wire-protocol entry point (v3, simple-query subset).

Reference: ``protocols/postgres/PostgresWireProtocol.java`` —
``handleStartupBody``, ``handleSimpleQuery:804`` → ``Session.quickExec``;
CrateDB listens on 5432 and identifies as a PG server. This is the
Spark-side analog: a stdlib socket server speaking enough of the v3
protocol for real clients — psql and psycopg2 use the *simple* query
flow for unparameterized statements, which is exactly the subset here:

- SSLRequest → 'N' (no TLS, like the reference with SSL off)
- StartupMessage → AuthenticationOk, ParameterStatus (server_version,
  encoding), BackendKeyData, ReadyForQuery
- 'Q' Query → RowDescription / DataRow* / CommandComplete /
  ReadyForQuery, or ErrorResponse (severity/code/message fields, the
  reference's SQLSTATE-bearing envelope) then ReadyForQuery
- 'X' Terminate

Each reply leaves in one write, as PostgreSQL's backend flushes its
output buffer once per reply, and connections set ``TCP_NODELAY``: a
reply sent in pieces waits for the client's delayed ACK (~40 ms).

Values travel in text format (every type has a text rendering; psql
displays it directly): booleans as t/f, timestamps ISO, arrays in
PG-brace form, NULL as the -1 length marker.
"""

from __future__ import annotations

import datetime
import decimal
import socket
import socketserver
import struct
import threading

from crate_spark.datatypes import pg_oid
from crate_spark.dml import serving
from crate_spark.errors import error_class
from crate_spark.session import rowcount
from crate_spark.statement import COUNT, read_of

_SSL_REQUEST = 80877103
_CANCEL_REQUEST = 80877102

def _text(v) -> str | None:
    """PG text-format rendering."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "{" + ",".join("NULL" if x is None else _text(x) for x in v) + "}"
    if hasattr(v, "asDict"):
        d = v.asDict()
        return "{" + ",".join(f"{k}={_text(x)}" for k, x in d.items()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    return str(v)


#: error class (crate_spark.errors) -> the SQLSTATE the reference's
#: PostgresWireProtocol reports: 42501 insufficient privilege, 23505
#: unique violation, 42P01 undefined table, 42601 syntax error,
#: XX000 internal error
_SQLSTATES = {
    "permission": "42501", "duplicate_key": "23505",
    "unknown_relation": "42P01", "user": "42601", "internal": "XX000",
}


def _sqlstate_of(exc: Exception) -> str:
    return _SQLSTATES[error_class(exc)]


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


#: a reply buffer this large is sent before the reply is complete
_FLUSH_AT = 64 * 1024


class _PgHandler(socketserver.BaseRequestHandler):
    session = None  # injected

    def handle(self):
        sock: socket.socket = self.request
        started = self._startup(sock)
        self._flush(sock)
        if not started:
            return
        while True:
            head = self._read_exact(sock, 5)
            if head is None:
                return
            tag, length = head[0:1], struct.unpack("!I", head[1:5])[0]
            body = self._read_exact(sock, length - 4) or b""
            if tag == b"X":
                return
            with serving():  # a statement's files stay while its rows are sent
                self._dispatch(sock, tag, body)
            self._flush(sock)

    def _dispatch(self, sock, tag: bytes, body: bytes) -> None:
        if tag == b"Q":
            self._simple_query(sock, body.rstrip(b"\x00").decode())
        elif tag == b"P":
            self._parse(sock, body)
        elif tag == b"B":
            self._bind(sock, body)
        elif tag == b"D":
            self._put(sock, self._describe(body))
        elif tag == b"E":
            self._execute(sock, body)
        elif tag == b"C":
            if body[:1] == b"P":  # a closed portal's files may go
                self._portals.pop(body[1:].rstrip(b"\x00").decode(), None)
            self._put(sock, _msg(b"3", b""))  # CloseComplete
        elif tag == b"H":
            pass  # Flush: every reply is flushed when it is complete
        elif tag == b"S":
            # Sync ends the implicit transaction, and with it its portals
            self._portals.clear()
            self._put(sock, _msg(b"Z", b"I"))
        else:
            self._error(sock, "0A000", f"message type {tag!r} not supported")
            self._put(sock, _msg(b"Z", b"I"))

    def _put(self, sock, msg: bytes) -> None:
        self._out += msg
        if len(self._out) >= _FLUSH_AT:
            self._flush(sock)

    def _flush(self, sock) -> None:
        if self._out:
            sock.sendall(self._out)
            self._out.clear()

    # -- extended query protocol (Session.parse/bind/execute analogs) ----
    def setup(self):
        self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._out = bytearray()
        self._stmts: dict[str, str] = {}
        self._portals: dict[str, object] = {}
        self.user = "crate"

    def _exec(self, sql: str, params=None):
        """Run one statement AS the authenticated connection user. A
        connection's statements run one at a time on its own thread;
        connections run concurrently, as HTTP requests do, and their
        table mutations serialize in the storage layer (dml)."""
        with self.session.acting_as(self.user):
            return self.session.execute(sql, params=params)

    def _parse(self, sock, body: bytes) -> None:
        """'P': named statement with $n placeholders (Session.parse)."""
        name, rest = body.split(b"\x00", 1)
        query, _rest = rest.split(b"\x00", 1)
        self._stmts[name.decode()] = query.decode()
        self._put(sock, _msg(b"1", b""))  # ParseComplete

    def _bind(self, sock, body: bytes) -> None:
        """'B': bind text-format params into a portal (Session.bind:403).
        The portal holds a LAZY DataFrame; rows materialize at Execute.
        The files it reads stay until the portal is closed or a Sync
        ends it (``dml.hold``)."""
        portal, rest = body.split(b"\x00", 1)
        stmt_name, rest = rest.split(b"\x00", 1)
        nfmt = struct.unpack("!H", rest[:2])[0]
        off = 2 + 2 * nfmt
        nparams = struct.unpack("!H", rest[off : off + 2])[0]
        off += 2
        params: list = []
        for _ in range(nparams):
            (ln,) = struct.unpack("!i", rest[off : off + 4])
            off += 4
            if ln == -1:
                params.append(None)
            else:
                params.append(rest[off : off + ln].decode())
                off += ln
        sql = self._stmts.get(stmt_name.decode(), "")
        try:
            df = self._exec(sql, params=params or None)
            self._portals[portal.decode()] = df
            self._put(sock, _msg(b"2", b""))  # BindComplete
        except Exception as e:
            self._fail(sock, e)

    def _describe(self, body: bytes) -> bytes:
        kind, name = body[0:1], body[1:].rstrip(b"\x00").decode()
        df = self._portals.get(name)
        if kind == b"S" or df is None or read_of(df).reply == COUNT:
            return _msg(b"n", b"")  # NoData: a statement, or no rows
        return _msg(b"T", self._row_description(df))

    def _execute(self, sock, body: bytes) -> None:
        portal = body.split(b"\x00", 1)[0].decode()
        try:
            self._complete(sock, self._portals.get(portal), describe=False)
        except Exception as e:
            self._fail(sock, e)

    # -- protocol steps --------------------------------------------------
    def _startup(self, sock) -> bool:
        raw = self._read_exact(sock, 8)
        if raw is None:
            return False
        length, code = struct.unpack("!II", raw)
        if code == _SSL_REQUEST:
            sock.sendall(b"N")  # the client waits for this before going on
            raw = self._read_exact(sock, 8)
            if raw is None:
                return False
            length, code = struct.unpack("!II", raw)
        if code == _CANCEL_REQUEST:
            return False
        params_raw = self._read_exact(sock, length - 8) or b""
        # startup params: key\0value\0 ... \0 — we need `user`
        # (auth/HostBasedAuthentication analog; password method when the
        # role has a password, trust otherwise)
        parts = params_raw.split(b"\x00")
        params = dict(zip(parts[0::2], parts[1::2]))
        self.user = (params.get(b"user", b"crate").decode() or "crate").lower()
        role = self.session.roles.roles.get(self.user)
        if role is None:
            self._error(sock, "28000", f'role "{self.user}" does not exist')
            return False
        if role.password is not None:
            # AuthenticationCleartextPassword (PasswordAuthenticationMethod)
            sock.sendall(_msg(b"R", struct.pack("!I", 3)))  # awaits the password
            tag = self._read_exact(sock, 1)
            if tag != b"p":
                return False
            (plen,) = struct.unpack("!I", self._read_exact(sock, 4))
            pw = self._read_exact(sock, plen - 4) or b"\x00"
            if pw[:-1].decode(errors="replace") != role.password:
                self._error(sock, "28P01", f'password authentication failed for user "{self.user}"')
                return False
        self._put(sock, _msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
        for k, v in (
            ("server_version", "14.0"),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("crate_version", "5.x-spark"),
        ):
            self._put(sock, _msg(b"S", _cstr(k) + _cstr(v)))
        self._put(sock, _msg(b"K", struct.pack("!II", 0, 0)))  # BackendKeyData
        self._put(sock, _msg(b"Z", b"I"))  # ReadyForQuery (idle)
        return True

    def _simple_query(self, sock, sql: str) -> None:
        try:
            self._complete(sock, self._exec(sql), describe=True)
        except Exception as e:
            self._fail(sock, e)
        self._put(sock, _msg(b"Z", b"I"))
        self._flush(sock)

    def _complete(self, sock, df, *, describe: bool) -> None:
        """Send df's rows and CommandComplete (a bare OK for no result;
        for a statement answered by a count, no rows and its first
        keyword and the count: ``INSERT 0 n``, ``UPDATE n``, ``CREATE 1``); a
        simple query sends RowDescription first, an extended Execute
        does not (Describe sent it)."""
        if df is None:
            self._put(sock, _msg(b"C", _cstr("OK")))
            return
        st = read_of(df)
        if st.reply == COUNT:
            n = rowcount(df)
            tag = f"INSERT 0 {n}" if st.verb == "INSERT" else f"{st.verb} {n}"
            self._put(sock, _msg(b"C", _cstr(tag)))
            return
        rows = df.collect()
        if describe:
            self._put(sock, _msg(b"T", self._row_description(df)))
        self._data_rows(sock, df.schema.fields, rows)
        self._put(sock, _msg(b"C", _cstr(f"SELECT {len(rows)}")))

    @staticmethod
    def _row_description(df) -> bytes:
        fields = df.schema.fields
        desc = struct.pack("!H", len(fields))
        for f in fields:
            # table oid, attnum, type oid, typlen -1 (variable),
            # typmod -1, format 0 (text)
            desc += _cstr(f.name) + struct.pack(
                "!IHIhih", 0, 0, pg_oid(f.dataType.simpleString()), -1, -1, 0
            )
        return desc

    def _data_rows(self, sock, fields, rows) -> None:
        for r in rows:
            payload = struct.pack("!H", len(fields))
            for v in r:
                t = _text(v)
                if t is None:
                    payload += struct.pack("!i", -1)
                else:
                    b = t.encode()
                    payload += struct.pack("!I", len(b)) + b
            self._put(sock, _msg(b"D", payload))

    def _fail(self, sock, exc: Exception) -> None:
        self._error(sock, _sqlstate_of(exc), str(exc).split("\n")[0][:400])

    def _error(self, sock, sqlstate: str, message: str) -> None:
        """ErrorResponse with severity/SQLSTATE/message fields — the
        envelope `SQLExceptions.createSQLActionException` fills."""
        payload = (
            b"S" + _cstr("ERROR") + b"C" + _cstr(sqlstate) + b"M" + _cstr(message) + b"\x00"
        )
        self._put(sock, _msg(b"E", payload))

    @staticmethod
    def _read_exact(sock, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf


def serve(session, host: str = "127.0.0.1", port: int = 5432):
    """Start the PG wire listener (reference default 5432) on a daemon
    thread; returns the server (``.shutdown()`` to stop)."""
    handler = type("BoundPg", (_PgHandler,), {"session": session})

    class _Srv(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    srv = _Srv((host, port), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
