"""PG wire-protocol tests: a raw-socket v3 client (the byte flow psql
emits) against the live listener — startup handshake, simple query,
error envelope (PostgresWireProtocol.java parity)."""

from __future__ import annotations

import socket
import struct

import pytest

from crate_spark.engine import CrateSession
from crate_spark.pg_wire import serve

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pg_server(spark):
    session = CrateSession(spark, SF_DIR)
    srv = serve(session, port=0)
    yield srv.server_address[1]
    srv.shutdown()


class MiniPgClient:
    """Just enough of the v3 protocol to act like psql's simple flow."""

    def __init__(self, port):
        self.sock = socket.create_connection(("127.0.0.1", port))
        # StartupMessage: protocol 3.0 + user param
        params = b"user\x00crate\x00database\x00doc\x00\x00"
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self._drain_until_ready()

    def _read_msg(self):
        head = self._exact(5)
        tag = head[0:1]
        length = struct.unpack("!I", head[1:5])[0]
        return tag, self._exact(length - 4)

    def _exact(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            assert chunk, "server closed early"
            buf += chunk
        return buf

    def _drain_until_ready(self):
        msgs = []
        while True:
            tag, body = self._read_msg()
            msgs.append((tag, body))
            if tag == b"Z":
                return msgs

    def query(self, sql):
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        cols, rows, err = [], [], None
        self.oids = []  # RowDescription type OIDs, one per column
        for tag, body in self._drain_until_ready():
            if tag == b"T":
                n = struct.unpack("!H", body[:2])[0]
                off = 2
                for _ in range(n):
                    end = body.index(b"\x00", off)
                    cols.append(body[off:end].decode())
                    self.oids.append(struct.unpack("!I", body[end + 7 : end + 11])[0])
                    off = end + 1 + 18  # fixed field descriptor tail
            elif tag == b"D":
                nf = struct.unpack("!H", body[:2])[0]
                off, vals = 2, []
                for _ in range(nf):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(body[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif tag == b"E":
                fields = {}
                for part in body.split(b"\x00"):
                    if part:
                        fields[chr(part[0])] = part[1:].decode()
                err = fields
        return cols, rows, err

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


def test_pg_wire_handshake_and_query(pg_server):
    c = MiniPgClient(pg_server)
    try:
        cols, rows, err = c.query(
            "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 2"
        )
        assert err is None
        assert cols == ["n_nationkey", "n_name"]
        assert rows == [["0", "NATION_0"], ["1", "NATION_1"]]
    finally:
        c.close()


def test_pg_wire_crate_isms_and_types(pg_server):
    c = MiniPgClient(pg_server)
    try:
        cols, rows, err = c.query(
            "SELECT '5'::int + 1 AS six, TRUE AS yes, NULL AS nul, [1, 2] AS arr"
        )
        assert err is None
        assert rows == [["6", "t", None, "{1,2}"]]
    finally:
        c.close()


def test_pg_wire_error_envelope(pg_server):
    c = MiniPgClient(pg_server)
    try:
        _, _, err = c.query("SELECT * FROM not_a_table_at_all")
        assert err and err["S"] == "ERROR" and err["C"] == "42P01"
        # session stays usable after an error (ReadyForQuery resumed)
        cols, rows, err2 = c.query("SELECT 1 AS ok")
        assert err2 is None and rows == [["1"]]
    finally:
        c.close()


def test_pg_wire_extended_protocol(pg_server):
    """Parse/Bind/Describe/Execute/Sync — the flow psycopg3 and JDBC
    drive (Session.parse/bind:403/execute analogs), with $1 params."""
    c = MiniPgClient(pg_server)
    try:
        sql = b"SELECT n_name FROM nation WHERE n_nationkey = $1\x00"
        # Parse (unnamed stmt), no param-type OIDs
        body = b"\x00" + sql + struct.pack("!H", 0)
        c.sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)
        # Bind (unnamed portal <- unnamed stmt), one text param "2"
        val = b"2"
        body = (
            b"\x00" + b"\x00" + struct.pack("!H", 0)
            + struct.pack("!H", 1) + struct.pack("!i", len(val)) + val
            + struct.pack("!H", 0)
        )
        c.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        # Describe portal, Execute, Sync
        body = b"P\x00"
        c.sock.sendall(b"D" + struct.pack("!I", len(body) + 4) + body)
        body = b"\x00" + struct.pack("!I", 0)
        c.sock.sendall(b"E" + struct.pack("!I", len(body) + 4) + body)
        c.sock.sendall(b"S" + struct.pack("!I", 4))
        tags = {}
        for tag, payload in c._drain_until_ready():
            tags.setdefault(tag, []).append(payload)
        assert b"1" in tags and b"2" in tags  # ParseComplete, BindComplete
        assert b"T" in tags and b"D" in tags  # description + data
        assert b"NATION_2" in tags[b"D"][0]
        assert tags[b"C"][0].startswith(b"SELECT 1")
    finally:
        c.close()


class AuthPgClient(MiniPgClient):
    """Startup as an arbitrary user, answering a cleartext password
    challenge (AuthenticationCleartextPassword, code 3)."""

    def __init__(self, port, user, password=None):
        self.sock = socket.create_connection(("127.0.0.1", port))
        params = f"user\x00{user}\x00database\x00doc\x00\x00".encode()
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self.auth_error = None
        while True:
            tag, body = self._read_msg()
            if tag == b"R":
                (code,) = struct.unpack("!I", body[:4])
                if code == 3:
                    pw = (password or "").encode() + b"\x00"
                    self.sock.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
                # code 0 = AuthenticationOk: keep draining to ReadyForQuery
            elif tag == b"E":
                fields = {}
                for f in body.split(b"\x00"):
                    if f:
                        fields[chr(f[0])] = f[1:].decode()
                self.auth_error = fields
                return
            elif tag == b"Z":
                return


def test_wire_auth_password_roundtrip(spark, pg_server):
    """Role-store-backed wire auth (auth/HostBasedAuthentication
    analog): password users get a cleartext challenge; statements run
    AS the authenticated user (privilege enforcement applies)."""
    # the module fixture's session is shared; fetch it via a control client
    ctl = MiniPgClient(pg_server)
    ctl.query("CREATE USER wired WITH (password = 'pw123')")
    ctl.query("GRANT DQL ON SCHEMA doc TO wired")

    good = AuthPgClient(pg_server, "wired", "pw123")
    assert good.auth_error is None
    cols, rows, err = good.query("SELECT count(*) AS n FROM region")
    assert err is None and rows[0][0] == "5"
    # DML not granted -> enforced at the wire surface too
    _c, _r, err = good.query("INSERT INTO region (r_regionkey) VALUES (99)")
    assert err is not None
    good.close()

    bad = AuthPgClient(pg_server, "wired", "wrong")
    assert bad.auth_error is not None and bad.auth_error.get("C") == "28P01"

    ghost = AuthPgClient(pg_server, "nosuchuser")
    assert ghost.auth_error is not None and ghost.auth_error.get("C") == "28000"

    # passwordless users connect without a challenge (trust)
    ctl.query("CREATE USER open_user")
    trusty = AuthPgClient(pg_server, "open_user")
    assert trusty.auth_error is None
    trusty.close()
    ctl.query("DROP USER open_user")
    ctl.query("DROP USER wired")
    ctl.close()


def test_sqlstate_mapping():
    """Error classes map to the PG SQLSTATEs the reference reports."""
    from crate_spark.pg_wire import _sqlstate_of
    from crate_spark.roles import PermissionDenied

    assert _sqlstate_of(PermissionDenied("x not authorized")) == "42501"
    assert _sqlstate_of(ValueError("1 row(s) conflict with existing primary keys")) == "23505"
    assert _sqlstate_of(ValueError("[TABLE_OR_VIEW_NOT_FOUND] nope")) == "42P01"
    assert _sqlstate_of(ValueError("syntax error")) == "42601"


def _extended(c, sql: str, params: list[str]) -> dict:
    """Parse/Bind/Execute/Sync with text params; message tag -> bodies."""
    body = b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0)
    c.sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)
    body = b"\x00\x00" + struct.pack("!H", 0) + struct.pack("!H", len(params))
    for p in params:
        body += struct.pack("!i", len(p)) + p.encode()
    body += struct.pack("!H", 0)
    c.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
    body = b"\x00" + struct.pack("!I", 0)
    c.sock.sendall(b"E" + struct.pack("!I", len(body) + 4) + body)
    c.sock.sendall(b"S" + struct.pack("!I", 4))
    tags: dict = {}
    for tag, payload in c._drain_until_ready():
        tags.setdefault(tag, []).append(payload)
    return tags


def test_pg_wire_extended_pk_clash_is_unique_violation(pg_server):
    """Bind/Execute errors carry the classified SQLSTATE, as simple
    queries do: a duplicate primary key is 23505."""
    c = MiniPgClient(pg_server)
    try:
        assert c.query("CREATE TABLE wire_pk (id int PRIMARY KEY, v text)")[2] is None
        assert c.query("INSERT INTO wire_pk (id, v) VALUES (1, 'a')")[2] is None
        tags = _extended(c, "INSERT INTO wire_pk (id, v) VALUES ($1, $2)", ["1", "b"])
        fields = dict(
            (chr(f[0]), f[1:].decode()) for f in tags[b"E"][0].split(b"\x00") if f
        )
        assert fields["C"] == "23505"
        assert c.query("DROP TABLE wire_pk")[2] is None
    finally:
        c.close()


def test_pg_wire_users_interleave_with_http(spark, tmp_path):
    """pg-wire connections as two users and HTTP clients reading
    sys.jobs share one session concurrently: each pg statement runs as
    its connection's user, each sys.jobs reader sees its own running
    statement, and nothing errors."""
    import json
    import sys
    import threading
    import urllib.request

    from crate_spark.http_sql import serve as serve_http

    session = CrateSession(spark, None, storage_dir=str(tmp_path))
    session.execute("CREATE USER alice")
    pg = serve(session, port=0)
    http = serve_http(session, port=0)
    failures: list = []
    answers: dict[str, list] = {"alice": [], "crate": []}

    def pg_client(user):
        c = AuthPgClient(pg.server_address[1], user)
        try:
            for _ in range(30):
                _cols, rows, err = c.query("SELECT current_user")
                if err is not None:
                    failures.append(err)
                else:
                    answers[user].append(rows[0][0])
        finally:
            c.close()

    def http_client(n):
        # each reader sends its own text: a reader must find ITS entry,
        # not merely some reader's
        stmt = f"SELECT stmt, username FROM sys.jobs WHERE 'r{n}' = 'r{n}'"
        for _ in range(15):
            req = urllib.request.Request(
                f"http://127.0.0.1:{http.server_address[1]}/_sql",
                data=json.dumps({"stmt": stmt}).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as r:
                    resp = json.loads(r.read())
                if "error" in resp or [stmt, "crate"] not in resp["rows"]:
                    failures.append(resp)
            except Exception as e:  # noqa: BLE001 - collected, asserted below
                failures.append(e)

    threads = [threading.Thread(target=pg_client, args=(u,)) for u in ("alice", "crate") * 2]
    threads += [threading.Thread(target=http_client, args=(n,)) for n in range(3)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # switch threads often: widen any race
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
        pg.shutdown()
        http.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert failures == []
    assert answers == {"alice": ["alice"] * 60, "crate": ["crate"] * 60}
    assert session.current_user == "crate"
    assert session.execute("SELECT count(*) AS n FROM sys.jobs").collect()[0]["n"] == 1


def test_pg_wire_concurrent_pk_clash_admits_one(spark, tmp_path):
    """Two connections INSERT the same primary key at the same moment:
    exactly one commits and the other gets 23505, for every key."""
    import threading

    session = CrateSession(spark, None, storage_dir=str(tmp_path))
    session.execute("CREATE TABLE race_pk (id int PRIMARY KEY, v text)")
    pg = serve(session, port=0)
    keys = range(6)
    start = threading.Barrier(2)
    outcomes: dict[int, list] = {k: [] for k in keys}

    def writer(tag):
        c = MiniPgClient(pg.server_address[1])
        try:
            for k in keys:
                start.wait(timeout=120)
                _cols, _rows, err = c.query(
                    f"INSERT INTO race_pk (id, v) VALUES ({k}, '{tag}')"
                )
                outcomes[k].append(None if err is None else err["C"])
        finally:
            c.close()

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        pg.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert {k: sorted(v, key=str) for k, v in outcomes.items()} == {
        k: ["23505", None] for k in keys
    }
    rows = session.execute(
        "SELECT count(*) AS n, count(DISTINCT id) AS d FROM race_pk"
    ).collect()[0]
    assert (rows["n"], rows["d"]) == (len(keys), len(keys))


class _RecordingSocket:
    """Stands in for a client connection: keeps every ``sendall``."""

    def __init__(self):
        self.sent: list[bytes] = []

    def setsockopt(self, *args):
        pass

    def sendall(self, data):
        self.sent.append(bytes(data))


def test_pg_wire_simple_query_reply_is_one_write(spark):
    """RowDescription, the DataRows, CommandComplete and ReadyForQuery
    of one simple query leave in a single write: a reply written in
    pieces waits for the client's delayed ACK."""
    from crate_spark.pg_wire import _PgHandler

    handler = _PgHandler.__new__(_PgHandler)
    handler.request = sock = _RecordingSocket()
    handler.session = CrateSession(spark, SF_DIR)
    handler.setup()
    handler._simple_query(
        sock, "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 3"
    )
    assert len(sock.sent) == 1
    reply, tags = sock.sent[0], []
    while reply:
        tags.append(reply[0:1])
        reply = reply[1 + struct.unpack("!I", reply[1:5])[0]:]
    assert tags == [b"T", b"D", b"D", b"D", b"C", b"Z"]


def _reply_tags(sock) -> list[tuple[bytes, bytes]]:
    reply, out = b"".join(sock.sent), []
    while reply:
        end = 1 + struct.unpack("!I", reply[1:5])[0]
        out.append((reply[0:1], reply[5:end]))
        reply = reply[end:]
    return out


def test_pg_wire_dml_sends_its_command_tag_and_no_rows(spark, tmp_path):
    """A simple-query INSERT, UPDATE, DELETE, CREATE, ALTER, REFRESH or
    DROP answers with no RowDescription or DataRow and a tag of its
    first keyword and count: ``INSERT 0 n``, ``UPDATE n``, ``DELETE n``,
    ``CREATE 1``. INSERT … RETURNING still sends rows."""
    from crate_spark.pg_wire import _PgHandler

    handler = _PgHandler.__new__(_PgHandler)
    handler.request = _RecordingSocket()
    handler.session = CrateSession(spark, None, storage_dir=str(tmp_path))
    handler.setup()

    def reply(sql):
        handler.request = sock = _RecordingSocket()
        handler._simple_query(sock, sql)
        return _reply_tags(sock)

    assert reply("CREATE TABLE f (id int, v text)") == [
        (b"C", b"CREATE 1\x00"), (b"Z", b"I")
    ]
    assert reply("INSERT INTO f (id) VALUES (3), (4)") == [
        (b"C", b"INSERT 0 2\x00"), (b"Z", b"I")
    ]
    assert reply("UPDATE f SET v = 'x' WHERE id = 3") == [
        (b"C", b"UPDATE 1\x00"), (b"Z", b"I")
    ]
    assert reply("DELETE FROM f WHERE id > 0") == [
        (b"C", b"DELETE 2\x00"), (b"Z", b"I")
    ]
    tags = [t for t, _ in reply("INSERT INTO f (id) VALUES (5) RETURNING id")]
    assert tags == [b"T", b"D", b"C", b"Z"]
    assert reply("ALTER TABLE f ADD COLUMN w int") == [
        (b"C", b"ALTER 1\x00"), (b"Z", b"I")
    ]
    assert reply("REFRESH TABLE f") == [(b"C", b"REFRESH 1\x00"), (b"Z", b"I")]
    assert reply("DROP TABLE f") == [(b"C", b"DROP 1\x00"), (b"Z", b"I")]


def test_pg_wire_grant_and_copy_to_send_their_command_tag(spark, tmp_path):
    """GRANT and COPY … TO answer a count: no rows, and the tag
    ``GRANT n`` or ``COPY n``."""
    from crate_spark.pg_wire import _PgHandler

    handler = _PgHandler.__new__(_PgHandler)
    handler.request = _RecordingSocket()
    handler.session = s = CrateSession(spark, None, storage_dir=str(tmp_path))
    handler.setup()
    s.execute("CREATE TABLE f (id int)")
    s.execute("INSERT INTO f (id) VALUES (1), (2)")
    s.execute("CREATE USER alice")

    def reply(sql):
        handler.request = sock = _RecordingSocket()
        handler._simple_query(sock, sql)
        return _reply_tags(sock)

    assert reply("GRANT DQL ON TABLE doc.f TO alice") == [
        (b"C", b"GRANT 1\x00"), (b"Z", b"I")
    ]
    assert reply(f"COPY f TO DIRECTORY '{tmp_path}/out'") == [
        (b"C", b"COPY 2\x00"), (b"Z", b"I")
    ]


def test_pg_wire_extended_dml_describes_no_data(pg_server):
    """An extended-protocol INSERT describes its portal as NoData and
    completes with ``INSERT 0 1``, as a simple query does."""
    c = MiniPgClient(pg_server)
    try:
        assert c.query("CREATE TABLE wire_dml (id int, v text)")[2] is None
        body = b"\x00" + b"INSERT INTO wire_dml (id, v) VALUES ($1, $2)\x00" + struct.pack("!H", 0)
        c.sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)
        body = b"\x00\x00" + struct.pack("!HH", 0, 2)
        for p in (b"1", b"a"):
            body += struct.pack("!i", len(p)) + p
        body += struct.pack("!H", 0)
        c.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        body = b"P\x00"
        c.sock.sendall(b"D" + struct.pack("!I", len(body) + 4) + body)
        body = b"\x00" + struct.pack("!I", 0)
        c.sock.sendall(b"E" + struct.pack("!I", len(body) + 4) + body)
        c.sock.sendall(b"S" + struct.pack("!I", 4))
        msgs = c._drain_until_ready()
        assert [t for t, _ in msgs] == [b"1", b"2", b"n", b"C", b"Z"]
        assert msgs[3][1] == b"INSERT 0 1\x00"
        assert c.query("DROP TABLE wire_dml")[2] is None
    finally:
        c.close()


def test_pg_wire_connection_sets_nodelay(spark, monkeypatch):
    """A connection accepted by ``serve`` has TCP_NODELAY set, read back
    from the accepted socket."""
    import threading

    from crate_spark import pg_wire

    seen, done = [], threading.Event()

    def handle(self):
        seen.append(self.request.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        done.set()

    monkeypatch.setattr(pg_wire._PgHandler, "handle", handle)
    srv = serve(CrateSession(spark, SF_DIR), port=0)
    try:
        socket.create_connection(("127.0.0.1", srv.server_address[1])).close()
        assert done.wait(30)
    finally:
        srv.shutdown()
        srv.server_close()
    assert seen == [1]


def test_pg_wire_row_description_oids_match_pg_attribute(pg_server):
    """RowDescription declares each column with the OID that
    ``pg_catalog.pg_attribute`` reports for it, one storable type per
    column; a timestamp without time zone is 1114 in both."""
    c = MiniPgClient(pg_server)
    try:
        assert c.query(
            "CREATE TABLE wire_types (a text, b integer, c bigint, d smallint,"
            " e byte, f real, g double precision, h boolean, i date,"
            " j timestamp with time zone, k timestamp without time zone,"
            " l numeric(10, 2), m bytea, n array(integer), o object,"
            " p geo_point, q interval, r ip, s float_vector(2))"
        )[2] is None
        cols, _rows, err = c.query("SELECT * FROM wire_types")
        assert err is None and len(cols) == 19
        wire = c.oids
        _cols, rows, err = c.query(
            "SELECT a.atttypid FROM pg_catalog.pg_attribute a "
            "JOIN pg_catalog.pg_class c ON a.attrelid = c.oid "
            "WHERE c.relname = 'wire_types' ORDER BY a.attnum"
        )
        assert err is None
        assert wire == [int(r[0]) for r in rows]
        assert wire[cols.index("k")] == 1114
    finally:
        c.close()
