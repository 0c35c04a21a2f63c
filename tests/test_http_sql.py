"""HTTP ``_sql`` entry-point tests: a live stdlib server over
CrateSession answering reference-shaped requests (SqlHttpHandler.java:
stmt/args/bulk_args in, cols/rows/rowcount or error envelope out)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from crate_spark.engine import CrateSession
from crate_spark.http_sql import execute_request, serve

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def http_session(spark):
    return CrateSession(spark, SF_DIR)


def _post(port, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/_sql",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_sql_roundtrip(http_session):
    srv = serve(http_session, port=0)  # ephemeral port
    port = srv.server_address[1]
    try:
        status, resp = _post(port, {"stmt": "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 2"})
        assert status == 200
        assert resp["cols"] == ["n_nationkey", "n_name"]
        assert resp["rowcount"] == 2 and resp["rows"][0][0] == 0
        assert resp["duration"] > 0
        # parameterized
        status, resp = _post(port, {"stmt": "SELECT n_name FROM nation WHERE n_nationkey = $1", "args": [3]})
        assert status == 200 and resp["rowcount"] == 1
        # error envelope with reference-style code; unknown relation
        # answers 404 like the reference's HttpErrorStatus mapping
        status, resp = _post(port, {"stmt": "SELECT * FROM no_such_table_xyz"})
        assert status == 404 and resp["error"]["code"] == 4041
        # payload validation (SQLRequestParser semantics)
        status, resp = _post(port, {"foo": "bar"})
        assert status == 400 and "stmt" in resp["error"]["message"]
        status, resp = _post(
            port,
            {"stmt": "SELECT 1", "args": [1], "bulk_args": [[1]]},
        )
        assert status == 400 and "forbidden" in resp["error"]["message"]
        status, resp = _post(
            port, {"stmt": "SELECT $1 AS x", "bulk_args": []}
        )
        assert status == 200 and resp == {
            "cols": [], "results": [], "duration": 0.0
        }
        # root banner
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as r:
            banner = json.loads(r.read())
        assert banner["ok"] is True and banner["status"] == 200
        assert "cluster_name" in banner
    finally:
        srv.shutdown()


def test_http_sql_value_serialization(http_session):
    """Timestamps as epoch millis, arrays as JSON arrays — the
    reference's HTTP value mapping."""
    resp = execute_request(
        http_session,
        {"stmt": "SELECT ts, props FROM events WHERE event_id = 0"},
    )
    ts_ms = resp["rows"][0][0]
    assert isinstance(ts_ms, int) and 1_700_000_000_000 < ts_ms < 1_800_000_000_000
    resp2 = execute_request(http_session, {"stmt": "SELECT [1, 2, 3] AS arr"})
    assert resp2["rows"][0][0] == [1, 2, 3]


def test_http_sql_bulk_args(http_session, spark):
    resp = execute_request(
        http_session,
        {
            "stmt": "SELECT n_name FROM nation WHERE n_nationkey = $1",
            "bulk_args": [[0], [1], [99999]],
        },
    )
    assert [r["rowcount"] for r in resp["results"]] == [1, 1, 0]


def test_http_basic_auth(spark, tmp_path):
    """HTTP Basic auth against the role store
    (auth/HttpAuthUpstreamHandler analog): valid creds run AS that
    user; wrong password 401s; no header = trust as crate."""
    import base64
    import json
    import urllib.error
    import urllib.request

    from crate_spark.engine import CrateSession
    from crate_spark.http_sql import serve

    session = CrateSession(spark, "/root/testdata/sf0.001", storage_dir=str(tmp_path))
    session.execute("CREATE USER webuser WITH (password = 's3cret')")
    session.execute("GRANT DQL ON SCHEMA doc TO webuser")
    srv = serve(session, port=0)
    port = srv.server_address[1]

    def post(stmt, auth=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/_sql",
            data=json.dumps({"stmt": stmt}).encode(),
            headers={"Content-Type": "application/json"},
        )
        if auth:
            req.add_header(
                "Authorization", "Basic " + base64.b64encode(auth.encode()).decode()
            )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, None

    try:
        status, body = post("SELECT count(*) AS n FROM region", "webuser:s3cret")
        assert status == 200 and body["rows"][0][0] == 5
        # DML not granted -> MISSING_USER_PRIVILEGES 4011, HTTP 401
        # (HttpErrorStatus.java:60)
        status, body = post(
            "INSERT INTO region (r_regionkey) VALUES (9)", "webuser:s3cret"
        )
        assert status == 401
        assert post("SELECT 1", "webuser:wrong")[0] == 401
        assert post("SELECT 1", "ghost:x")[0] == 401
        # trust without header (superuser)
        assert post("SELECT 1 AS x")[0] == 200
    finally:
        srv.shutdown()


def test_http_bulk_duplicate_key_errors(spark, tmp_path):
    """Bulk runtime errors (http.rst "Bulk errors"): a failing arg row
    reports rowcount -2 + a DuplicateKeyException-family 4091 envelope
    while the other rows still apply; single-statement duplicates map
    to HTTP 409."""
    from crate_spark.engine import CrateSession
    from crate_spark.http_sql import execute_request

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE dupk (id int PRIMARY KEY, v text)")
    s.execute("INSERT INTO dupk (id, v) VALUES (1, 'a')")
    resp = execute_request(
        s,
        {"stmt": "INSERT INTO dupk (id, v) VALUES (?, ?)",
         "bulk_args": [[2, "x"], [1, "y"], [3, "z"]]},
    )
    assert resp["cols"] == []
    rcs = [r["rowcount"] for r in resp["results"]]
    assert rcs == [1, -2, 1]
    assert resp["results"][1]["error"]["code"] == 4091
    assert s.execute("SELECT count(*) AS n FROM dupk").collect()[0]["n"] == 3


def test_http_bulk_dml_reports_rows_affected(spark, tmp_path):
    """A bulk UPDATE or DELETE reports, per argument row, the rows it
    affected (http.rst bulk operations), not the one row of its count
    frame; ``execute_bulk`` returns the same counts."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE bk (id int PRIMARY KEY, g int, v text)")
    s.execute(
        "INSERT INTO bk (id, g, v) VALUES (1, 1, 'a'), (2, 1, 'b'), (3, 1, 'c'), (4, 2, 'd')"
    )
    resp = execute_request(
        s, {"stmt": "UPDATE bk SET v = 'z' WHERE g = ?", "bulk_args": [[1], [9]]}
    )
    assert [r["rowcount"] for r in resp["results"]] == [3, 0]
    resp = execute_request(
        s, {"stmt": "DELETE FROM bk WHERE id = ?", "bulk_args": [[4], [9]]}
    )
    assert [r["rowcount"] for r in resp["results"]] == [1, 0]
    assert s.execute_bulk("UPDATE bk SET v = ? WHERE g = 1", [["y"]]) == [3]
    assert s.execute_bulk("SELECT id FROM bk WHERE g = ?", [[1], [2]]) == [3, 0]


def test_http_dml_answers_a_count_not_a_result_set(spark, tmp_path):
    """A single INSERT, UPDATE, DELETE, CREATE, ALTER, REFRESH or DROP
    answers no columns and no rows, with ``rowcount`` the rows it
    affected or the relations it made, changed or refreshed (http.rst);
    INSERT … RETURNING still answers its rows."""
    s = CrateSession(spark, None, storage_dir=str(tmp_path))

    def shape(stmt):
        resp = execute_request(s, {"stmt": stmt})
        return resp["cols"], resp["rows"], resp["rowcount"]

    assert shape("CREATE TABLE f (id int, v text)") == ([], [], 1)
    assert shape("CREATE TABLE IF NOT EXISTS f (id int)") == ([], [], 0)
    assert shape("CREATE TABLE g (id int)") == ([], [], 1)
    assert shape("ALTER TABLE g ADD COLUMN w int") == ([], [], 1)
    assert shape("REFRESH TABLE f, g") == ([], [], 2)
    assert shape("DROP TABLE g") == ([], [], 1)
    assert shape("INSERT INTO f (id) VALUES (1), (2)") == ([], [], 2)
    assert shape("UPDATE f SET v = 'x' WHERE id = 1") == ([], [], 1)
    assert shape("DELETE FROM f WHERE id > 0") == ([], [], 2)
    assert shape("INSERT INTO f (id) VALUES (3) RETURNING id") == (["id"], [[3]], 1)
    assert shape("SELECT count(*) AS rowcount FROM f") == (["rowcount"], [[1]], 1)


def test_http_privileges_copy_to_and_analyze_answer_a_count(spark, tmp_path):
    """GRANT, DENY, REVOKE, COPY … TO and a bare ANALYZE answer no
    columns and no rows, with ``rowcount`` what they changed or wrote;
    ``ANALYZE t`` keeps its (table, status) result set."""
    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE f (id int)")
    s.execute("INSERT INTO f (id) VALUES (1), (2)")
    s.execute("CREATE USER alice")

    def shape(stmt):
        resp = execute_request(s, {"stmt": stmt})
        return resp["cols"], resp["rows"], resp["rowcount"]

    assert shape("GRANT DQL ON TABLE doc.f TO alice") == ([], [], 1)
    assert shape("DENY DML ON TABLE doc.f TO alice") == ([], [], 1)
    assert shape("REVOKE DQL ON TABLE doc.f FROM alice") == ([], [], 1)
    assert shape(f"COPY f TO DIRECTORY '{tmp_path}/out'") == ([], [], 2)
    assert shape("ANALYZE") == ([], [], 1)
    assert shape("ANALYZE f")[0] == ["table", "status"]


def test_http_concurrent_users_see_only_their_own_principal(spark, tmp_path):
    """Requests from different users run concurrently on one shared
    session: each statement runs as its requester, and the session's
    own user is untouched afterwards."""
    import base64
    import sys
    import threading

    session = CrateSession(spark, None, storage_dir=str(tmp_path))
    session.execute("CREATE USER alice")
    srv = serve(session, port=0)
    port = srv.server_address[1]
    answers: dict[str, list] = {"alice": [], "crate": []}

    def client(user):
        for _ in range(60):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/_sql",
                data=json.dumps({"stmt": "SELECT current_user"}).encode(),
                headers={"Content-Type": "application/json"},
            )
            if user != "crate":
                req.add_header(
                    "Authorization",
                    "Basic " + base64.b64encode(f"{user}:".encode()).decode(),
                )
            with urllib.request.urlopen(req) as r:
                answers[user].append(json.loads(r.read())["rows"][0][0])

    threads = [threading.Thread(target=client, args=(u,))
               for u in ("alice", "crate") * 3]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # switch threads often: widen any race
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert len(answers["alice"]) == len(answers["crate"]) == 180
    assert set(answers["alice"]) == {"alice"}
    assert set(answers["crate"]) == {"crate"}
    assert session.current_user == "crate"


def test_http_connection_sets_nodelay(http_session, monkeypatch):
    """Each reply leaves in one write with TCP_NODELAY: read back from
    the accepted socket of a live server."""
    import socket
    import threading

    from crate_spark import http_sql

    seen, done = [], threading.Event()

    def handle(self):
        seen.append(
            self.connection.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
        )
        done.set()

    monkeypatch.setattr(http_sql._Handler, "handle", handle)
    srv = serve(http_session, port=0)
    try:
        socket.create_connection(("127.0.0.1", srv.server_address[1])).close()
        assert done.wait(30)
    finally:
        srv.shutdown()
        srv.server_close()
    assert seen == [1]


def test_http_expect_100_continue_is_answered_before_the_body(http_session):
    """A client that sends ``Expect: 100-continue`` holds its body back
    until the interim reply arrives; the buffered reply path must send
    that reply at once (curl waits a full second otherwise)."""
    import socket

    srv = serve(http_session, port=0)
    body = json.dumps({"stmt": "SELECT 1 AS one"}).encode()
    try:
        with socket.create_connection(("127.0.0.1", srv.server_address[1])) as c:
            c.settimeout(10)
            c.sendall(
                b"POST /_sql HTTP/1.1\r\nHost: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: %d\r\nExpect: 100-continue\r\n\r\n" % len(body)
            )
            assert c.recv(64).startswith(b"HTTP/1.1 100")
            c.sendall(body)
            reply = b""
            while b'"rows"' not in reply:
                chunk = c.recv(4096)
                assert chunk, "server closed before the final reply"
                reply += chunk
    finally:
        srv.shutdown()
        srv.server_close()
    assert reply.startswith(b"HTTP/1.1 200")
    assert b'"rows": [[1]]' in reply
