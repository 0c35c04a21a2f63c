"""The table commit path: part files are immutable, a JSON manifest of
the live files is the commit point, and files a commit replaces are
retired, then deleted by a later commit once no statement that started
before the retirement is still being served.

Pinned here: a reader never loses a file it listed while another thread
commits (HTTP ``execute_request`` against UPDATE, INSERT and DELETE), a
frame returned by ``execute``, a cursor and a pg-wire portal read their
files across later commits until they are released, a small PK table
stays one split as it grows, ALTER TABLE rewrites the version current
under the write lock, ``information_schema.table_partitions`` follows
the manifest, RETURNING answers only the inserted rows, an append to a
published table adds its own files only, a subscription's snapshot
reads no file a commit retired before the publication, and a scan of
many listed files runs no listing job.
"""

from __future__ import annotations

import os
import struct
import threading

import pytest

from crate_spark.dml import CrateTable
from crate_spark.engine import CrateSession
from crate_spark.http_sql import execute_request
from tests.test_local_frames import _jobs


@pytest.fixture()
def s(spark, tmp_path):
    return CrateSession(spark, None, storage_dir=str(tmp_path))


def _values(lo: int, hi: int) -> str:
    return ", ".join(f"({k}, {k % 8}, {k * 0.5}, 's{k}')" for k in range(lo, hi))


def _disk_files(path: str) -> list[str]:
    return [f for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def test_reader_never_loses_a_file_while_a_writer_commits(s):
    s.execute("CREATE TABLE rw (k int PRIMARY KEY, v int)")
    s.execute("INSERT INTO rw (k, v) VALUES " + ", ".join(f"({k}, 0)" for k in range(50)))
    done = threading.Event()
    answers: list[dict] = []

    def read():
        while not done.is_set():
            answers.append(execute_request(s, {"stmt": "SELECT count(*) FROM rw"}))

    reader = threading.Thread(target=read)
    reader.start()
    try:
        for i in range(8):
            for stmt in (
                "UPDATE rw SET v = v + 1",
                f"INSERT INTO rw (k, v) VALUES ({1000 + i}, 0)",
                f"DELETE FROM rw WHERE k = {1000 + i}",
            ):
                assert "error" not in execute_request(s, {"stmt": stmt}), stmt
    finally:
        done.set()
        reader.join(timeout=120)
    assert not reader.is_alive()
    errors = [a["error"]["message"] for a in answers if "error" in a]
    assert not errors, errors[:3]
    assert answers and {a["rows"][0][0] for a in answers} <= {50, 51}


def test_a_frame_held_across_later_commits_still_collects(s):
    s.execute("CREATE TABLE held (k int PRIMARY KEY, v int)")
    s.execute("INSERT INTO held (k, v) VALUES " + ", ".join(f"({k}, {k})" for k in range(20)))
    table = s._dml.crate_tables["held"]
    frame, read = s.execute("SELECT sum(v) FROM held"), table.files()
    s.execute("UPDATE held SET v = v + 1")
    s.execute("INSERT INTO held (k, v) VALUES (100, 0)")
    s.execute("INSERT INTO held (k, v) VALUES (101, 0)")
    assert frame.collect()[0][0] == sum(range(20))
    assert s.execute("SELECT sum(v) FROM held").collect()[0][0] == sum(range(20)) + 20
    del frame  # the files it read go at the next commit
    s.execute("INSERT INTO held (k, v) VALUES (102, 0)")
    assert not any(os.path.exists(p) for p, _ in read)


def test_a_cursor_reads_its_files_until_close(s):
    s.execute("CREATE TABLE cur (k int PRIMARY KEY, v int)")
    s.execute("INSERT INTO cur (k, v) VALUES " + ", ".join(f"({k}, {k})" for k in range(20)))
    s.execute("DECLARE c NO SCROLL CURSOR WITH HOLD FOR SELECT k FROM cur ORDER BY k")
    read = s._dml.crate_tables["cur"].files()
    # each rewrites the table's one file together with its batch
    s.execute("INSERT INTO cur (k, v) VALUES (100, 0)")
    s.execute("INSERT INTO cur (k, v) VALUES (101, 0)")
    assert [r[0] for r in s.execute("FETCH 3 FROM c").collect()] == [0, 1, 2]
    assert len(s.execute("FETCH ALL FROM c").collect()) == 17
    s.execute("CLOSE c")
    s.execute("INSERT INTO cur (k, v) VALUES (102, 0)")
    assert not any(os.path.exists(p) for p, _ in read)


def test_a_pg_wire_portal_reads_its_files_until_sync(s):
    from crate_spark.pg_wire import serve
    from tests.test_pg_wire import MiniPgClient

    s.execute("CREATE TABLE port (k int PRIMARY KEY, v int)")
    s.execute("INSERT INTO port (k, v) VALUES " + ", ".join(f"({k}, {k})" for k in range(20)))
    read = s._dml.crate_tables["port"].files()
    srv = serve(s, port=0)
    c = MiniPgClient(srv.server_address[1])

    def send(tag: bytes, body: bytes) -> None:
        c.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def bind(portal: bytes, sql: str) -> None:
        send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        send(b"B", portal + b"\x00\x00" + struct.pack("!HHH", 0, 0, 0))

    try:
        # portal "a" is bound, two appends commit (each at its Bind),
        # then "a" is executed: one pipeline, one Sync
        bind(b"a", "SELECT count(*) FROM port")
        bind(b"", "INSERT INTO port (k, v) VALUES (100, 0)")
        bind(b"", "INSERT INTO port (k, v) VALUES (101, 0)")
        send(b"E", b"a\x00" + struct.pack("!I", 0))
        send(b"S", b"")
        tags: dict = {}
        for tag, payload in c._drain_until_ready():
            tags.setdefault(tag, []).append(payload)
        assert b"E" not in tags, tags.get(b"E")
        assert tags[b"D"] == [struct.pack("!HI", 1, 2) + b"20"]
        assert c.query("INSERT INTO port (k, v) VALUES (102, 0)")[2] is None
        assert not any(os.path.exists(p) for p, _ in read)
    finally:
        c.close()
        srv.shutdown()


def test_forty_pk_appends_stay_one_split(s):
    s.execute("CREATE TABLE grow (k bigint PRIMARY KEY, g int, v double, s text)")
    for i in range(40):
        s.execute(f"INSERT INTO grow (k, g, v, s) VALUES {_values(i * 200, i * 200 + 200)}")
    table = s._dml.crate_tables["grow"]
    assert len(_disk_files(table.path)) <= 3
    assert len(table.files()) == 1
    plan = table.relation()._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan
    assert s.execute("SELECT count(*), count(DISTINCT k) FROM grow").collect()[0][:] == (8000, 8000)


def test_alter_table_rewrites_the_version_current_under_the_lock(s, monkeypatch):
    """An INSERT sent while DROP COLUMN reads the table commits before
    or after the rewrite, never between the read and the commit."""
    s.execute("CREATE TABLE alt (k int, b text, c text)")
    s.execute("INSERT INTO alt (k, b, c) VALUES (1, 'x', 'y'), (2, 'x', 'y')")
    read = CrateTable.read
    writers: list[threading.Thread] = []

    def read_then_insert(self, files=None):
        rows = read(self, files)
        if not writers:
            writer = threading.Thread(
                target=s.execute, args=("INSERT INTO alt (k, b) VALUES (3, 'z')",)
            )
            writers.append(writer)
            writer.start()
            # at most until the INSERT commits; it waits for the lock
            # when the rewrite holds it
            writer.join(timeout=5)
        return rows

    monkeypatch.setattr(CrateTable, "read", read_then_insert)
    s.execute("ALTER TABLE alt DROP COLUMN c")
    writers[0].join(timeout=120)
    assert not writers[0].is_alive()
    monkeypatch.undo()
    rows = s.execute("SELECT k, b FROM alt ORDER BY k").collect()
    assert [tuple(r) for r in rows] == [(1, "x"), (2, "x"), (3, "z")]
    assert s.execute("SELECT * FROM alt").columns == ["k", "b"]


def test_a_partition_emptied_by_delete_leaves_table_partitions(s):
    s.execute("CREATE TABLE parts (id int, region text) PARTITIONED BY (region)")
    s.execute("INSERT INTO parts (id, region) VALUES (1, 'eu'), (2, 'eu'), (11, 'us')")
    stmt = "SELECT partition_ident FROM information_schema.table_partitions WHERE table_name = 'parts'"

    def idents():
        return sorted(r[0] for r in s.execute(stmt).collect())

    assert idents() == ["region=eu", "region=us"]
    assert s.execute("DELETE FROM parts WHERE id < 10").collect()[0][0] == 2
    assert idents() == ["region=us"]
    assert [tuple(r) for r in s.execute("SELECT id, region FROM parts").collect()] == [(11, "us")]


def test_insert_returning_answers_only_the_inserted_rows(s):
    s.execute("CREATE TABLE ret (k int PRIMARY KEY, v text)")
    s.execute("INSERT INTO ret (k, v) VALUES (1, 'a'), (2, 'b')")
    out = s.execute("INSERT INTO ret (k, v) VALUES (3, 'c') RETURNING k, v").collect()
    assert [tuple(r) for r in out] == [(3, "c")]
    assert s.execute("SELECT count(*) FROM ret").collect()[0][0] == 3


def test_an_append_to_a_published_table_adds_its_own_files(s):
    s.execute("CREATE TABLE pub_t (k int PRIMARY KEY, v text)")
    s.execute("INSERT INTO pub_t (k, v) VALUES (1, 'a')")
    s.execute("CREATE PUBLICATION p FOR TABLE pub_t")
    table = s._dml.crate_tables["pub_t"]
    first = table.files()
    s.execute("INSERT INTO pub_t (k, v) VALUES (2, 'b')")
    assert table.files()[: len(first)] == first and len(table.files()) == 2
    s.execute("DROP PUBLICATION p")
    s.execute("INSERT INTO pub_t (k, v) VALUES (3, 'c')")
    assert len(table.files()) == 1
    assert s.execute("SELECT count(*) FROM pub_t").collect()[0][0] == 3


def test_a_subscription_snapshot_reads_no_retired_rows(spark, tmp_path):
    publisher = CrateSession(spark, None, storage_dir=str(tmp_path / "pub"))
    subscriber = CrateSession(spark, None, storage_dir=str(tmp_path / "sub"))
    publisher.execute("CREATE TABLE tk (id int PRIMARY KEY, sym text)")
    publisher.execute("INSERT INTO tk (id, sym) VALUES (1, 'a')")
    # rewrites the first file together with its batch and retires it
    publisher.execute("INSERT INTO tk (id, sym) VALUES (2, 'b')")
    publisher.execute("CREATE PUBLICATION tp FOR TABLE tk")
    subscriber.execute(
        f"CREATE SUBSCRIPTION ts CONNECTION 'file://{publisher.storage_dir}' PUBLICATION tp"
    )
    try:
        subscriber.subscriptions.wait_for_sync("ts")
        rows = subscriber.execute("SELECT id, sym FROM tk ORDER BY id").collect()
        assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
    finally:
        subscriber.execute("DROP SUBSCRIPTION ts")


def test_a_forty_file_clustered_table_lists_its_files_without_a_job(s):
    """A read of the files the manifest lists stats them on the driver:
    more paths than Spark's parallel-listing threshold (32) would run a
    listing job at each scan an INSERT builds, where a directory read of
    the same table runs none."""
    s.execute("CREATE TABLE cl (k int PRIMARY KEY, v int) CLUSTERED BY (k) INTO 4 SHARDS")
    for i in range(10):
        s.execute("INSERT INTO cl (k, v) VALUES " + ", ".join(f"({k}, 0)" for k in range(i * 20, i * 20 + 20)))
    assert len(s._dml.crate_tables["cl"].files()) == 40
    assert _jobs(s.spark, lambda: s.execute("INSERT INTO cl (k, v) VALUES (1000, 0), (1001, 1)")) == 3
    assert _jobs(s.spark, lambda: s.execute("SELECT count(*) FROM cl").collect()) == 2
