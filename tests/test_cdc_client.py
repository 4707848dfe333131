"""Protocol client vs the mock MaxScale server — the reference's test
scenario matrix (gomaxscale_test.go:29-223): happy path, per-stage
failure injection, split frames, garbage interleave, GTID resume."""

from __future__ import annotations

import hashlib
import json

import pytest

from gomaxscale_spark.sources.client import CDCClient, CDCProtocolError, auth_token
from gomaxscale_spark.sources.mock_server import MockMaxScaleServer

DDL = {
    "namespace": "MaxScaleChangeDataSchema.avro",
    "type": "record",
    "name": "ChangeRecord",
    "table": "users",
    "database": "example",
    "version": 1,
    "gtid": "0-1-1",
    "fields": [{"name": "id", "type": "int"}],
}
DML = {
    "domain": 0,
    "server_id": 1,
    "sequence": 42,
    "event_number": 1,
    "timestamp": 1704067200,
    "event_type": "insert",
    "id": 1,
}


def make_client(addr, **kw):
    host, port = addr
    defaults = dict(
        host=host,
        port=port,
        database="example",
        table="users",
        user="maxuser",
        password="maxpwd",
        read_timeout=0.2,
    )
    defaults.update(kw)
    return CDCClient(**defaults)


def test_auth_token_format():
    tok = auth_token("user", "pass")
    decoded = bytes.fromhex(tok.decode())
    user, _, digest = decoded.partition(b":")
    assert user == b"user"
    assert digest == hashlib.sha1(b"pass").digest()


def test_happy_path_ddl_then_dml():
    with MockMaxScaleServer(script=[DDL, DML]) as addr:
        c = make_client(addr)
        c.connect()
        events = list(c.events(max_idle_polls=3))
        c.close()
    kinds = [e.kind for e in events]
    assert kinds == ["ddl", "dml"]
    assert events[0].data["database"] == "example"
    assert events[1].data["sequence"] == 42
    assert json.loads(events[1].raw) == DML  # RawData intact


def test_handshake_requests_on_the_wire():
    srv = MockMaxScaleServer(script=[DML])
    with srv as addr:
        c = make_client(addr, uuid="fixed-uuid", gtid="0-1-40", version=2)
        c.connect()
        list(c.events(max_idle_polls=3))
        c.close()
    assert bytes.fromhex(srv.requests[0].decode()).startswith(b"maxuser:")
    assert srv.requests[1] == b"REGISTER UUID=fixed-uuid, TYPE=JSON"
    assert srv.requests[2] == b"REQUEST-DATA example.users.2 0-1-40"


def test_auth_failure():
    with MockMaxScaleServer(fail_authentication=True) as addr:
        c = make_client(addr)
        with pytest.raises(CDCProtocolError, match="authentication"):
            c.connect()


def test_registration_failure():
    with MockMaxScaleServer(fail_registration=True) as addr:
        c = make_client(addr)
        with pytest.raises(CDCProtocolError, match="registration"):
            c.connect()


def test_events_failure_is_logged_and_stream_ends():
    logs: list[str] = []
    with MockMaxScaleServer(fail_events=True) as addr:
        c = make_client(addr, logger=logs.append)
        c.connect()  # subscribe sends no reply — error arrives in-band
        events = list(c.events(max_idle_polls=3))
        c.close()
    assert events == []
    assert any("events failed" in line for line in logs)


def test_split_and_merged_writes():
    raw = json.dumps(DML).encode()
    script = [raw[:7], raw[7:20], raw[20:] + json.dumps(dict(DML, sequence=43)).encode()]
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        c = make_client(addr)
        c.connect()
        events = list(c.events(max_idle_polls=4))
        c.close()
    assert [e.data["sequence"] for e in events] == [42, 43]


def test_garbage_between_events_logged_and_skipped():
    logs: list[str] = []
    script = [json.dumps(DML).encode(), b"ERR transient wobble", json.dumps(dict(DML, sequence=43)).encode()]
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        c = make_client(addr, logger=logs.append)
        c.connect()
        events = list(c.events(max_idle_polls=4))
        c.close()
    assert [e.data["sequence"] for e in events] == [42, 43]
    assert any("wobble" in line for line in logs)


def test_read_deadline_uses_injected_clock():
    """timeRef parity (gomaxscale_options.go:15-16, stream.go:33): a
    clock returning the past makes the read deadline pre-expired, so
    the timeout path runs deterministically — no real waiting even with
    a 60 s configured read_timeout."""
    import socket
    import time

    with MockMaxScaleServer(script=[], keep_open=5.0) as addr:
        # quiet server: nothing will arrive; a real 60 s timeout would hang
        c = make_client(addr, read_timeout=60.0, time_fn=lambda: time.monotonic() - 120.0)
        start = time.monotonic()
        # connect()'s handshake reads arm the same pre-expired deadline,
        # so under host load the timeout can fire there instead of in
        # scan() — either path is the injected-clock deadline.
        with pytest.raises((socket.timeout, TimeoutError)):
            c.connect()
            c.scan()
        assert time.monotonic() - start < 1.0  # deadline came from the fake clock
        c.close()


def test_readable_reports_buffered_bytes_and_close():
    """readable() never blocks: True once bytes are buffered, False on
    a quiet socket, True again once the server closes — the next scan()
    then raises EOFError."""
    import time

    def wait_readable(c):
        deadline = time.monotonic() + 5.0
        while not c.readable() and time.monotonic() < deadline:
            time.sleep(0.01)
        return c.readable()

    # the server sends DML, stays quiet for write_delay + keep_open, closes
    with MockMaxScaleServer(script=[DML], write_delay=0.5, keep_open=0.25) as addr:
        c = make_client(addr)
        c.connect()
        assert wait_readable(c)
        assert [e.data["sequence"] for e in c.scan()] == [42]
        assert not c.readable()
        assert wait_readable(c)
        with pytest.raises(EOFError):
            c.scan()
        c.close()


def test_classify_dml_with_namespace_column():
    """A DML row from a table that has a column literally named
    `namespace` must classify as DML even when JSON key order defeats
    the fast startswith checks — the fallback parses and dispatches on
    actual top-level keys, preferring 'domain' (the DML envelope)."""
    from gomaxscale_spark.sources.client import classify_frame
    from gomaxscale_spark.sources.framing import JsonFrameScanner

    row = {
        "event_number": 1,  # leading key defeats both prefix checks
        "namespace": "prod-east",  # a *column*, not the schema marker
        "domain": 0,
        "server_id": 1,
        "sequence": 7,
        "timestamp": 1704067200,
        "event_type": "insert",
        "id": 9,
    }
    frames = JsonFrameScanner().feed(json.dumps(row).encode() + b"\n")
    assert len(frames) == 1
    ev = classify_frame(frames[0])
    assert ev.kind == "dml"
    assert ev.data["sequence"] == 7


def test_classify_ddl_with_scrambled_key_order():
    """Schema events keep classifying as DDL through the parsed
    fallback (no top-level 'domain' key)."""
    from gomaxscale_spark.sources.client import classify_frame
    from gomaxscale_spark.sources.framing import JsonFrameScanner

    ddl = {"type": "record", "namespace": "MaxScaleChangeDataSchema.avro",
           "name": "ChangeRecord", "fields": []}
    frames = JsonFrameScanner().feed(json.dumps(ddl).encode() + b"\n")
    ev = classify_frame(frames[0])
    assert ev.kind == "ddl"
