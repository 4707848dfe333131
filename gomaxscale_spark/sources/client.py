"""MaxScale CDC protocol client (the reference's consumer lifecycle,
/root/reference/gomaxscale.go:46-168, minus the goroutine machinery —
Spark's source API supplies the concurrency).

Protocol (public MariaDB MaxScale 6 CDC protocol):
1. connect TCP;
2. authenticate: send ``hex(user + ":" + sha1(password_bytes))``,
   expect a non-error reply (gomaxscale.go:64-81);
3. register: ``REGISTER UUID=<uuid>, TYPE=JSON`` (gomaxscale.go:87-90);
4. subscribe: ``REQUEST-DATA db.table[.version] [gtid]`` — no reply
   read; event JSON starts flowing (gomaxscale.go:96-107);
5. scan frames (framing.py), classify errors like the reference
   (gomaxscale.go:144-158): EOF → stop; timeout → benign poll; bare
   error text → surfaced to the caller's logger and skipped.
"""

from __future__ import annotations

import hashlib
import json
import select
import socket
import time as time_mod
import uuid as uuid_mod
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any, Callable

from .framing import Frame, JsonFrameScanner, is_error_response

HANDSHAKE_BUFFER = 1024  # reference gomaxscale.go:15
DEFAULT_READ_BUFFER = 4096  # reference gomaxscale_options.go:39
MAX_EMPTY_LOOPS = 100  # reference stream.go:102-105


class CDCProtocolError(RuntimeError):
    pass


def auth_token(user: str, password: str) -> bytes:
    """hex(user + ':' + sha1(password)) — gomaxscale.go:64-81."""
    digest = hashlib.sha1(password.encode("utf-8")).digest()
    return (user.encode("utf-8") + b":" + digest).hex().encode("ascii")


@dataclass(slots=True)
class CDCEventFrame:
    """A decoded wire frame: kind ∈ {'ddl', 'dml'} + parsed JSON + raw."""

    kind: str
    data: dict[str, Any]
    raw: bytes


def classify_frame(frame: Frame) -> CDCEventFrame | None:
    """Dispatch exactly like the reference (stream.go:119-141): a
    '{"namespace":' prefix marks DDL, '{"domain":' marks DML; anything
    else is checked for the 'err' substring and otherwise rejected.
    Prefix checks (not substring scans): the listener emits these keys
    first, and startswith is O(13) per ~200-byte event on the single
    socket's serial section."""
    if frame.kind == "json":
        payload = frame.payload
        if payload.startswith(b'{"namespace":'):
            data = frame.obj if isinstance(frame.obj, dict) else json.loads(payload)
            return CDCEventFrame("ddl", data, payload)
        if payload.startswith(b'{"domain":'):
            data = frame.obj if isinstance(frame.obj, dict) else json.loads(payload)
            return CDCEventFrame("dml", data, payload)
        # fall back to parsing before rejecting — key order inside a
        # JSON object is not contractual. Dispatch on the actual
        # top-level keys, 'domain' first: a DML row from a table that
        # happens to have a `namespace` COLUMN carries "namespace" as a
        # top-level key too, and a substring test would misfile it as a
        # schema event.
        obj = frame.obj
        if not isinstance(obj, dict):
            try:
                obj = json.loads(payload)
            except ValueError:
                obj = None
        if isinstance(obj, dict):
            if "domain" in obj:
                return CDCEventFrame("dml", obj, payload)
            if "namespace" in obj:
                return CDCEventFrame("ddl", obj, payload)
    if is_error_response(frame.payload):
        raise CDCProtocolError(f"error raised from maxscale: {frame.payload.decode(errors='replace')}")
    raise CDCProtocolError(f"unknown maxscale event type: {frame.payload.decode(errors='replace')}")


class CDCClient:
    """Blocking protocol client over one TCP connection."""

    def __init__(
        self,
        host: str,
        port: int,
        database: str,
        table: str,
        user: str = "",
        password: str = "",
        version: int | None = None,
        gtid: str = "",
        uuid: str | None = None,
        read_timeout: float = 2.0,  # reference default, gomaxscale_options.go:36
        write_timeout: float | None = None,  # default = 2.0 (gomaxscale_options.go:37)
        buffer_size: int = DEFAULT_READ_BUFFER,
        logger: Callable[[str], None] | None = None,
        time_fn: Callable[[], float] | None = None,
    ) -> None:
        self.host, self.port = host, port
        self.database, self.table = database, table
        self.user, self.password = user, password
        self.version, self.gtid = version, gtid
        self.uuid = uuid or str(uuid_mod.uuid4())
        self.read_timeout = read_timeout
        self.write_timeout = write_timeout if write_timeout is not None else 2.0
        self.buffer_size = buffer_size
        self.log = logger or (lambda msg: None)
        #: injectable clock, the reference's timeRef
        #: (gomaxscale_options.go:15-16): each read arms a deadline of
        #: time_fn() + read_timeout (stream.go:33), so tests inject a
        #: past-returning clock to make deadlines pre-expired — timeout
        #: paths run without real waiting.
        self.time_fn = time_fn or time_mod.monotonic
        self._sock: socket.socket | None = None
        self._scanner = JsonFrameScanner()

    def _arm_read_deadline(self) -> None:
        """SetReadDeadline(timeRef() + read) translated to settimeout:
        remaining wall time until the injected clock's deadline. A tiny
        floor keeps the socket in timeout mode (settimeout(0) would flip
        it to non-blocking, raising BlockingIOError instead)."""
        assert self._sock is not None
        deadline = self.time_fn() + self.read_timeout
        self._sock.settimeout(max(deadline - time_mod.monotonic(), 1e-4))

    def _send_with_deadline(self, data: bytes) -> None:
        """SetWriteDeadline(timeRef() + write) before every protocol
        write (gomaxscale.go:232) — a wedged server can't hang the
        handshake/subscribe sends either."""
        assert self._sock is not None
        deadline = self.time_fn() + self.write_timeout
        self._sock.settimeout(max(deadline - time_mod.monotonic(), 1e-4))
        self._sock.sendall(data)

    # -- lifecycle ---------------------------------------------------

    def connect(self) -> None:
        self._sock = socket.create_connection((self.host, self.port), timeout=self.read_timeout)
        self._handshake_step(auth_token(self.user, self.password), "authentication")
        self._handshake_step(
            f"REGISTER UUID={self.uuid}, TYPE=JSON".encode("ascii"), "registration"
        )
        subscribe = f"REQUEST-DATA {self.database}.{self.table}"
        if self.version is not None:
            subscribe += f".{self.version}"
        if self.gtid:
            subscribe += f" {self.gtid}"
        # no response read — data starts flowing (gomaxscale.go:96-107)
        self._send_with_deadline(subscribe.encode("ascii"))

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None

    def _handshake_step(self, request: bytes, stage: str) -> None:
        assert self._sock is not None
        self._send_with_deadline(request)
        self._arm_read_deadline()  # SetReadDeadline before the reply read
        reply = self._sock.recv(HANDSHAKE_BUFFER)
        if is_error_response(reply):
            raise CDCProtocolError(
                f"failed {stage}: {reply.decode(errors='replace')}"
            )

    # -- event stream --------------------------------------------------

    def scan(self) -> list[CDCEventFrame]:
        """One poll: read until ≥1 complete frame or the liveness guard
        trips. Raises EOFError on server close, socket.timeout on a
        quiet period (benign — caller keeps polling), CDCProtocolError
        on in-band error text."""
        assert self._sock is not None, "connect() first"
        loops = 0
        while True:
            self._arm_read_deadline()  # per-read, like stream.go:33
            chunk = self._sock.recv(self.buffer_size)
            if not chunk:
                raise EOFError("maxscale closed the connection")
            frames = self._scanner.feed(chunk)
            events = []
            for fr in frames:
                events.append(classify_frame(fr))
            if events:
                return events
            loops += 1
            if loops > MAX_EMPTY_LOOPS:
                raise CDCProtocolError("too many network iterations to find a json object")

    def readable(self) -> bool:
        """True when the socket's next recv returns at once: bytes are
        buffered, or the server has closed the connection (``scan()``
        then raises EOFError). A zero-timeout readiness check; never
        blocks."""
        assert self._sock is not None, "connect() first"
        ready, _, _ = select.select([self._sock], [], [], 0)
        return bool(ready)

    def events(self, max_idle_polls: int | None = None) -> Iterator[CDCEventFrame]:
        """Generator over the live stream; terminates on EOF, treats
        timeouts as benign polls, logs-and-continues other errors —
        the reference's error-classification loop (gomaxscale.go:144-158).

        ``max_idle_polls``: stop after N consecutive quiet polls
        (bounded batch replay); None = poll forever (live stream).
        """
        idle = 0
        while True:
            try:
                yield from self.scan()
                idle = 0
            except EOFError:
                return
            except (socket.timeout, TimeoutError):
                idle += 1
                if max_idle_polls is not None and idle >= max_idle_polls:
                    return
                continue
            except CDCProtocolError as exc:
                self.log(f"error processing event: {exc}")
                continue
