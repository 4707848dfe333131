"""Seeded MaxScale CDC traffic, and the generator process that serves it.

The event builders here are shared by the generator process and by the
benchmark's output checks, so both sides derive the same bytes from the
seed; the program under test only ever sees what arrives on the socket.

Run as a process::

    python3 perfbench/gen_cdc.py --seed 7 [--backlog N --tail-rate R --tail-seconds S]

It listens on 127.0.0.1, prints ``READY <port>`` and serves each
connection after the MaxScale handshake (hex auth token → ``OK``,
``REGISTER UUID=…, TYPE=JSON`` → ``OK``, ``REQUEST-DATA db.table``; the
acceptance rules of ``gomaxscale_spark/sources/mock_server.py``). What it
sends depends on the requested table:

- ``probe``: nothing (a handshake check);
- ``warmup``: a short changelog (its own seed) for warming a query;
- ``users``: the backlog, then — after a ``tail`` line on stdin — the
  open-loop tail at an even ``tail-rate`` events/s: each transaction is
  sent alone, when it is due (``tail_schedule``). When the tail is sent
  it prints ``TAIL <json>`` with ``t0`` and the send lateness;
- ``replay``: the same bytes as ``users``, backlog and tail, all at once.

The ``users`` changelog is built on a ``prepare`` line on stdin, which
is answered with ``PREPARED <frames>``; ``users`` and ``replay`` wait
for it. A ``stop`` line or EOF on stdin ends the process.
"""

from __future__ import annotations

import argparse
import binascii
import json
import re
import socket
import sys
import statistics
import threading
import time

DATABASE = "bench"

RE_REGISTRATION = re.compile(rb"^REGISTER UUID=.+?, TYPE=JSON$")
RE_DATA_STREAM = re.compile(rb"^REQUEST-DATA (\S+?)\.(\S+)")

NAMES = ["alice", "bob", "Zoë", "José", "Łukasz", "李雷", "韩梅梅", "Ørjan", "Ярослава", "🙂 emoji"]


def ddl(table: str) -> dict:
    return {
        "namespace": "MaxScaleChangeDataSchema.avro",
        "type": "record",
        "name": "ChangeRecord",
        "table": table,
        "database": DATABASE,
        "version": 1,
        "gtid": "0-1-0",
        "fields": [
            {"name": "id", "type": "int", "real_type": "int", "length": -1},
            {"name": "name", "type": ["null", "string"], "real_type": "varchar", "length": 255},
            {"name": "amount", "type": "long", "real_type": "bigint", "length": -1},
            {"name": "state", "type": {"type": "enum", "name": "state", "symbols": ["active", "blocked"]}},
        ],
    }


def encode(frame: dict) -> bytes:
    return json.dumps(frame, ensure_ascii=False).encode("utf-8") + b"\n"


# -- changelog stream ----------------------------------------------------


def changelog(seed: int, n_frames: int, table: str = "users", n_keys: int = 5000) -> list[dict]:
    """A valid changelog of at least ``n_frames`` DML frames: inserts,
    update_before/update_after pairs and deletes over Zipf-hot keys
    (p(key k) ∝ 1/k^1.1), one transaction per sequence number."""
    import numpy as np

    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    keys = rng.choice(n_keys, size=n_frames, p=weights / weights.sum())
    live: dict[int, dict] = {}
    frames: list[dict] = []
    seq = 0
    for key in keys.tolist():
        if len(frames) >= n_frames:
            break
        seq += 1
        head = {"domain": 0, "server_id": 1, "sequence": seq, "timestamp": 1704067200 + seq}
        row = {
            "id": key,
            "name": NAMES[int(rng.integers(0, len(NAMES)))] + f"-{seq}",
            "amount": int(rng.integers(0, 10**9)),
            "state": ("active", "blocked")[int(rng.integers(0, 2))],
        }
        if key not in live:
            frames.append({**head, "event_number": 1, "event_type": "insert", **row})
            live[key] = row
        elif rng.random() < 0.85:
            frames.append({**head, "event_number": 1, "event_type": "update_before", **live[key]})
            frames.append({**head, "event_number": 2, "event_type": "update_after", **row})
            live[key] = row
        else:
            frames.append({**head, "event_number": 1, "event_type": "delete", **live.pop(key)})
    return frames


def split_backlog(frames: list[dict], n_backlog: int) -> int:
    """Index ending the backlog at a transaction boundary at or after
    ``n_backlog`` frames (an update pair is never split)."""
    cut = min(n_backlog, len(frames))
    while 0 < cut < len(frames) and frames[cut]["sequence"] == frames[cut - 1]["sequence"]:
        cut += 1
    return cut


def stream_frames(seed: int, n_backlog: int, n_tail: int) -> tuple[list[dict], int]:
    """The ``users`` changelog and its backlog/tail cut."""
    frames = changelog(seed, n_backlog + n_tail + 1)
    cut = split_backlog(frames, n_backlog)
    return frames[: cut + n_tail], cut


def tail_schedule(tail: list[dict], rate: float) -> list[float]:
    """Send time of each tail frame, in seconds after the tail starts:
    frames are spaced evenly at ``rate`` per second, and the frames of
    one transaction (an update pair) go with its first frame."""
    due: list[float] = []
    for i, f in enumerate(tail):
        same_tx = i > 0 and f["sequence"] == tail[i - 1]["sequence"]
        due.append(due[-1] if same_tx else i / rate)
    return due


# -- generator process ---------------------------------------------------


class Generator:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.tail_go = threading.Event()
        self.prepared = threading.Event()
        self.frames: list[dict] = []
        self.cut = 0
        self.out_lock = threading.Lock()

    def prepare(self) -> None:
        self.frames, self.cut = stream_frames(
            self.args.seed, self.args.backlog, int(self.args.tail_rate * self.args.tail_seconds)
        )
        self.prepared.set()
        self.say(f"PREPARED {len(self.frames)}")

    def say(self, line: str) -> None:
        with self.out_lock:
            sys.stdout.write(line + "\n")
            sys.stdout.flush()

    def handshake(self, conn: socket.socket) -> str | None:
        auth = conn.recv(1024)
        try:
            decoded = binascii.unhexlify(auth)
        except binascii.Error:
            conn.sendall(b"ERR failed to decode authentication request")
            return None
        if b":" not in decoded:
            conn.sendall(b"ERR invalid authentication format")
            return None
        conn.sendall(b"OK")
        if not RE_REGISTRATION.match(conn.recv(1024)):
            conn.sendall(b"ERR invalid registration format")
            return None
        conn.sendall(b"OK")
        m = RE_DATA_STREAM.match(conn.recv(1024))
        if m is None:
            conn.sendall(b"ERR invalid data stream format")
            return None
        return m.group(2).decode()

    def serve(self, conn: socket.socket) -> None:
        try:
            table = self.handshake(conn)
            if table == "warmup":
                warm = changelog(self.args.seed + 1_000_003, self.args.warmup, "warmup")
                conn.sendall(encode(ddl("warmup")) + b"".join(encode(f) for f in warm))
            elif table == "users":
                self.prepared.wait()
                conn.sendall(encode(ddl(table)) + b"".join(encode(f) for f in self.frames[: self.cut]))
                self.send_tail(conn)
            elif table == "replay":
                self.prepared.wait()
                conn.sendall(encode(ddl("users")) + b"".join(encode(f) for f in self.frames))
            # linger until the reader closes its end
            while conn.recv(65536):
                pass
        except OSError:
            pass  # reader went away: nothing left to serve
        finally:
            conn.close()

    def send_tail(self, conn: socket.socket) -> None:
        self.tail_go.wait()
        tail = self.frames[self.cut :]
        due = tail_schedule(tail, self.args.tail_rate)
        t0 = time.monotonic()
        lateness = []
        i = 0
        while i < len(tail):
            j = i + 1
            while j < len(tail) and due[j] == due[i]:
                j += 1
            now = time.monotonic()
            if now < t0 + due[i]:
                time.sleep(t0 + due[i] - now)
            lateness.append((time.monotonic() - t0 - due[i]) * 1000.0)
            conn.sendall(b"".join(encode(f) for f in tail[i:j]))
            i = j
        q = statistics.quantiles(lateness, n=100)
        report = {"t0": t0, "rate": self.args.tail_rate, "lateness_ms": {"p50": q[49], "p99": q[98], "max": max(lateness)}}
        self.say("TAIL " + json.dumps(report))

    def run(self) -> None:
        server = socket.create_server(("127.0.0.1", 0))
        threading.Thread(target=self.accept, args=(server,), daemon=True).start()
        self.say(f"READY {server.getsockname()[1]}")
        for line in sys.stdin:
            if line.strip() == "prepare":
                self.prepare()
            elif line.strip() == "tail":
                self.tail_go.set()
            elif line.strip() == "stop":
                break
        server.close()

    def accept(self, server: socket.socket) -> None:
        while True:
            try:
                conn, _ = server.accept()
            except OSError:
                return
            threading.Thread(target=self.serve, args=(conn,), daemon=True).start()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--backlog", type=int, default=0)
    p.add_argument("--tail-rate", type=float, default=1000.0)
    p.add_argument("--tail-seconds", type=float, default=10.0)
    p.add_argument("--warmup", type=int, default=3000)
    Generator(p.parse_args()).run()


if __name__ == "__main__":
    main()
