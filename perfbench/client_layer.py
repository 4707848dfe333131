"""The client and framing layers, timed from outside.

Spark's streaming source reads inside a Python worker process that the
benchmark cannot wrap, so the traced run of ``cdc_snapshot_stream``
replays the same generated bytes through ``CDCClient.events()`` in the
benchmark's own process, with the socket reads, ``JsonFrameScanner.feed``
and ``classify_frame`` counted and timed.
"""

from __future__ import annotations

import time

import harness


class ClientCounters:
    """Per-layer counters filled by the wrappers."""

    def __init__(self) -> None:
        self.recv_calls = 0
        self.recv_wait_s = 0.0
        self.feed_s = 0.0
        self.bytes = 0
        self.frames = 0
        self.pending_peak = 0
        self.classify_s = 0.0


class TimedSocket:
    """The client's socket with ``recv`` timed and counted."""

    def __init__(self, sock, counters: ClientCounters) -> None:
        self._sock = sock
        self._c = counters

    def recv(self, n: int) -> bytes:
        t0 = time.perf_counter()
        data = self._sock.recv(n)
        self._c.recv_wait_s += time.perf_counter() - t0
        self._c.recv_calls += 1
        return data

    def __getattr__(self, name: str):
        return getattr(self._sock, name)


def instrument(client, counters: ClientCounters):
    """Wrap the reads, ``JsonFrameScanner.feed`` and ``classify_frame``
    of one connected client; returns the undo."""
    import gomaxscale_spark.sources.client as client_mod

    client._sock = TimedSocket(client._sock, counters)
    scanner = client._scanner
    feed = scanner.feed
    classify = client_mod.classify_frame

    def timed_feed(chunk):
        t0 = time.perf_counter()
        frames = feed(chunk)
        counters.feed_s += time.perf_counter() - t0
        counters.bytes += len(chunk)
        counters.frames += len(frames)
        counters.pending_peak = max(counters.pending_peak, scanner.pending)
        return frames

    def timed_classify(frame):
        t0 = time.perf_counter()
        out = classify(frame)
        counters.classify_s += time.perf_counter() - t0
        return out

    scanner.feed = timed_feed
    client_mod.classify_frame = timed_classify

    def undo() -> None:
        client._sock = client._sock._sock
        del scanner.feed
        client_mod.classify_frame = classify

    return undo


def replay(port: int, frames: list[dict], tracer: harness.Tracer) -> tuple[dict, list[str]]:
    """Consume the generator's ``replay`` table (the DDL frame, then every
    changelog frame) with the program's client; returns the per-layer
    metrics and the problems found checking what arrived."""
    counters = ClientCounters()
    client = harness.handshake(port, "replay")
    undo = instrument(client, counters)
    n = ddl = seq_sum = 0
    try:
        t0 = time.perf_counter()
        for ev in client.events(max_idle_polls=1):  # until one quiet read timeout
            if ev.kind == "dml":
                seq_sum += ev.data["sequence"]
            else:
                ddl += 1
            n += 1
        t1 = time.perf_counter()
    finally:
        undo()
        client.close()
    tracer.add("client.events", t0, t1, "replay", dict(vars(counters)))
    problems = []
    if (n, ddl, seq_sum) != (len(frames) + 1, 1, sum(f["sequence"] for f in frames)):
        problems.append(f"client replay got {n} frames ({ddl} DDL), sent {len(frames) + 1} (1 DDL)")
    return {
        "client.recv.calls": counters.recv_calls,
        "client.recv.wait_s": counters.recv_wait_s,
        "framing.feed.s": counters.feed_s,
        "framing.bytes": counters.bytes,
        "framing.frames": counters.frames,
        "framing.pending_peak_bytes": counters.pending_peak,
        "client.classify.s": counters.classify_s,
    }, problems
