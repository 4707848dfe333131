"""`maxscale_cdc` — a PySpark Data Source for the MaxScale CDC protocol.

The reference consumer (/root/reference/gomaxscale.go) re-imagined as a
Structured Streaming source:

    spark.dataSource.register(MaxScaleCDCDataSource)
    df = (spark.readStream.format("maxscale_cdc")
          .option("host", h).option("port", p)
          .option("database", "example").option("table", "users")
          .option("user", "u").option("password", "s3cr3t")
          .load())

Output schema = the DML envelope (types.go:172-179) + ``raw`` (the full
event JSON — the reference's RawData, types.go:181-190) + ``kind``
('ddl'/'dml'). Typed projection happens downstream via
``from_json(raw, registry.schema(db, table, version))`` — keeping the
stream schema fixed while table schemas evolve (SURVEY §7 risk list).

Offsets: ``{"pos": n, "gtid": "domain-server_id-sequence"}`` — `pos` is
a monotonic per-source event counter (exactly-once replay bookkeeping
inside one run), `gtid` is the protocol-level resume point sent as
``REQUEST-DATA db.table [gtid]`` on restart (the reference's WithGTID,
gomaxscale_options.go:53-57).

Micro-batch boundary: a batch ends at ``max_events_per_batch`` (default
10,000) or, once it holds an event, when the socket is drained (no
readable bytes). ``read_timeout`` (default 2 s) bounds only an empty
wait: an idle stream yields an empty batch after it. A backlog is read
in capped batches; a live tail is delivered as it arrives, the way the
reference hands each decoded event straight to its consumer
(gomaxscale.go:119-165).

Scale: one CDC subscription is inherently a single TCP socket — the
reader is a SimpleDataSourceStreamReader (driver-side prefetch), which
is exactly the reference's single consumer goroutine. Parallelism comes
AFTER ingestion: micro-batches are DataFrames, so routing/snapshot/agg
fan out across executors. For many tables, register many sources (one
per table), which is also the reference's model (one Consumer per
db.table).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql.datasource import DataSource, DataSourceReader, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from .client import CDCClient, CDCEventFrame, CDCProtocolError, MAX_EMPTY_LOOPS

SOURCE_SCHEMA = (
    "domain INT, server_id INT, sequence INT, event_number INT, "
    "timestamp BIGINT, event_type STRING, kind STRING, raw STRING"
)


def _frame_to_row(ev: CDCEventFrame) -> tuple:
    d = ev.data
    if ev.kind == "dml":
        return (
            d.get("domain"),
            d.get("server_id"),
            d.get("sequence"),
            d.get("event_number"),
            d.get("timestamp"),
            d.get("event_type"),
            "dml",
            ev.raw.decode("utf-8", errors="replace"),
        )
    return (None, None, None, None, None, "ddl", "ddl", ev.raw.decode("utf-8", errors="replace"))


def _gtid_of(ev: CDCEventFrame) -> str | None:
    if ev.kind != "dml":
        return None
    d = ev.data
    if d.get("domain") is None:
        return None
    return f"{d.get('domain')}-{d.get('server_id')}-{d.get('sequence')}"


def _client_from_options(options: dict[str, str], gtid: str = "") -> CDCClient:
    return CDCClient(
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", "4001")),
        database=options["database"],
        table=options["table"],
        user=options.get("user", ""),
        password=options.get("password", ""),
        version=int(options["version"]) if options.get("version") else None,
        gtid=gtid or options.get("gtid", ""),
        uuid=options.get("uuid"),
        read_timeout=float(options.get("read_timeout", "2.0")),
        write_timeout=float(options.get("write_timeout", "2.0")),
        buffer_size=int(options.get("buffer_size", "4096")),
    )


class MaxScaleCDCStreamReader(SimpleDataSourceStreamReader):
    """Driver-side prefetching stream reader (micro-batch handoff = the
    reference's channel, gomaxscale.go:119-165)."""

    def __init__(self, options: dict[str, str]) -> None:
        self.options = options
        self.max_events_per_batch = int(options.get("max_events_per_batch", "10000"))
        self._client: CDCClient | None = None
        self._eof = False
        #: events scanned past a batch cap, delivered first next batch
        self._pending: list[CDCEventFrame] = []

    def initialOffset(self) -> dict:
        return {"pos": 0, "gtid": self.options.get("gtid", ""), "last": None}

    def _ensure_client(self, gtid: str) -> CDCClient:
        if self._client is None:
            self._client = _client_from_options(self.options, gtid)
            self._client.connect()
            self._eof = False
        return self._client

    @staticmethod
    def _position_of(ev: CDCEventFrame) -> list | None:
        """Total order of the stream: the GTID/binlog tuple
        (domain, server_id, sequence, event_number) — types.go:173-176."""
        if ev.kind != "dml":
            return None
        d = ev.data
        if d.get("domain") is None:
            return None
        return [
            int(d.get("domain") or 0),
            int(d.get("server_id") or 0),
            int(d.get("sequence") or 0),
            int(d.get("event_number") or 0),
        ]

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        """One micro-batch: the events available now. The batch ends
        at max_events_per_batch (maxOffsetsPerTrigger-style rate
        limiting) or, once it holds an event, as soon as the socket has
        no readable bytes — each trigger takes what has arrived, as
        Kafka's latestOffset does. ``read_timeout`` bounds only the wait
        for a batch's first event: an idle stream returns an empty batch
        after it. On EOF the next read() reconnects with REQUEST-DATA
        <last gtid> — the reference's restart semantics
        (gomaxscale.go:46-53).

        Exactly-once across reconnects: MaxScale's GTID resume is
        *inclusive* (events from the requested GTID onward are
        re-delivered), so every DML at or below the last delivered
        (domain, server_id, sequence, event_number) position is dropped.
        This also absorbs servers that replay more history than asked.
        """
        import socket as _socket

        rows: list[tuple] = []
        gtid = start.get("gtid", "")
        last = start.get("last")

        def admit(ev: CDCEventFrame) -> bool:
            nonlocal gtid, last
            if len(rows) >= self.max_events_per_batch:
                return False
            pos = self._position_of(ev)
            if pos is not None and last is not None and pos <= last:
                return True  # replayed history (inclusive-GTID resume) — drop
            rows.append(_frame_to_row(ev))
            if pos is not None:
                last = pos
            gtid = _gtid_of(ev) or gtid
            return True

        # leftovers a previous batch's cap pushed out come first
        while self._pending and len(rows) < self.max_events_per_batch:
            admit(self._pending.pop(0))

        if self._eof:
            self._client = None  # reconnect from last GTID
        client = self._ensure_client(gtid)
        proto_errors = 0
        while len(rows) < self.max_events_per_batch:
            if rows and not client.readable():
                break  # socket drained → close out this micro-batch
            try:
                events = client.scan()
            except (_socket.timeout, TimeoutError):
                break  # no complete event within read_timeout
            except EOFError:
                self._eof = True
                break
            except CDCProtocolError:
                # in-band server error text: skip, like the reference's
                # log-and-continue class (gomaxscale.go:152-157) — but
                # bounded: a server persistently emitting error frames
                # must not spin this loop forever (MAX_EMPTY_LOOPS is
                # the reference's own liveness cap, stream.go:102-105)
                proto_errors += 1
                if proto_errors > MAX_EMPTY_LOOPS:
                    break  # close the micro-batch; next read() re-polls
                continue
            proto_errors = 0
            for i, ev in enumerate(events):
                if not admit(ev):
                    self._pending.extend(events[i:])
                    break
        end = {"pos": start.get("pos", 0) + len(rows), "gtid": gtid, "last": last}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Checkpoint-recovery replay (reference restart semantics,
        gomaxscale.go:46-53): a planned-but-unreplayed batch is re-read
        by reconnecting at the start offset's GTID and pulling the
        batch's event count. Requires the server to honor REQUEST-DATA
        gtid resume — which is the protocol's contract.

        The committed offset range is a PROMISE: delivering fewer rows
        than ``end.pos − start.pos`` would silently break exactly-once
        recovery. A quiet socket or server close is therefore retried
        (bounded, fresh connection resuming at the furthest GTID
        reached — inclusive-resume dedup via ``last`` keeps the retries
        idempotent), and if the full range still cannot be produced the
        replay RAISES instead of returning a truncated batch.
        """
        import socket as _socket

        n = int(end.get("pos", 0)) - int(start.get("pos", 0))
        if n <= 0:
            return iter(())
        max_attempts = int(self.options.get("replay_attempts", "3"))
        rows: list[tuple] = []
        last = start.get("last")
        gtid = start.get("gtid", "")
        # DDL/schema frames carry no GTID position, so the `last`-based
        # dedup can't see them; a resumed connection re-sends them, and
        # without this counter a mid-replay reconnect would deliver the
        # leading DDL twice — filling the promised n with a duplicate
        # and silently displacing a tail event.
        nonpos_delivered = 0
        for _attempt in range(max_attempts):
            nonpos_skip = nonpos_delivered  # re-sent on resume: skip that many
            proto_errors = 0
            client = _client_from_options(self.options, gtid)
            client.connect()
            try:
                while len(rows) < n:
                    try:
                        events = client.scan()
                    except (_socket.timeout, TimeoutError):
                        break  # quiet — reconnect-and-resume on next attempt
                    except EOFError:
                        break  # server closed — ditto
                    except CDCProtocolError:
                        # in-band error text: log-and-continue class, but
                        # bounded — K consecutive error frames end the
                        # attempt instead of looping without consuming
                        # the replay_attempts budget
                        proto_errors += 1
                        if proto_errors > MAX_EMPTY_LOOPS:
                            break
                        continue
                    proto_errors = 0
                    for ev in events:
                        pos = self._position_of(ev)
                        if pos is None:
                            if nonpos_skip > 0:
                                nonpos_skip -= 1
                                continue  # replayed DDL/schema frame
                            nonpos_delivered += 1
                        elif last is not None and pos <= last:
                            continue  # inclusive-GTID replayed history
                        rows.append(_frame_to_row(ev))
                        if pos is not None:
                            last = pos
                        gtid = _gtid_of(ev) or gtid
                        if len(rows) >= n:
                            break
            finally:
                client.close()
            if len(rows) >= n:
                break
        if len(rows) < n:
            raise RuntimeError(
                f"checkpoint replay short: committed range promises {n} events, "
                f"server delivered {len(rows)} after {max_attempts} attempts "
                f"(resume gtid={gtid!r}) — refusing to break exactly-once recovery"
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        # offsets are persisted by the engine's checkpoint; the CDC
        # protocol itself is resume-by-GTID, nothing to ack server-side
        pass

    def stop(self) -> None:
        if self._client is not None:
            self._client.close()


class MaxScaleCDCBatchReader(DataSourceReader):
    """Batch replay: drain the stream until the server closes (EOF) —
    used for tests and bounded backfills (Trigger.AvailableNow-style)."""

    def __init__(self, options: dict[str, str]) -> None:
        self.options = options

    def read(self, partition: Any) -> Iterator[tuple]:
        client = _client_from_options(self.options)
        client.connect()
        try:
            idle = int(self.options.get("max_idle_polls", "3"))
            for ev in client.events(max_idle_polls=idle):
                yield _frame_to_row(ev)
        finally:
            client.close()


class MaxScaleCDCDataSource(DataSource):
    """The `maxscale_cdc` format."""

    @classmethod
    def name(cls) -> str:
        return "maxscale_cdc"

    def schema(self) -> str:
        return SOURCE_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> MaxScaleCDCStreamReader:
        return MaxScaleCDCStreamReader(dict(self.options))

    def reader(self, schema: StructType) -> MaxScaleCDCBatchReader:
        return MaxScaleCDCBatchReader(dict(self.options))
