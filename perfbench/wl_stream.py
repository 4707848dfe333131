"""Workload ``cdc_snapshot_stream``: ``readStream.format("maxscale_cdc")``
→ ``from_json(raw)`` typed projection → ``foreachBatch`` into
``CDCSnapshotSink``, fed by a generator process.

Two phases on one query:

- catch-up: a standing backlog of ``BACKLOG`` changelog events (Zipf-hot
  keys; inserts, update_before/update_after pairs, deletes), drained at
  the source's default 10,000-event batch cap;
- tail: once the backlog's last event is committed, the generator sends
  open-loop at an even ``TAIL_RATE`` events/s for ``--seconds`` seconds.

The source runs at its shipped defaults (4 KiB reads, 2 s read timeout,
10,000-event batch cap). An event's latency runs from its scheduled send
time to the return of the sink call for the epoch whose offset range
holds it; the epoch is found through the progress records'
``startOffset.last`` and ``endOffset.last``, so no extra Spark job is
needed. Events are counted from source offsets (``endOffset.pos -
startOffset.pos``), never from ``numInputRows``.
"""

from __future__ import annotations

import ast
import bisect
import os
import shutil
import statistics
import time

import numpy as np

import client_layer
import gen_cdc
import harness

BACKLOG = 35_000
TAIL_RATE = 1000.0
WARMUP = 15_000
SETUPS = 5
WAIT_LIMIT = 120.0
COLUMNS = ("domain", "server_id", "sequence", "event_number", "timestamp", "event_type", "id", "name", "amount", "state")


def position(frame: dict) -> tuple:
    return (frame["domain"], frame["server_id"], frame["sequence"], frame["event_number"])


def fold(frames: list[dict]) -> dict[int, tuple]:
    """Latest-wins table state of a changelog, computed independently of
    the program: update_before images are skipped, deletes remove."""
    state: dict[int, dict] = {}
    for f in frames:
        if f["event_type"] == "delete":
            state.pop(f["id"], None)
        elif f["event_type"] != "update_before":
            state[f["id"]] = f
    return {k: tuple(v[c] for c in COLUMNS) for k, v in state.items()}


def _offset(text: str) -> dict:
    """A source offset from a progress record; the Python source's
    offsets are reported in Python literal syntax."""
    return ast.literal_eval(text)


class Query:
    """One streaming query into its own snapshot sink, with the sink
    call's return time recorded per epoch."""

    def __init__(self, spark, port: int, table: str, root: str, tracer: harness.Tracer | None) -> None:
        from pyspark.sql import functions as F

        from gomaxscale_spark.sources.schema_registry import SchemaRegistry
        from gomaxscale_spark.streaming.sinks import CDCSnapshotSink

        registry = SchemaRegistry()
        registry.register(gen_cdc.ddl(table))
        schema = registry.full_dml_schema(gen_cdc.DATABASE, table)
        self.sink = CDCSnapshotSink(
            os.path.join(root, table, "snapshot"), key_cols=["id"], order_cols=["sequence", "event_number"]
        )
        self.done: dict[int, float] = {}
        self.jobs: dict[int, dict] = {}
        #: (live dir, buckets) of each bucket swap in the current epoch,
        #: filled by the traced ``swap_bucket_dirs``
        self.swaps: list[tuple[str, list]] = []
        self.bytes_written: dict[int, int] = {}
        self.trace_s = 0.0  # time spent in tracing bookkeeping
        sc = spark.sparkContext

        def apply(batch_df, epoch_id: int) -> None:
            typed = (
                batch_df.filter(F.col("kind") == "dml")
                .select(F.from_json("raw", schema).alias("r"))
                .select("r.*")
            )
            if tracer is None:
                self.sink.apply_batch(typed)
            else:
                t0 = time.perf_counter()
                tracer.request = f"{table}-epoch-{epoch_id}"
                sc.setJobGroup(tracer.request, tracer.request)
                self.trace_s += time.perf_counter() - t0
                with tracer.span("sink.apply_batch"):
                    self.sink.apply_batch(typed)
                t0 = time.perf_counter()
                self.jobs[epoch_id] = harness.group_jobs(sc, tracer.request)
                self.bytes_written[epoch_id] = sum(dir_bytes(live, buckets) for live, buckets in self.swaps)
                self.swaps.clear()
                self.trace_s += time.perf_counter() - t0
            self.done[epoch_id] = time.monotonic()

        self.started = time.monotonic()
        self.query = (
            spark.readStream.format("maxscale_cdc")
            .options(
                host="127.0.0.1",
                port=str(port),
                database=gen_cdc.DATABASE,
                table=table,
                user="bench",
                password="bench",
            )
            .load()
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(root, table, "checkpoint"))
            .start()
        )

    def batches(self) -> list[dict]:
        """Progress of the batches that consumed events, in order."""
        out = []
        for p in self.query.recentProgress:
            src = p.sources[0]
            start = (_offset(src.startOffset) if src.startOffset else None) or {"pos": 0, "last": None}
            end = _offset(src.endOffset)
            if end["pos"] > start["pos"]:
                out.append({"id": p.batchId, "start": start, "end": end, "rows": p.numInputRows, "ms": dict(p.durationMs)})
        return out

    def wait_for(self, last: tuple) -> dict:
        """Block until a batch whose range ends at or past ``last`` has
        been through the sink; returns that batch."""
        deadline = time.monotonic() + WAIT_LIMIT
        while time.monotonic() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            for b in self.batches():
                if b["end"]["last"] is not None and tuple(b["end"]["last"]) >= last and b["id"] in self.done:
                    return b
            time.sleep(0.02)
        raise TimeoutError(f"no batch reached {last} within {WAIT_LIMIT} s")

    def stop(self) -> None:
        self.query.stop()


def dir_bytes(live: str, buckets) -> int:
    """Bytes in the published directories of ``buckets``."""
    n_bytes = 0
    for b in buckets:
        for dirpath, _, files in os.walk(os.path.join(live, f"__bucket={b}")):
            n_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return n_bytes


def check_epochs(batches: list[dict], frames: list[dict]) -> list[str]:
    """Every event falls in exactly one epoch: ranges are contiguous and
    each epoch's offset count equals the events generated in its range
    (the DDL frame opening the stream counts in the first)."""
    problems = []
    positions = [position(f) for f in frames]
    prev_end = {"pos": 0, "last": None}
    for b in batches:
        if b["start"]["pos"] != prev_end["pos"] or b["start"]["last"] != prev_end["last"]:
            problems.append(f"epoch {b['id']} does not start where the previous one ended")
        lo = bisect.bisect_right(positions, tuple(b["start"]["last"])) if b["start"]["last"] else 0
        hi = bisect.bisect_right(positions, tuple(b["end"]["last"]))
        expected = hi - lo + (1 if b["start"]["pos"] == 0 else 0)
        if b["end"]["pos"] - b["start"]["pos"] != expected:
            problems.append(
                f"epoch {b['id']} holds {b['end']['pos'] - b['start']['pos']} events, expected {expected}"
            )
        prev_end = b["end"]
    if prev_end["pos"] != len(frames) + 1:
        problems.append(f"{prev_end['pos']} events consumed, {len(frames) + 1} sent")
    return problems


def snapshot_problems(got: dict[int, tuple], frames: list[dict]) -> list[str]:
    want = fold(frames)
    wrong = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"snapshot differs from the fold of the sent events on {wrong} keys"] if wrong else []


def latencies(batches: list[dict], done: dict[int, float], tail: list[dict], report: dict) -> list[float]:
    ends = [tuple(b["end"]["last"]) for b in batches]
    out = []
    for f, due in zip(tail, gen_cdc.tail_schedule(tail, report["rate"])):
        b = batches[bisect.bisect_left(ends, position(f))]
        out.append((done[b["id"]] - report["t0"] - due) * 1000.0)
    return out


def catchup_rate(q: Query, frames: list[dict], cut: int) -> float:
    """Backlog events over the summed trigger durations of the batches
    that drained it (the engine's own ``durationMs`` record). The query's
    start-up, which varies from 1 to 4 s, is left out."""
    last = q.wait_for(position(frames[cut - 1]))
    drained = [b for b in q.batches() if b["id"] <= last["id"]]
    return (cut + 1) / (sum(b["ms"]["triggerExecution"] for b in drained) / 1000.0)


def run(seed: int, seconds: float, tracer: harness.Tracer | None, tiny: bool = False) -> dict:
    from gomaxscale_spark.plans import all_queries
    from gomaxscale_spark.sources.cdc_source import MaxScaleCDCDataSource

    root = os.path.join(harness.WORK, "stream")
    shutil.rmtree(root, ignore_errors=True)
    probe_dir = harness.prepare_inputs(1, seed)
    registry = all_queries()
    backlog, warmup, tail_rate = (2000, 500, 500.0) if tiny else (BACKLOG, WARMUP, TAIL_RATE)
    frames, cut = gen_cdc.stream_frames(seed, backlog, int(tail_rate * seconds))
    gen_args = ("--backlog", str(backlog), "--tail-rate", str(tail_rate), "--tail-seconds", str(seconds), "--warmup", str(warmup))

    setups = []
    spark = gen = None
    try:
        for _ in range(SETUPS):
            if gen is not None:
                gen.close()
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.build_session()
            spark.dataSource.register(MaxScaleCDCDataSource)
            gen = harness.GeneratorProcess(seed, *gen_args)
            harness.handshake(gen.port).close()
            setups.append(time.perf_counter() - t0)
        gen.prepare()
        marks = [("setup", time.perf_counter())]
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

        warm = Query(spark, gen.port, "warmup", root, None)
        warm_frames = gen_cdc.changelog(seed + 1_000_003, warmup, "warmup")
        warm.wait_for(position(warm_frames[-1]))
        warm.stop()
        marks.append(("warmup_query", time.perf_counter()))
        probes = harness.probe(spark, registry, probe_dir)
        marks.append(("probe_before", time.perf_counter()))

        if tracer is not None:
            from gomaxscale_spark.streaming.epoch import EpochCommit

            def on_swap(commit, staged, live, buckets, prefix="__bucket="):
                # the published bytes are counted once the epoch returns,
                # outside the sink's span
                q.swaps.append((live, buckets))
                return {"touched_buckets": len(buckets)}

            tracer.wrap_method(EpochCommit, "swap_bucket_dirs", "epoch.swap", on_swap)

        q = Query(spark, gen.port, "users", root, tracer)
        rate = catchup_rate(q, frames, cut)
        marks.append(("catchup", time.perf_counter()))
        gen.send("tail")
        q.wait_for(position(frames[-1]))
        marks.append(("tail", time.perf_counter()))
        report = gen.read_report("TAIL")
        q.stop()
        batches = q.batches()
        lat = latencies(batches, q.done, frames[cut:], report)

        problems = check_epochs(batches, frames)
        snapshot = {r["id"]: tuple(r[c] for c in COLUMNS) for r in q.sink.read_snapshot(spark).collect()}
        problems += snapshot_problems(snapshot, frames)
        if tracer is not None:
            client_metrics, client_problems = client_layer.replay(gen.port, frames, tracer)
            problems += client_problems
        marks.append(("check", time.perf_counter()))
        probes += harness.probe(spark, registry, probe_dir)
        marks.append(("probe_after", time.perf_counter()))
        rss = harness.peak_rss_mb(harness.jvm_pid(spark))
        master = spark.sparkContext.master
    finally:
        if tracer is not None:
            tracer.unwrap()
        if gen is not None:
            gen.close()
        if spark is not None:
            spark.stop()

    result = {
        "attempted": len(frames) + 1,
        "failed": len(problems),
        "problems": problems,
        "spark_master": master,
        "host_probe_s": {"before": probes[:3], "after": probes[3:]},
        "end_to_end": {
            "setup_s": statistics.median(setups),
            "throughput_per_s": rate,
            "latency_p50_ms": float(np.percentile(lat, 50)),
            "latency_p99_ms": float(np.percentile(lat, 99)),
            "peak_rss_mb": rss,
        },
        "record": {
            "setups_s": setups,
            "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            "backlog_events": cut + 1,
            "tail_events": len(frames) - cut,
            "batches": [{"id": b["id"], "events": b["end"]["pos"] - b["start"]["pos"], "ms": b["ms"]} for b in batches],
            "generator_lateness_ms": report["lateness_ms"],
            "tail_rate": report["rate"],
        },
    }
    if tracer is not None:
        n_events = [b["end"]["pos"] - b["start"]["pos"] for b in batches]
        input_bytes = len(gen_cdc.encode(gen_cdc.ddl("users"))) + sum(len(gen_cdc.encode(f)) for f in frames)
        applies = tracer.closed("sink.apply_batch")
        swaps = tracer.closed("epoch.swap")
        result["per_layer"] = {
            "stream.batches": len(batches),
            "stream.events_per_batch": statistics.median(n_events),
            **{
                f"stream.{k}_ms": statistics.median([b["ms"].get(k, 0) for b in batches])
                for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
            },
            "generator.lateness_p99_ms": report["lateness_ms"]["p99"],
            "sink.apply_batch.s": statistics.median([s["end"] - s["start"] for s in applies]),
            "sink.jobs_per_batch": statistics.median([j["jobs"] for j in q.jobs.values()]),
            "sink.touched_buckets": statistics.median([s["counts"]["touched_buckets"] for s in swaps]),
            "sink.bytes_written_per_input_byte": sum(q.bytes_written.values()) / input_bytes,
            "sink.batch_scans_per_event": sum(b["rows"] for b in batches) / sum(n_events),
            "sink.snapshot_rows": len(snapshot),
            "epoch.swap.s": statistics.median([s["end"] - s["start"] for s in swaps]),
            "host.probe_s": statistics.median(probes),
            **client_metrics,
            # the tracing code's own bookkeeping (job-group reads, walks of
            # the published buckets) against the traced query's wall; the
            # wrapper and span cost is not in it. Two queries cannot be
            # compared: the second always runs warmer
            "trace.overhead_pct": q.trace_s / (max(q.done.values()) - q.started) * 100.0,
        }
    return result
