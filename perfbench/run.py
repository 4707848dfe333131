#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each was chosen and which
per-layer metric should move which end-to-end metric):

- ``cdc_snapshot_stream``: ``maxscale_cdc`` → typed projection →
  ``CDCSnapshotSink``, a backlog catch-up then an open-loop tail;
- ``catalog_headline``: the ``bench.HEADLINE`` cells over seeded tables.

Every run checks the program's outputs outside the timed window and
prints, as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. A run
record (and, traced, a span file) is written under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("cdc_snapshot_stream", "catalog_headline")


def load_spec() -> dict:
    with open(os.path.join(harness.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, tracer, tiny: bool) -> dict:
    if name == "cdc_snapshot_stream":
        import wl_stream

        return wl_stream.run(seed, seconds, tracer, tiny)
    import wl_catalog

    return wl_catalog.run(seed, seconds, tracer, tiny)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the self-test's reduced inputs; measurements use the default
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    spec = load_spec()
    harness.prepare_env()
    import bench  # noqa: F401  (the program must be there before anything starts)
    tracer = harness.Tracer() if args.trace else None
    try:
        result = run_workload(args.workload, args.seed, args.seconds, tracer, args.size == "tiny")
    finally:
        harness.stop_jvm()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result["per_layer"] if args.trace else result["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not args.trace:
        raise RuntimeError(f"workload {args.workload} did not measure {missing}")
    # a layer this workload never calls reads 0 (listed in the run record)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": harness.nproc(),
        "spark_master": result.get("spark_master"),
        "host_probe_s": result.get("host_probe_s"),
        "problems": result["problems"],
        "metrics": metrics,
        "layers_not_exercised": missing,
        **result.get("record", {}),
    }
    if tracer is not None:
        spans_path = os.path.join(harness.WORK, "trace", f"{args.workload}-seed{args.seed}.spans.json")
        tracer.dump(spans_path)
        record["spans_file"] = spans_path
    harness.write_record(record)
    for problem in result["problems"]:
        print(f"check failed: {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not result["problems"],
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
