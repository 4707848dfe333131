"""Workload ``catalog_headline``: the ``bench.HEADLINE`` cells over
seeded tables of the sf0.01 shape, one closed-loop client. A cell with a
known defect (``KNOWN_DEFECTS``) is left out of it.

Each cell is constructed (``entry.fn(spark, data_dir)``: table loading,
plan building, any eager barrier jobs) and then materialized with a
``noop`` write. The first pass collects every cell and checks it against
its DuckDB oracle (``gomaxscale_spark.testing.compare_frames``,
unchanged); it runs the cells concurrently. One untimed sequential pass
finishes the warm-up, then sequential timed passes follow until
``--seconds`` have passed, at least one of them. The traced run adds one
traced pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import harness

SCALE = 10  # sf0.01 shape: 60,000 lineitem rows
SETUPS = 3

# Headline cells whose output differs from their oracle on some seeds
# because of a defect in the program, each with a seed on which it shows.
# They stay out of the workload until the program is fixed; the self-test
# (test_perfbench.py) asserts that each still differs on its seed, so it
# fails once the defect is gone.
KNOWN_DEFECTS = {
    # sum_charge is a double sum of ~10^4 terms near 3e8, rounded at 6
    # decimals: past what a double carries, so the last digit follows the
    # summation order (seeds 1, 90, 102 and 509 of 75 tried)
    "q1_pricing_summary": 1,
}


def workload_cells() -> list[str]:
    """The ``bench.HEADLINE`` cells the workload runs."""
    import bench

    return [name for name in bench.HEADLINE if name not in KNOWN_DEFECTS]


def oracle_frame(data_dir: str, sql: str):
    """The DuckDB oracle's result, cached per data directory and keyed
    by the SQL and the input files' sizes and mtimes."""
    from gomaxscale_spark.catalog import TABLES

    stats = []
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        stats.append((t, st.st_size, st.st_mtime_ns))
    key = hashlib.sha256(json.dumps([sql, stats]).encode()).hexdigest()[:32]
    path = os.path.join(data_dir, ".oracle", f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:  # written by this module only
            return pickle.load(f)
    from gomaxscale_spark.testing import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        frame = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".part", "wb") as f:
        pickle.dump(frame, f)
    os.replace(path + ".part", path)
    return frame


def digest(pdf) -> str:
    from gomaxscale_spark.testing import normalize

    return hashlib.sha256(repr(normalize(pdf)).encode()).hexdigest()


def oracle_problems(entry, pdf, data_dir: str) -> list[str]:
    """Mismatches of a collected cell against its oracle (none if the
    cell has no oracle)."""
    from gomaxscale_spark.testing import compare_frames

    return compare_frames(pdf, oracle_frame(data_dir, entry.oracle)) if entry.oracle else []


def check_cell(spark, entry, data_dir: str) -> tuple[float, list[str], str]:
    """Construct and collect one cell; returns the construct seconds,
    the oracle mismatches and the result digest."""
    t0 = time.perf_counter()
    df = entry.fn(spark, data_dir)
    construct = time.perf_counter() - t0
    pdf = df.toPandas()
    return construct, oracle_problems(entry, pdf, data_dir), digest(pdf)


def timed_pass(spark, registry, cells, data_dir) -> list[tuple[float, float]]:
    """(construct_s, exec_s) per cell."""
    import bench

    out = []
    for name in cells:
        t0 = time.perf_counter()
        df = registry[name].fn(spark, data_dir)
        t1 = time.perf_counter()
        bench.materialize(df)
        out.append((t1 - t0, time.perf_counter() - t1))
    return out


def traced_pass(spark, registry, cells, data_dir, tracer: harness.Tracer) -> dict:
    """One pass with every layer boundary wrapped: spans per cell, job
    counts per cell job group, SQL metrics per cell execution range."""
    import bench
    from pyspark.sql.classic.dataframe import DataFrame

    import gomaxscale_spark.catalog as catalog
    import gomaxscale_spark.operators.materialize as materialize

    tracer.wrap_everywhere("gomaxscale_spark", catalog.load_table, "catalog.load_table")
    tracer.wrap_everywhere("gomaxscale_spark", materialize.materialize_once, "materialize")
    tracer.wrap_method(DataFrame, "count", "barrier.count")
    sc = spark.sparkContext
    totals = {"jobs": 0, "stages": 0, "tasks": 0, "bytes_read": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    skew = 1.0
    t_start = time.perf_counter()
    try:
        for name in cells:
            tracer.request = name
            group = f"perfbench-{name}"
            sc.setJobGroup(group, name)
            first_exec = harness.last_execution_id(spark)
            with tracer.span("cell") as cell_span:
                with tracer.span("plans.construct"):
                    df = registry[name].fn(spark, data_dir)
                with tracer.span("exec"):
                    bench.materialize(df)
            jobs = harness.group_jobs(sc, group)
            sql = harness.sql_metrics(spark, first_exec)
            for k in ("jobs", "stages", "tasks"):
                totals[k] += jobs[k]
            for k in ("bytes_read", "shuffle_write_bytes", "spill_bytes"):
                totals[k] += sql[k]
            skew = max(skew, sql["max_task_skew_ratio"])
            cell_span["counts"] = {**jobs, **sql}
    finally:
        tracer.unwrap()
        tracer.request = None
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t_start
    barrier = [s for s in tracer.closed("barrier.count") if _under(tracer, s, "plans.construct")]
    return {
        "wall": wall,
        "per_layer": {
            "catalog.load_table.calls": len(tracer.closed("catalog.load_table")),
            "catalog.load_table.s": tracer.total("catalog.load_table"),
            "plans.construct.self_s": tracer.self_time("plans.construct"),
            "materialize.calls": len(tracer.closed("materialize")),
            "materialize.s": tracer.total("materialize"),
            "barrier.count.calls": len(barrier),
            "barrier.count.s": sum(s["end"] - s["start"] for s in barrier),
            "exec.s": tracer.total("exec"),
            "spark.jobs": totals["jobs"],
            "spark.stages": totals["stages"],
            "spark.tasks": totals["tasks"],
            "spark.bytes_read": totals["bytes_read"],
            "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
            "spark.spill_bytes": totals["spill_bytes"],
            "spark.max_task_skew_ratio": skew,
        },
    }


def _under(tracer: harness.Tracer, span: dict, ancestor: str) -> bool:
    parent = span["parent"]
    while parent is not None:
        if tracer.spans[parent]["name"] == ancestor:
            return True
        parent = tracer.spans[parent]["parent"]
    return False


def run(seed: int, seconds: float, tracer: harness.Tracer | None, tiny: bool = False) -> dict:
    from gomaxscale_spark.catalog import register_views
    from gomaxscale_spark.plans import all_queries

    registry = all_queries()
    cells = workload_cells()
    data_dir = harness.prepare_inputs(1 if tiny else SCALE, seed, oracles=True)

    setups = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.build_session()
            register_views(spark, data_dir)  # resolve every source table
            setups.append(time.perf_counter() - t0)
        marks = [("setup", time.perf_counter())]
        # first pass: collect and check every cell, concurrently, one
        # thread a core
        def check(name: str) -> tuple[float, list[str], str | None]:
            try:
                return check_cell(spark, registry[name], data_dir)
            except Exception:
                return 0.0, [traceback.format_exc(limit=3)], None

        with ThreadPoolExecutor(harness.nproc()) as pool:
            checked = dict(zip(cells, pool.map(check, cells)))
        cold_construct = sum(c[0] for c in checked.values())
        failed_cells = {name: c[1] for name, c in checked.items() if c[1]}
        digests = {name: c[2] for name, c in checked.items()}
        marks.append(("check_pass", time.perf_counter()))

        # the first sequential pass runs up to 1.5x slower than the next
        # ones: it finishes the warm-up, untimed
        warm = timed_pass(spark, registry, cells, data_dir)
        marks.append(("warm_pass", time.perf_counter()))
        probes = harness.probe(spark, registry, data_dir)
        marks.append(("probe_before", time.perf_counter()))
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            passes.append(timed_pass(spark, registry, cells, data_dir))

        marks.append(("timed_passes", time.perf_counter()))
        per_layer = None
        if tracer is not None:
            traced = traced_pass(spark, registry, cells, data_dir, tracer)
            per_layer = traced["per_layer"]
            plain = statistics.median([sum(c + e for c, e in p) for p in passes])
            per_layer["trace.overhead_pct"] = (traced["wall"] / plain - 1.0) * 100.0
            per_layer["plans.cold_construct_s"] = cold_construct

        # outside the timed window: cells without an oracle must give the
        # same digest again; a failed cell is checked again to see if the
        # failure repeats
        marks.append(("traced_pass", time.perf_counter()))
        repeats = {}
        for name in cells:
            entry = registry[name]
            if entry.oracle is None or name in failed_cells:
                _, again, d = check_cell(spark, entry, data_dir)
                if entry.oracle is None and d != digests.get(name):
                    failed_cells.setdefault(name, []).append("result digest differs between passes")
                if name in failed_cells:
                    repeats[name] = bool(again) or d != digests.get(name)
        marks.append(("recheck", time.perf_counter()))
        probes += harness.probe(spark, registry, data_dir)
        marks.append(("probe_after", time.perf_counter()))
        rss = harness.peak_rss_mb(harness.jvm_pid(spark))
        master = spark.sparkContext.master
    finally:
        if spark is not None:
            spark.stop()

    problems = [f"{name}: {p}" for name, cell_problems in failed_cells.items() for p in cell_problems]
    walls = [sum(c + e for c, e in p) for p in passes]
    # one latency sample per cell: its median wall over the passes
    cell_ms = [statistics.median([(p[i][0] + p[i][1]) * 1000.0 for p in passes]) for i in range(len(cells))]
    if per_layer is not None:
        per_layer["host.probe_s"] = statistics.median(probes)
    return {
        "attempted": len(cells),
        "failed": len(failed_cells),
        "problems": problems,
        "spark_master": master,
        "host_probe_s": {"before": probes[:3], "after": probes[3:]},
        "end_to_end": {
            "setup_s": statistics.median(setups),
            "throughput_per_s": len(cells) / statistics.median(walls),
            "latency_p50_ms": float(np.percentile(cell_ms, 50)),
            "latency_p99_ms": float(np.percentile(cell_ms, 99)),
            "peak_rss_mb": rss,
        },
        "per_layer": per_layer,
        "record": {
            "setups_s": setups,
            "warm_pass_wall_s": sum(c + e for c, e in warm),
            "pass_walls_s": walls,
            "cells": {
                name: {"construct_s": [p[i][0] for p in passes], "exec_s": [p[i][1] for p in passes]}
                for i, name in enumerate(cells)
            },
            "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            "failed_cells": failed_cells,
            "failure_repeats": repeats,
            "cold_construct_s": cold_construct,
            "data_dir": data_dir,
        },
    }
