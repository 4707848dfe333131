"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench -q

- Every metric named in BENCHMARK.json is printed, with its unit, by
  every workload, untraced and traced (``--size tiny``: sf0.001-shaped
  tables and short CDC streams).
- Every output check fails when given a deliberately wrong expected
  result. These run without Spark.
- Every cell left out of the catalog workload for a known defect still
  shows it, at the workload's size, on the seed recorded for it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import client_layer  # noqa: E402
import gen_batch  # noqa: E402
import gen_cdc  # noqa: E402
import harness  # noqa: E402
import wl_catalog  # noqa: E402
import wl_stream  # noqa: E402

sys.path.insert(0, harness.REPO)

with open(os.path.join(harness.REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

SEED = 3


def run_bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=harness.REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["cdc_snapshot_stream", "catalog_headline"])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    result = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0


# -- client replay check ----------------------------------------------------


@pytest.fixture(scope="module")
def generator():
    gen = harness.GeneratorProcess(SEED, "--backlog", "200", "--tail-rate", "100", "--tail-seconds", "1")
    gen.prepare()
    yield gen
    gen.close()


def test_client_replay_check_passes_on_what_was_sent(generator):
    frames, _ = gen_cdc.stream_frames(SEED, 200, 100)
    metrics, problems = client_layer.replay(generator.port, frames, harness.Tracer())
    assert problems == []
    assert metrics["framing.frames"] == len(frames) + 1


def test_client_replay_check_fails_on_wrong_expected_events(generator):
    frames, _ = gen_cdc.stream_frames(SEED, 200, 100)
    _, problems = client_layer.replay(generator.port, frames[:-1], harness.Tracer())
    assert problems


# -- snapshot stream checks --------------------------------------------------


def epochs(frames: list[dict], cut: int) -> list[dict]:
    mid = {"pos": cut + 1, "last": list(wl_stream.position(frames[cut - 1]))}
    end = {"pos": len(frames) + 1, "last": list(wl_stream.position(frames[-1]))}
    return [
        {"id": 0, "start": {"pos": 0, "last": None}, "end": mid},
        {"id": 1, "start": mid, "end": end},
    ]


def test_stream_checks_pass_on_a_correct_run():
    frames, cut = gen_cdc.stream_frames(SEED, 200, 100)
    assert wl_stream.check_epochs(epochs(frames, cut), frames) == []
    assert wl_stream.snapshot_problems(wl_stream.fold(frames), frames) == []


def test_stream_epoch_check_fails_on_wrong_expected_events():
    frames, cut = gen_cdc.stream_frames(SEED, 200, 100)
    assert wl_stream.check_epochs(epochs(frames, cut), frames[:-1])


def test_stream_snapshot_check_fails_on_wrong_expected_fold():
    frames, _ = gen_cdc.stream_frames(SEED, 200, 100)
    got = wl_stream.fold(frames)
    wrong = [dict(f) for f in frames]
    last_insert = max(i for i, f in enumerate(wrong) if f["event_type"] in ("insert", "update_after"))
    wrong[last_insert]["amount"] += 1
    assert wl_stream.snapshot_problems(got, wrong)


def test_tail_is_evenly_paced_by_transaction():
    frames, cut = gen_cdc.stream_frames(SEED, 200, 100)
    tail = frames[cut:]
    due = gen_cdc.tail_schedule(tail, 100.0)
    for i in range(1, len(tail)):
        if tail[i]["sequence"] == tail[i - 1]["sequence"]:
            assert due[i] == due[i - 1]  # an update pair goes together
        else:
            assert due[i] == pytest.approx(i / 100.0)


def test_fold_is_latest_wins():
    frames = [
        {"id": 1, "sequence": 1, "event_number": 1, "event_type": "insert", "amount": 1},
        {"id": 1, "sequence": 2, "event_number": 1, "event_type": "update_before", "amount": 1},
        {"id": 1, "sequence": 2, "event_number": 2, "event_type": "update_after", "amount": 2},
        {"id": 2, "sequence": 3, "event_number": 1, "event_type": "insert", "amount": 5},
        {"id": 2, "sequence": 4, "event_number": 1, "event_type": "delete", "amount": 5},
    ]
    for f in frames:
        f.update(domain=0, server_id=1, timestamp=0, name="n", state="active")
    assert list(wl_stream.fold(frames)) == [1]
    assert wl_stream.fold(frames)[1][wl_stream.COLUMNS.index("amount")] == 2


# -- catalog checks ----------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_tables():
    return gen_batch.ensure(os.path.join(harness.WORK, "selftest"), 1, SEED)


def test_catalog_oracle_check_fails_on_wrong_expected_result(tiny_tables):
    sql = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    right = SimpleNamespace(oracle=sql)
    wrong = SimpleNamespace(oracle=sql.replace("count(*)", "count(*) + 1"))
    result = wl_catalog.oracle_frame(tiny_tables, sql)
    assert wl_catalog.oracle_problems(right, result, tiny_tables) == []
    assert wl_catalog.oracle_problems(wrong, result, tiny_tables)


def test_catalog_oracle_cache_is_keyed_by_sql_and_inputs(tiny_tables):
    sql = "SELECT count(*) AS n FROM orders"
    first = wl_catalog.oracle_frame(tiny_tables, sql)
    cached = os.listdir(os.path.join(tiny_tables, ".oracle"))
    again = wl_catalog.oracle_frame(tiny_tables, sql)
    assert os.listdir(os.path.join(tiny_tables, ".oracle")) == cached
    pd.testing.assert_frame_equal(first, again)


def test_catalog_digest_check_fails_on_a_changed_result():
    frame = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert wl_catalog.digest(frame) == wl_catalog.digest(frame.iloc[::-1])  # order-free
    assert wl_catalog.digest(frame) != wl_catalog.digest(frame.assign(a=[1, 3]))


KNOWN_DEFECT_CHECK = """
import json, sys
sys.path.insert(0, {here!r})
import harness, wl_catalog
harness.prepare_env()
from gomaxscale_spark.plans import all_queries
data_dir = harness.prepare_inputs(wl_catalog.SCALE, {seed})
spark = harness.build_session()
try:
    _, problems, _ = wl_catalog.check_cell(spark, all_queries()[{cell!r}], data_dir)
finally:
    spark.stop()
    harness.stop_jvm()
print(json.dumps(problems))
"""


@pytest.mark.parametrize("cell", sorted(wl_catalog.KNOWN_DEFECTS))
def test_cell_left_out_for_a_known_defect_still_shows_it(cell):
    """Once this fails, the program is fixed: put the cell back into the
    workload by removing it from ``wl_catalog.KNOWN_DEFECTS``."""
    script = KNOWN_DEFECT_CHECK.format(here=HERE, seed=wl_catalog.KNOWN_DEFECTS[cell], cell=cell)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=harness.REPO, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]), f"{cell} now matches its oracle"


def test_batch_tables_are_seeded():
    a = gen_batch.tables(1, SEED)
    b = gen_batch.tables(1, SEED)
    c = gen_batch.tables(1, SEED + 1)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
