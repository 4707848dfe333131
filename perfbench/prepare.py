"""Make a run's batch inputs before the run measures anything.

    python3 perfbench/prepare.py --scale 10 --seed 1 [--oracles]

Writes the seeded tables under ``perfbench/.work/data`` (``gen_batch``)
and, with ``--oracles``, fills the DuckDB oracle cache of every
cell of the catalog workload that has one (``wl_catalog.oracle_frame``). The
benchmark runs this as a child process, so the memory it takes never
counts in the driver's peak RSS. Prints the data directory.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_batch  # noqa: E402
import harness  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--scale", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--oracles", action="store_true")
    args = p.parse_args()
    data_dir = gen_batch.ensure(os.path.join(harness.WORK, "data"), args.scale, args.seed)
    if args.oracles:
        sys.path.insert(0, harness.REPO)
        import wl_catalog

        from gomaxscale_spark.plans import all_queries

        registry = all_queries()
        for name in wl_catalog.workload_cells():
            if registry[name].oracle:
                wl_catalog.oracle_frame(data_dir, registry[name].oracle)
    print(data_dir)


if __name__ == "__main__":
    main()
