"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_upsert,lake_query} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process drives everything: it starts
Spark at ``local[nproc]``, generates the workload's inputs from the seed,
sets the workload up, runs its closed loop for ``--seconds``, checks every
output and prints the result as the last line of stdout. ``--trace 1``
traces every round and reports per-layer metrics plus the tracing overhead
instead of the end-to-end metrics. All scratch files
live under ``.bench_work/`` and are removed at exit; each run's detail
record (provenance, per-operation figures, spans) is kept in
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_upsert", "lake_query")
FAULTS = ("drop_row", "perturb_result", "skip_upsert")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None,
        help="scale factor of the generated tables (default: the workload's)",
    )
    ap.add_argument(
        "--fault", choices=FAULTS, default=None,
        help="plant one fault that the output checks must catch",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bigdataingestion_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import harness

    return harness.run(args, ROOT)


if __name__ == "__main__":
    sys.exit(main())
