"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics}
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the root of a checkout.  Builds the workload's state, replays
its seeded op sequence in a closed loop (one client), checks outputs and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` installs the
layer wrappers, alternates traced and untraced ops, and reports the
per-layer metrics (spans are written to .perfbench/trace_<workload>.json).
`--tiny` shrinks every input for a smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dl_datalake_spark")):
        print("perfbench: run from the repository root (dl_datalake_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import Clock, configure_environment, stop_spark

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_environment(ROOT, work)
    spark = None
    try:
        clock = Clock()
        from dl_datalake_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = clock.elapsed()
        from perfbench import measure

        result = measure.run(spark, args, work, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
