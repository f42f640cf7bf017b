"""Harness smoke test at tiny size.

    python3 perfbench/smoke.py

Run from the repository root.  Runs every workload of BENCHMARK.json
with `--tiny` (analytics at sf0.001, a two-day ingest lake) for a few
ops, plain and traced, and checks that the last stdout line is the
result object, that the output checks passed, and that every metric
BENCHMARK.json names is printed with its unit.  Exits non-zero on the
first mismatch.
"""

from __future__ import annotations

import json
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                 "--seconds", "2", "--trace", str(trace), "--tiny"],
                capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"FAIL {w} trace={trace}: rc={proc.returncode}\n{proc.stderr[-3000:]}")
                return 1
            out = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"checks: {out['correct']=} {out['attempted']=} {out['failed']=}")
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace}: "
                  f"{out['attempted']} ops, {len(got)} metrics {'; '.join(problems)}", flush=True)
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
