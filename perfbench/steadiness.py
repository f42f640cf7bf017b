"""Run the benchmark repeatedly and summarise how steady it is.

    python3 perfbench/steadiness.py [--runs 10] [--sets A:3000 B:4000]
        [--workloads ingest analytics] [--out perfbench/results/steadiness]

Run from the repository root.  Each run is a fresh process with its own
seed and the `run_seconds` of BENCHMARK.json; set NAME:SEED0 uses seeds
SEED0, SEED0+1, ...  Runs are interleaved so that a change in host
speed lands on every set and workload alike: round i runs each workload
once per set, and odd rounds run in the reverse order of even ones
(A-ingest, B-ingest, A-analytics, B-analytics, then B-analytics,
A-analytics, B-ingest, A-ingest, ...).

For every set, workload and end-to-end metric it reports the median,
the quartiles (`statistics.quantiles(values, n=4)`) and the spread
(Q3 - Q1) / median next to the metric's bound; with two or more sets,
each later set's medians against the first set's.  The plateau check
compares, per run, the median op time of the second half of the timed
ops with the first half.  Writes `<out>.json` (every run) and `<out>.md`
(the summary tables).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.measure import OP_SECONDS_TAG  # noqa: E402


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    steal0, total0 = cpu_jiffies()
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    wall = time.time() - t0
    steal1, total1 = cpu_jiffies()
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    ops = [ln for ln in proc.stderr.splitlines() if ln.startswith(OP_SECONDS_TAG)]
    if proc.returncode != 0 or not lines or not ops:
        raise RuntimeError(f"{workload} seed {seed} failed rc={proc.returncode}:\n{proc.stderr[-2000:]}")
    return {"seed": seed, "wall_s": wall, "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "result": json.loads(lines[-1]),
            "op_seconds": json.loads(ops[-1][len(OP_SECONDS_TAG):])}


def summarise(bench: dict, runs: dict[str, list[dict]]) -> tuple[dict, list[str]]:
    """Per-workload statistics of one set, and its markdown table rows."""
    summary: dict = {}
    rows = []
    for w, rs in runs.items():
        summary[w] = {"runs": len(rs), "all_correct": all(r["result"]["correct"] for r in rs)}
        wall = statistics.median(r["wall_s"] for r in rs)
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[w][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                     "bound": m["bound"], "values": vals}
            rows.append(f"| {w} | {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                        f"| {spread:.3f} | {m['bound']} |")
        halves = []
        for r in rs:
            ops = r["op_seconds"]
            h = len(ops) // 2
            halves.append(statistics.median(ops[h:]) / statistics.median(ops[:h]))
        summary[w]["plateau_second_over_first_half"] = {
            "median": statistics.median(halves), "min": min(halves), "max": max(halves),
        }
        summary[w]["run_wall_s_median"] = wall
        summary[w]["run_wall_s_max"] = max(r["wall_s"] for r in rs)
        summary[w]["steal_share_max"] = max(r["steal_share"] for r in rs)
    return summary, rows


def report(bench: dict, sets: list[str], summaries: dict[str, dict], rows: dict[str, list[str]]) -> str:
    out = []
    for name in sets:
        out += [f"### Set {name}", "",
                "| workload | metric | unit | median | Q1 | Q3 | spread | bound |",
                "|---|---|---|---|---|---|---|---|", *rows[name], "",
                "| workload | 2nd-half / 1st-half op median: median (min..max) "
                "| run wall s: median, max | max steal | all correct |",
                "|---|---|---|---|---|"]
        for w, s in summaries[name].items():
            p = s["plateau_second_over_first_half"]
            out.append(f"| {w} | {p['median']:.3f} ({p['min']:.3f}..{p['max']:.3f}) "
                       f"| {s['run_wall_s_median']:.1f}, {s['run_wall_s_max']:.1f} "
                       f"| {s['steal_share_max']:.1%} | {s['all_correct']} |")
        out.append("")
    first = sets[0]
    for name in sets[1:]:
        out += [f"### Set {name} against set {first}", "",
                f"| workload | metric | {first} median | {name} median | change, worse-is-positive | bound | within |",
                "|---|---|---|---|---|---|---|"]
        for w in summaries[first]:
            for m in bench["end_to_end"]:
                a = summaries[first][w][m["name"]]["median"]
                b = summaries[name][w][m["name"]]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                out.append(f"| {w} | {m['name']} | {a:.4g} | {b:.4g} | {worse:+.1%} "
                           f"| {m['bound']} | {abs(worse) <= m['bound']} |")
        out.append("")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", nargs="+", default=["A:3000", "B:4000"],
                    help="NAME:SEED0 per set of runs")
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out", default="perfbench/results/steadiness")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seed0 = {n: int(s) for n, s in (x.split(":") for x in args.sets)}
    sets = list(seed0)
    runs = {n: {w: [] for w in workloads} for n in sets}
    for i in range(args.runs):
        for w in (workloads if i % 2 == 0 else workloads[::-1]):
            for n in (sets if i % 2 == 0 else sets[::-1]):
                r = run_once(w, seed0[n] + i, bench["run_seconds"])
                runs[n][w].append(r)
                print(f"set {n} {w} seed {r['seed']}: {r['wall_s']:.1f} s steal {r['steal_share']:.1%} "
                      + json.dumps({k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}),
                      flush=True)
    summaries, rows = {}, {}
    for n in sets:
        summaries[n], rows[n] = summarise(bench, runs[n])
    text = report(bench, sets, summaries, rows)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out + ".json", "w") as f:
        json.dump({"order": "interleaved", "summary": summaries, "runs": runs}, f, indent=1)
    with open(args.out + ".md", "w") as f:
        f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
