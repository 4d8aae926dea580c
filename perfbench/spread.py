"""Run one workload once per seed and report each metric's median, quartiles
and spread (quartile distance as a share of the median) against the bound
in BENCHMARK.json.

    python3 perfbench/spread.py --workload plan_at_scale --seeds 1-10
    python3 perfbench/spread.py --workload plan_at_scale --seeds 1 --trace 1

With ``--trace 1`` it prints, for each traced run, the per-layer self time
table from the trace file and the traced loop's wall time per operation.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.summary import iqr_share, quartiles  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def trace_table(workload: str, seed: int) -> str:
    with open(os.path.join(ROOT, "perfbench", "out",
                           f"trace-{workload}-seed{seed}.json")) as fh:
        t = json.load(fh)
    total = sum(t["self_time_s"].values())
    lines = [f"traced loop: {t['rounds']} rounds, {t['ops']} operations, "
             f"{t['loop_s']:.2f} s ({t['loop_s'] / t['ops'] * 1e3:.1f} ms per operation)",
             "", "| layer | self time s | share |", "|---|---:|---:|"]
    for layer, s in sorted(t["self_time_s"].items(), key=lambda kv: -kv[1]):
        lines.append(f"| {layer} | {s:.3f} | {s / total:.1%} |")
    lines += ["", "| per-layer metric | value |", "|---|---:|"]
    lines += [f"| {k} | {v:.4g} |" for k, v in t["metrics"].items()]
    return "\n".join(lines)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="a seed or a range a-b")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    results = []
    for seed in seeds(args.seeds):
        r = run(args.workload, seed, seconds, args.trace)
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        if args.trace:
            print(trace_table(args.workload, seed), flush=True)
    if args.trace:
        return 0
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n{args.workload}: {len(results)} runs of {seconds:g} s\n")
    print("| metric | unit | median | q1 | q3 | spread | bound |")
    print("|---|---|---:|---:|---:|---:|---:|")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = quartiles(vals)
        print(f"| {name} | {results[0]['metrics'][name]['unit']} | {q2:.4g} | "
              f"{q1:.4g} | {q3:.4g} | {iqr_share(vals):.3f} | {bounds.get(name, '-')} |")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\nfailed share per run: {sorted(shares)}; "
          f"all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
