"""Build a scaling-protocol aggregate from raw trial .jsonl stream(s).

``scripts/scaling_batch.py`` writes its aggregate --out file only after the
whole batch finishes; a batch stopped mid-way leaves only the streamed raw
trial lines. This tool folds any number of such .jsonl files (and/or
finished aggregate .json files) into one best-of aggregate in the exact
shape ``bench.run_scaling`` returns, consumable by
``scripts/merge_scaling_runs.py`` and ``bench.write_baseline_md``.

Usage: python scripts/aggregate_trials.py out.json in1.jsonl [in2 ...]
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    out_path, inputs = sys.argv[1], sys.argv[2:]
    runs: dict[str, list[dict]] = {}
    turns = None
    for path in inputs:
        for line in open(path):
            line = line.strip()
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if "runs" in d:  # a finished aggregate: absorb its raw trials
                for cpus, trials in d["runs"].items():
                    runs.setdefault(str(cpus), []).extend(trials)
                    for t in trials:
                        if turns is None:
                            turns = t.get("turns")
                        assert t.get("turns") == turns, \
                            "different inputs cannot be merged"
                continue
            if "queries" not in d or "cpus" not in d:
                continue  # error line
            if turns is None:
                turns = d["turns"]
            assert d["turns"] == turns, "different inputs cannot be merged"
            runs.setdefault(str(d["cpus"]), []).append(d)
    sizes = sorted(int(c) for c in runs)
    assert len(sizes) == 2, f"need exactly two arms, got {sizes}"
    n_small, n_big = sizes

    def best(cpus: int):
        rs = runs[str(cpus)]
        c = min(r["queries"]["compact"] for r in rs)
        z = min(r["queries"]["cluster_zorder"] for r in rs)
        return c, z, turns / (c + z)

    c_s, z_s, thr_s = best(n_small)
    c_b, z_b, thr_b = best(n_big)
    agg = {
        "n_small": n_small, "n_big": n_big,
        "trials": max(len(v) for v in runs.values()),
        "throughput_small": round(thr_s, 1),
        "throughput_big": round(thr_b, 1),
        "best_phases": {"small": {"compact": c_s, "cluster_zorder": z_s},
                        "big": {"compact": c_b, "cluster_zorder": z_b}},
        "scaling_efficiency": round(thr_b / ((n_big / n_small) * thr_s), 3),
        "template_ingest": {"turns": turns},
        "runs": runs,
    }
    with open(out_path, "w") as f:
        json.dump(agg, f)
    print(json.dumps({k: v for k, v in agg.items() if k != "runs"}))


if __name__ == "__main__":
    main()
