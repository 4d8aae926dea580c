"""Run one workload of the benchmark and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 12 --trace 0

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run, and the spans
are written to ``perfbench/out/``. Run from the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def raw_times(wl, rec) -> dict:
    """The loop's timings in seconds, and the host-speed reference's mean
    time per task (``perfbench.reference``)."""
    from perfbench.summary import median

    # a mean, not a median: a run's driver-side timings fall into two modes
    # (README, "End to end"), and the median jumps between them
    ops = [x for kind in wl.headline for x in rec.samples[kind]]
    return {"op_mean": sum(ops) / len(ops),
            "read_p50": median(rec.samples["lookup"]),
            "busy_per_op": rec.busy_s / rec.ops,
            "ref": sum(rec.ref) / len(rec.ref)}


def end_to_end(wl, raw: dict, setup_s: float) -> dict:
    """Timings of the loop in reference units: each divided by the time of
    one reference task measured between the same run's operations."""
    from perfbench.harness import peak_rss_mb

    ref = raw["ref"]
    return {
        "setup_s": (setup_s, "s"),
        "op_mean_ref": (raw["op_mean"] / ref, "ref"),
        "busy_per_op_ref": (raw["busy_per_op"] / ref, "ref"),
        "stored_bytes_per_turn": (wl.stored_bytes_per_turn(), "B/turn"),
        "driver_rss_mb": (peak_rss_mb(), "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from perfbench.harness import Workdir, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS, Recorder

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from perfbench.checks import CheckFailed
    from perfbench.summary import tail_percentile
    from perfbench.tracing import Tracer

    work = Workdir()
    spark = None
    try:
        spark, start_s = start_spark(work)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        tracer = Tracer(spark) if args.trace else None
        rec = Recorder(tracer)
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        rounds = 0
        try:
            while True:  # whole rounds only
                wl.round(rec)
                rounds += 1
                if time.perf_counter() - t0 >= args.seconds:
                    break
        finally:
            if tracer:
                tracer.uninstall()
        loop_s = time.perf_counter() - t0

        raw = raw_times(wl, rec)
        if tracer:
            metrics = {"session.start_s": (start_s, "s"), **tracer.metrics(),
                       "host.ref_ms": (raw["ref"] * 1e3, "ms")}
        else:
            metrics = end_to_end(wl, raw, setup_s)
        t1 = time.perf_counter()
        try:
            wl.check()
            correct = True
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
            correct = False
        print(f"perfbench: {args.workload} seed {args.seed}: spark start "
              f"{start_s:.1f} s, setup {setup_s:.1f} s, {rounds} rounds in "
              f"{loop_s:.1f} s, check {time.perf_counter() - t1:.1f} s; "
              + ", ".join(f"{k} {v * 1e3:.2f} ms" for k, v in raw.items()),
              file=sys.stderr)
        if tracer:
            tracer.dump(
                os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "rounds": rounds,
                 "ops": rec.ops, "loop_s": loop_s, "busy_s": rec.busy_s,
                 "samples": rec.samples})
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            work.close()

    result = {
        "correct": correct,
        "attempted": rec.ops,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "seconds": args.seconds,
                             "rounds": rounds, "loop_s": loop_s,
                             "raw_s": raw, "samples": rec.samples,
                             "ref_s": rec.ref,
                             # only where ten samples lie beyond the percentile
                             "tails": {k: tail_percentile(v)
                                       for k, v in rec.samples.items()},
                             **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
