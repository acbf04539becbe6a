#!/usr/bin/env python3
"""Benchmark self-checks, run from the root of a checkout.

Steadiness: runs one workload once per seed and reports, for every
end-to-end metric, the median, the quartiles and the spread (interquartile
range over median) against the metric's bound in BENCHMARK.json. A spread
below a third of the bound is steady. Each run's share of CPU time stolen
by the hypervisor is printed beside its pass time: on a shared host it
explains most of the run-to-run spread.

    python3 graftbench/steady.py --workload wordcount --seeds 1-10

Tracing overhead A/B (--ab): also runs each seed with --trace 1 and
compares the traced runs' pass time with the untraced runs', next to the
within-run estimate (trace.overhead_frac) the traced runs report.

Smoke (--smoke): one short untraced and one traced run on tiny generated
inputs, checking that both print a well-formed, correct result.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds_of(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_times() -> list:
    """The host-wide CPU time counters (Linux), for the share of time the
    hypervisor took from this machine (steal) while a run was measured."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def run_once(workload: str, seed: int, seconds: float, trace: int, smoke: bool) -> dict:
    before = cpu_times()
    t0 = time.time()
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)] + (["--smoke"] if smoke else [])
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_s"] = time.time() - t0
    after = cpu_times()
    if before and after:
        delta = [b - a for a, b in zip(before, after)]
        result["steal"] = delta[7] / sum(delta) if sum(delta) else 0.0
    return result


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description="graft benchmark self-checks")
    ap.add_argument("--workload", default="wordcount")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--ab", action="store_true", help="tracing overhead A/B")
    ap.add_argument("--smoke", action="store_true", help="fast run on tiny inputs")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    if a.smoke:
        for trace in (0, 1):
            r = run_once(a.workload, 1, min(seconds, 2), trace, True)
            names = [m["name"] for m in bench["end_to_end" if trace == 0 else "per_layer"]]
            missing = [n for n in names if n not in r["metrics"]]
            print(f"smoke trace={trace}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} missing={missing}")
            if not r["correct"] or missing:
                return 1
        return 0
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = seeds_of(a.seeds)
    runs = [run_once(a.workload, s, seconds, 0, False) for s in seeds]
    print(f"{a.workload}: {len(seeds)} runs of {seconds:g} s, "
          f"correct={all(r['correct'] for r in runs)}")
    for s, r in zip(seeds, runs):
        print(f"  seed {s}: pass_s {r['metrics']['pass_s']['value']:.4f}  "
              f"host steal {r.get('steal', float('nan')):.3f}  run {r['run_s']:.1f} s")
    print(f"{'metric':16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  steady")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(vals)
        print(f"{name:16} {med:10.4f} {q1:10.4f} {q3:10.4f} {sp:8.3f} {bound:6.2f}  "
              f"{'yes' if sp < bound / 3 else 'NO'}")
    if a.ab:
        traced = [run_once(a.workload, s, seconds, 1, False) for s in seeds]
        results = Path(".bench_build/graft/results")
        on = [json.loads((results / f"{a.workload}-{s}-trace1.json").read_text())
              ["end_to_end"]["pass_s"] for s in seeds]
        off = [r["metrics"]["pass_s"]["value"] for r in runs]
        within = [r["metrics"]["trace.overhead_frac"]["value"] for r in traced]
        print(f"tracing overhead: pass_s traced {statistics.median(on):.4f} vs untraced "
              f"{statistics.median(off):.4f} ({statistics.median(on) / statistics.median(off) - 1:+.3f}); "
              f"within-run median {statistics.median(within):+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
