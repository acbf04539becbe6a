#!/usr/bin/env python3
"""Interleaved A/B pairs of graftbench runs: a git revision against the
working tree.

    python3 scripts/ab_pairs.py --rev HEAD --workload wordcount --pairs 10

Run from the root of a checkout. The revision is extracted with
`git archive` into a temporary directory (removed afterwards); each side
compiles its own sources once before the first pair. Pair i runs
`graftbench/run.py --workload W --seed S+i --seconds T --trace R` on both
sides, the revision first in even pairs and the working tree first in odd
ones, so a drift in host load does not always fall on the same side.

Prints, per metric: each side's median [q1, q3] over the pairs, the change
of the medians, the pairs the working tree won (ties count for neither) and
a verdict; then how many runs were correct and how many operations failed
out of those attempted. Metric directions and bounds come from
BENCHMARK.json (lower is better unless it says otherwise). The verdict,
with the revision as the parent and the working tree as the change:

- worse: the change's median is worse than the parent's by more than the
  metric's bound (relative to the parent's median);
- gain: the change won at least 9 of 10 pairs, and its median is better
  than the parent's by more than the parent's interquartile range;
- unresolved: the parent's interquartile range is more than the bound of
  its median, and not every change run beats every parent run;
- unchanged: any other case.

Metrics without a bound read only gain or unchanged. Then, per query, each
side's median latency (the median over the pairs of each run's median timed
latency, read from the run's full result file under
`.bench_build/graft/results/`), so a move in `query_p50_s` or
`query_tail_s` names its query. `--out FILE` also keeps every run's result
line and query latencies as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

SIDES = ("rev", "tree")


def quartiles(xs):
    """(q1, median, q3) of a non-empty list, by the inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def wins(rev, tree, higher=False):
    """Pairs in which `tree` beat `rev` (values in pair order); ties count for neither."""
    sign = -1 if higher else 1
    return sum(1 for a, b in zip(rev, tree) if sign * (b - a) < 0)


def verdict(rev, tree, higher=False, bound=None):
    """gain, worse, unresolved or unchanged for one metric's runs: `rev`
    (the parent) and `tree` (the change) are the values of the same pairs,
    in pair order."""
    sign = -1 if higher else 1
    (q1, med, q3), t = quartiles(rev), quartiles(tree)[1]
    if bound is not None and sign * (t - med) > bound * abs(med):
        return "worse"
    if 10 * wins(rev, tree, higher) >= 9 * len(rev) and sign * (med - t) > q3 - q1:
        return "gain"
    best_rev = min(rev) if sign > 0 else max(rev)
    if (bound is not None and q3 - q1 > bound * abs(med)
            and not all(sign * (b - best_rev) < 0 for b in tree)):
        return "unresolved"
    return "unchanged"


def summarize(pairs, higher_better=(), bounds=None):
    """One row per metric of the pairs' runs.

    `pairs` is a list of {"rev": result, "tree": result}, where a result is
    a graftbench result line ({"correct", "attempted", "failed", "metrics":
    {name: {"value", "unit"}}}) or None for a run that produced none. A
    metric is summarized over the pairs in which both sides report it.
    `bounds` maps a metric to its relative bound.
    """
    bounds = bounds or {}
    names = []
    for p in pairs:
        for side in SIDES:
            for k in ((p[side] or {}).get("metrics") or {}):
                if k not in names:
                    names.append(k)
    rows = []
    for k in names:
        both = [(p["rev"]["metrics"][k], p["tree"]["metrics"][k]) for p in pairs
                if p["rev"] and p["tree"] and k in p["rev"].get("metrics", {})
                and k in p["tree"].get("metrics", {})]
        if not both:
            continue
        rev = [a["value"] for a, _ in both]
        tree = [b["value"] for _, b in both]
        r, t = quartiles(rev), quartiles(tree)
        rows.append({
            "metric": k, "unit": both[0][0].get("unit", ""), "pairs": len(both),
            "rev": r, "tree": t,
            "change": (t[1] - r[1]) / r[1] if r[1] else None,
            "tree_won": wins(rev, tree, k in higher_better),
            "verdict": verdict(rev, tree, k in higher_better, bounds.get(k)),
        })
    return rows


def outcome(pairs):
    """Per side: runs with a result, correct runs, failed and attempted operations."""
    out = {}
    for side in SIDES:
        res = [p[side] for p in pairs]
        ok = [r for r in res if r]
        out[side] = {"runs": len(res), "results": len(ok),
                     "correct": sum(1 for r in ok if r.get("correct")),
                     "failed": sum(r.get("failed", 0) for r in ok),
                     "attempted": sum(r.get("attempted", 0) for r in ok)}
    return out


def query_medians(pairs):
    """One row per query: each side's median over the pairs of the run's
    median latency, and the change. A pair's "queries" holds, per side,
    {query: [timed latencies in s]} ({} for a run without them)."""
    def per_run(side, q):
        return [statistics.median(v) for p in pairs
                for v in [((p.get("queries") or {}).get(side) or {}).get(q)] if v]
    names = sorted({q for p in pairs for side in SIDES
                    for q in ((p.get("queries") or {}).get(side) or {})})
    rows = []
    for q in names:
        med = {side: (statistics.median(per_run(side, q)) if per_run(side, q) else None)
               for side in SIDES}
        rows.append({"query": q, **med,
                     "change": (med["tree"] - med["rev"]) / med["rev"]
                     if med["rev"] and med["tree"] is not None else None})
    return rows


def render_queries(rows, rev_name):
    lines = [f"{'query median latency':<24} {'rev ' + rev_name:>30} {'working tree':>30} "
             f"{'change':>8}"]
    for r in rows:
        def cell(v):
            return "n/a" if v is None else f"{v:.4g} s"
        ch = "n/a" if r["change"] is None else f"{100 * r['change']:+.1f}%"
        lines.append(f"{r['query']:<24} {cell(r['rev']):>30} {cell(r['tree']):>30} {ch:>8}")
    return "\n".join(lines)


def render(rows, outcomes, rev_name):
    lines = [f"{'metric':<24} {'rev ' + rev_name:>30} {'working tree':>30} {'change':>8} "
             f"{'won':>5}  verdict"]
    for r in rows:
        def cell(q):
            return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        ch = "n/a" if r["change"] is None else f"{100 * r['change']:+.1f}%"
        lines.append(f"{r['metric']:<24} {cell(r['rev']):>30} {cell(r['tree']):>30} "
                     f"{ch:>8} {str(r['tree_won']) + '/' + str(r['pairs']):>5}  {r['verdict']}")
    for side in SIDES:
        o = outcomes[side]
        lines.append(f"{side}: {o['correct']}/{o['runs']} runs correct, "
                     f"{o['failed']}/{o['attempted']} operations failed"
                     + ("" if o["results"] == o["runs"]
                        else f", {o['runs'] - o['results']} runs gave no result"))
    return "\n".join(lines)


def directions(root):
    """(metrics where higher is better, {metric: bound}) from BENCHMARK.json."""
    try:
        bench = json.loads((root / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return set(), {}
    ms = [m for part in ("end_to_end", "per_layer") for m in bench.get(part, [])]
    return ({m["name"] for m in ms if m.get("better") == "higher"},
            {m["name"]: m["bound"] for m in ms if "bound" in m})


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                return None
    return None


def query_latencies(root, workload, seed, trace):
    """{query: [timed latencies in s]} from a run's full result file, or {}."""
    path = root / ".bench_build" / "graft" / "results" / f"{workload}-{seed}-trace{trace}.json"
    try:
        return json.loads(path.read_text()).get("queries") or {}
    except (OSError, ValueError):
        return {}


def run_side(root, args, seed):
    """The run's result line (None if it gave none) and its query latencies."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", args.workload, "--seed",
           str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    res = result_line(p.stdout) if p.returncode == 0 else None
    if res is None:
        print(f"# run failed ({root}, seed {seed}, exit {p.returncode}): "
              f"{p.stderr[-500:]}", file=sys.stderr)
        return None, {}
    return res, query_latencies(root, args.workload, seed, args.trace)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="write every pair's result lines here as JSON")
    a = ap.parse_args()
    tree = Path.cwd()
    with tempfile.TemporaryDirectory(prefix="ab-pairs-") as tmp:
        rev = Path(tmp)
        archive = subprocess.run(["git", "archive", "--format=tar", a.rev], cwd=tree,
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", str(rev)], input=archive, check=True)
        build = ("import pathlib, sys; sys.path.insert(0, 'graftbench'); import build; "
                 "build.build(pathlib.Path.cwd(), lambda m: None)")
        for root in (rev, tree):
            subprocess.run([sys.executable, "-c", build], cwd=root, check=True)
        pairs = []
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = (rev, tree) if i % 2 == 0 else (tree, rev)
            got = {root: run_side(root, a, seed) for root in order}
            pairs.append({"seed": seed, "rev": got[rev][0], "tree": got[tree][0],
                          "queries": {"rev": got[rev][1], "tree": got[tree][1]}})
            print(f"# pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr, flush=True)
    if a.out:
        Path(a.out).write_text(json.dumps(pairs, indent=1))
    higher, bounds = directions(tree)
    print(render(summarize(pairs, higher, bounds), outcome(pairs), a.rev))
    print(render_queries(query_medians(pairs), a.rev))
    return 0


if __name__ == "__main__":
    sys.exit(main())
