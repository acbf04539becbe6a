#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one run of one workload.

    python3 graftbench/run.py --workload wordcount --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. A run compiles the engine if no earlier run
compiled these sources, generates the workload's inputs from the seed,
starts one JVM on local[N] (N = CPUs), runs an untimed warm pass, an
untimed check pass and timed passes for `--seconds`, and compares every
query's check-pass result with the engine's DuckDB oracle (cached per query
and data fingerprint).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the span
trace is written to .bench_build/graft/traces/. The line before it starts
with "# env" and records the configuration the result was measured under.
Everything a run writes stays under .bench_build/ in the checkout; the
run's own temp, spill, warehouse and metastore directories are fresh for
every run and removed after it.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build
import datagen
import layers
import oracle
from workloads import FIXED_DATA_SEED, SMOKE, WORKLOADS

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "heap_peak_mb": "MB"}
HEAP = "3g"
# a fixed young generation: young collections, at which the post-GC heap is
# sampled, then come at a rate set by the allocation volume alone
YOUNG = "256m"
# passes outside the timed window: the first run of every query, and the
# run that writes the outputs for the correctness compare
UNTIMED = {"warm", "check"}
# the run must end within 180 s; a first run in a checkout also compiles
RUN_LIMIT_S = 170


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def fingerprint(data: Path) -> str:
    props = json.loads((data / "properties.json").read_text())
    return hashlib.sha256(json.dumps(props["sha256"], sort_keys=True).encode()).hexdigest()[:16]


def dataset(work: Path, wl, seed: int, smoke: bool) -> Path:
    """Directory holding the workload's generated tables (cached)."""
    params = dict(SMOKE[wl.data] if smoke else wl.params)
    data_seed = seed if wl.per_seed else FIXED_DATA_SEED
    key = hashlib.sha256(json.dumps([wl.data, params, data_seed, datagen.__doc__],
                                    sort_keys=True).encode()).hexdigest()[:12]
    out = work / "data" / f"{wl.data}-{data_seed}-{key}"
    if not (out / "properties.json").exists():
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        gen = datagen.corpus if wl.data == "corpus" else datagen.star
        gen(data_seed, tmp, **params)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
        log(f"[graftbench] generated {wl.data} seed {data_seed} in {time.time() - t0:.1f} s")
    return out


def oracle_sql(work: Path, root: Path, classes: Path) -> dict:
    """Oracle SQL of every workload query, dumped once per build."""
    path = work / f"oracle-sql-{classes.name}.json"
    if not path.exists():
        queries = sorted({q for wl in WORKLOADS.values() for q in wl.queries})
        tmp = path.with_suffix(".tmp")
        subprocess.run(["java", "-cp", build.classpath(root, classes), "graftbench.Harness",
                        "queries=" + ",".join(queries), f"dump_oracle={tmp}"],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        tmp.rename(path)
    return json.loads(path.read_text())


def ten_beyond(values: list) -> tuple:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or (None, None) when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return None, None
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(run: dict) -> tuple:
    timed = [e for e in run["executions"] if e["pass"] not in UNTIMED]
    passes = [p for p in run["passes"] if p["label"] not in UNTIMED]
    lat = [(e["end"] - e["start"]) / 1000 for e in timed]
    per_query = {}
    for e in timed:
        per_query.setdefault(e["query"], []).append((e["end"] - e["start"]) / 1000)
    slowest = max(per_query, key=lambda q: statistics.median(per_query[q]))
    tail, pct = ten_beyond(lat)
    metrics = {
        "setup_s": (run["warm_end"] - run["launch_ms"]) / 1000,
        "pass_s": statistics.median((p["end"] - p["start"]) / 1000 for p in passes),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": statistics.median(per_query[slowest]),
        "heap_peak_mb": statistics.median(p["counters"]["heap_peak_bytes"]
                                          for p in passes) / (1 << 20),
    }
    return metrics, {"timed_executions": len(lat), "timed_passes": len(passes),
                     "tail_query": slowest, "ten_beyond_s": tail, "ten_beyond_percentile": pct}


def git_commit(root: Path) -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main() -> int:
    ap = argparse.ArgumentParser(description="graft layered benchmark: one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny generated inputs: the benchmark's own fast check")
    a = ap.parse_args()
    t_start = time.time()
    cpus = os.cpu_count()
    root = Path.cwd()
    work = root / ".bench_build" / "graft"
    wl = WORKLOADS[a.workload]
    try:
        classes = build.build(root, log)
    except build.BuildError as e:
        log(f"[graftbench] {e}")
        return 2
    data = dataset(work, wl, a.seed, a.smoke)
    fp = fingerprint(data)
    sql = oracle_sql(work, root, classes)
    want = oracle.expected(work / "oracle", data, fp,
                           {q: sql[q] for q in wl.queries if q in sql}, log)

    run_dir = work / "runs" / f"{wl.name}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        (run_dir / d).mkdir(parents=True)
    cmd = ["java", *build.java_opens(), f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.local.dir={run_dir / 'local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           "-cp", build.classpath(root, classes), "graftbench.Harness",
           f"data={data}", "queries=" + ",".join(wl.queries), f"seconds={a.seconds}",
           f"trace={a.trace}", f"seed={a.seed}", f"cpus={cpus}",
           f"check={run_dir / 'check'}", f"out={run_dir / 'run.json'}"]
    stderr_log = run_dir / "jvm.log"
    try:
        with open(stderr_log, "w") as err:
            launch_ms = time.time() * 1000
            proc = subprocess.Popen(cmd + [f"launch_ms={launch_ms}"], stdout=err, stderr=err)
            try:
                proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                log("[graftbench] run exceeded its time limit")
                return 3
        if proc.returncode != 0:
            log(stderr_log.read_text()[-3000:])
            log(f"[graftbench] harness exited with {proc.returncode}")
            return 4
        run = json.loads((run_dir / "run.json").read_text())

        failures = {f"{e['pass']}/{e['query']}": e["error"] for e in run["executions"] if not e["ok"]}
        for q in wl.queries:
            if q in want and f"check/{q}" not in failures:
                diff = oracle.compare(run_dir / "check" / q, want[q])
                if diff:
                    failures[f"check/{q}"] = "wrong result: " + diff
        attempted = len(run["executions"])
        metrics, shape = end_to_end(run)
        env = {**run["env"], "workload": wl.name, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "data": str(data.relative_to(root)), "data_fingerprint": fp,
               "data_properties": json.loads((data / "properties.json").read_text()),
               "git_commit": git_commit(root), "source_hash": classes.name,
               "queries": list(wl.queries), "no_oracle": [q for q in wl.queries if q not in want],
               **shape}
        report = {"env": env, "failures": failures,
                  "queries": {q: [(e["end"] - e["start"]) / 1000 for e in run["executions"]
                                  if e["query"] == q and e["pass"] not in UNTIMED]
                              for q in wl.queries}}
        if a.trace:
            out_metrics, trace = layers.derive(run, wl.name, a.seed, cpus)
            units = layers.PER_LAYER
            traces = work / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            trace_path = traces / f"{wl.name}-{a.seed}.json"
            trace_path.write_text(json.dumps({"env": env, "layers": out_metrics, **trace}))
            env["trace_file"] = str(trace_path.relative_to(root))
        else:
            out_metrics, units = metrics, END_TO_END
        results = work / "results"
        results.mkdir(parents=True, exist_ok=True)
        (results / f"{wl.name}-{a.seed}-trace{a.trace}.json").write_text(
            json.dumps({**report, "metrics": out_metrics, "end_to_end": metrics}, indent=1))
        for k, v in failures.items():
            log(f"[graftbench] FAILED {k}: {v}")
        print("# env " + json.dumps(env, sort_keys=True))
        print(json.dumps({
            "correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": out_metrics[k], "unit": units[k]} for k in units}}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
