"""Spans and per-layer metrics of a traced run, derived from the raw events
the harness recorded (see harness/graftbench/Tracer.scala).

Span tree of one query execution (all spans share the trace id
`workload/seed/pass/query`):

    query
      construct                   the registered query builder call
        catalyst.analysis         (of the executions it triggers)
        stream.batch              micro-batches of a streaming drain
          job
        job
          stage
      execute                     the noop write
        catalyst.optimization
        catalyst.planning
        job
          stage

Catalyst phase spans hang under the construct or execute span whose
interval holds them, so that every span's self time (its duration minus
the part its children cover) counts each instant once.
"""
import statistics

CATALYST = {"analysis": "catalyst.analysis", "optimization": "catalyst.optimization",
            "planning": "catalyst.planning"}
MB = 1 << 20

# metric name -> unit, in the order they are reported
PER_LAYER = {
    "construct_s": "s", "construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count",
    "execute_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "scan.bytes": "bytes", "scan.rows": "count", "scan.tasks": "count",
    "artifact.count": "count", "artifact.mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB", "storage.peak_mb": "MB",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "setup.session_s": "s", "setup.warm_s": "s",
    "setup.codegen_compile_s": "s", "setup.codegen_classes": "count",
    "stream.batches": "count", "stream.trigger_s": "s", "stream.plan_s": "s",
    "stream.add_batch_s": "s", "stream.commit_s": "s", "stream.state_commit_s": "s",
    "stream.state_rows": "count", "stream.overhead_s": "s",
    "jvm.gc_s": "s",
    "self.construct_s": "s", "self.execute_s": "s",
    "self.catalyst_s": "s", "self.stream_batch_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead_frac": "ratio",
}


def _within(t, lo, hi, slack=1.0):
    return lo - slack <= t <= hi + slack


def build_spans(run: dict, workload: str, seed: int) -> list:
    """Every span of every traced execution, as dicts with id, parent,
    trace, name, start, end (epoch ms) and attrs."""
    ev = run.get("events") or {}
    spans = []

    def add(trace, name, start, end, parent, attrs=None):
        spans.append({"id": len(spans), "parent": parent, "trace": trace, "name": name,
                      "start": start, "end": max(start, end), "attrs": attrs or {}})
        return len(spans) - 1

    jobs = sorted(ev.get("jobs", []), key=lambda j: j["start"])
    stages = ev.get("stages", [])
    for e in run["executions"]:
        if not e["traced"]:
            continue
        trace = f"{workload}/{seed}/{e['pass']}/{e['query']}"
        q = add(trace, "query", e["start"], e["end"], None, {"ok": e["ok"]})
        c = add(trace, "construct", e["start"], e["construct_end"], q)
        x = add(trace, "execute", e["construct_end"], e["end"], q)

        def holder(t):
            return c if t < e["construct_end"] else x

        batches = []
        for b in ev.get("batches", []):
            if _within(b["start"], e["start"], e["end"]):
                bid = add(trace, "stream.batch", b["start"], b["start"] + b["trigger_ms"], c,
                          {k: v for k, v in b.items() if k != "start"})
                batches.append((bid, b["start"], b["start"] + b["trigger_ms"]))
        for name, start, end in ((p["name"], p["start"], p["end"]) for p in ev.get("phases", [])):
            if name in CATALYST and _within(start, e["start"], e["end"]):
                add(trace, CATALYST[name], start, end, holder(start))
        for j in jobs:
            if not _within(j["start"], e["start"], e["end"]):
                continue
            parent = next((bid for bid, lo, hi in batches if _within(j["start"], lo, hi)),
                          holder(j["start"]))
            jid = add(trace, "job", j["start"], j["end"], parent, {"job_id": j["id"]})
            ids = set(j["stages"])
            for s in stages:
                if s["id"] in ids and _within(s["start"], j["start"], j["end"]):
                    add(trace, "stage", s["start"], s["end"], jid,
                        {"stage_id": s["id"], "attempt": s["attempt"], **s["metrics"]})
    return spans


def _self_times(spans: list) -> None:
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        s["self_ms"] = (s["end"] - s["start"]) - covered


def _under(spans_by_id, span, name):
    p = span["parent"]
    while p is not None:
        if spans_by_id[p]["name"] == name:
            return True
        p = spans_by_id[p]["parent"]
    return False


def metrics_of(spans: list, executions: list, storage: list, wall_ms: float, cpus: int) -> dict:
    """Per-layer figures summed over `executions` (their spans) and the
    storage series within their time range."""
    by_id = {s["id"]: s for s in spans}
    traces = {s["trace"] for s in spans if s["name"] == "query"}
    own = [s for s in spans if s["trace"] in traces]
    m = {k: 0.0 for k in PER_LAYER if not k.startswith(("setup.", "trace.", "artifact."))}
    stream_queries = set()
    for s in own:
        d = (s["end"] - s["start"]) / 1000
        n, a = s["name"], s["attrs"]
        if n == "construct":
            m["construct_s"] += d
        elif n == "execute":
            m["execute_s"] += d
        elif n.startswith("catalyst."):
            m[n + "_s"] += d
            if n == "catalyst.planning":
                m["catalyst.executions"] += 1
        elif n == "job":
            m["construct_jobs" if _under(by_id, s, "construct") else "exec.jobs"] += 1
        elif n == "stage":
            m["exec.stages"] += 1
            m["exec.tasks"] += a.get("tasks", 0)
            m["exec.task_run_s"] += a.get("run_ms", 0) / 1000
            m["exec.task_cpu_s"] += a.get("cpu_ns", 0) / 1e9
            m["exec.gc_s"] += a.get("gc_ms", 0) / 1000
            m["scan.bytes"] += a.get("scan_bytes", 0)
            m["scan.rows"] += a.get("scan_rows", 0)
            m["scan.tasks"] += a.get("scan_tasks", 0)
            m["shuffle.write_mb"] += a.get("shuffle_write_bytes", 0) / MB
            m["shuffle.read_mb"] += a.get("shuffle_read_bytes", 0) / MB
            m["shuffle.fetch_wait_s"] += a.get("fetch_wait_ms", 0) / 1000
            m["spill.mb"] += a.get("spill_bytes", 0) / MB
        elif n == "stream.batch":
            stream_queries.add(s["trace"])
            m["stream.batches"] += 1
            m["stream.trigger_s"] += a.get("trigger_ms", 0) / 1000
            m["stream.plan_s"] += a.get("plan_ms", 0) / 1000
            m["stream.add_batch_s"] += a.get("add_batch_ms", 0) / 1000
            m["stream.commit_s"] += a.get("commit_ms", 0) / 1000
            m["stream.state_commit_s"] += a.get("state_commit_ms", 0) / 1000
            m["stream.state_rows"] += a.get("state_rows", 0)
        if n != "query":  # construct and execute cover it entirely
            key = {"catalyst.analysis": "catalyst", "catalyst.optimization": "catalyst",
                   "catalyst.planning": "catalyst", "stream.batch": "stream_batch"}.get(n, n)
            m[f"self.{key}_s"] += s["self_ms"] / 1000
    drain_construct = sum((s["end"] - s["start"]) / 1000 for s in own
                          if s["name"] == "construct" and s["trace"] in stream_queries)
    m["stream.overhead_s"] = drain_construct - m["stream.trigger_s"]
    m["exec.core_util"] = m["exec.task_run_s"] / (wall_ms / 1000 * cpus) if wall_ms > 0 else 0.0
    for e in executions:
        c = e.get("counters", {})
        m["codegen.compile_s"] += c.get("codegen.compile_ns", 0) / 1e9
        m["codegen.classes"] += c.get("codegen.classes", 0)
        m["jvm.gc_s"] += c.get("jvm.gc_ms", 0) / 1000
    if executions:
        lo = min(e["start"] for e in executions)
        hi = max(e["end"] for e in executions)
        before = [b for t, b in storage if t < lo]
        inside = [b for t, b in storage if lo <= t <= hi]
        m["storage.peak_mb"] = max((before[-1:] if before else [0]) + inside) / MB
    return m


def derive(run: dict, workload: str, seed: int, cpus: int) -> tuple:
    """(per-layer metrics: medians over traced timed passes, trace document)."""
    spans = build_spans(run, workload, seed)
    _self_times(spans)
    storage = (run.get("events") or {}).get("storage", [])
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)

    def trace_of(e):
        return f"{workload}/{seed}/{e['pass']}/{e['query']}"

    per_pass, per_query = {}, []
    for p in run["passes"]:
        if not p["traced"]:
            continue
        exs = [e for e in run["executions"] if e["pass"] == p["label"]]
        sp = [s for e in exs for s in by_trace.get(trace_of(e), [])]
        m = metrics_of(sp, exs, storage, p["end"] - p["start"], cpus)
        m["artifact.count"] = p["counters"].get("artifact.count", 0)
        m["artifact.mb"] = p["counters"].get("artifact.bytes", 0) / MB
        per_pass[p["label"]] = m
        for e in exs:
            em = metrics_of(by_trace.get(trace_of(e), []), [e], storage, e["end"] - e["start"], cpus)
            per_query.append({"trace": trace_of(e), "pass": e["pass"], "query": e["query"],
                              "seconds": (e["end"] - e["start"]) / 1000, "metrics": em})
    timed = [m for label, m in per_pass.items() if label != "warm"]
    out = {k: statistics.median(m[k] for m in timed) for k in timed[0]} if timed else {}
    warm = next((p for p in run["passes"] if p["label"] == "warm"), None)
    out["setup.session_s"] = (run["session_ready"] - run["launch_ms"]) / 1000
    out["setup.warm_s"] = (warm["end"] - warm["start"]) / 1000 if warm else 0.0
    wc = per_pass.get("warm", {})
    out["setup.codegen_compile_s"] = wc.get("codegen.compile_s", 0.0)
    out["setup.codegen_classes"] = wc.get("codegen.classes", 0.0)
    walls = {t: [(p["end"] - p["start"]) for p in run["passes"]
                 if p["label"] != "warm" and p["traced"] == t] for t in (True, False)}
    out["trace.overhead_frac"] = (statistics.median(walls[True]) / statistics.median(walls[False]) - 1
                                  if walls[True] and walls[False] else 0.0)
    doc = {"spans": spans, "per_pass": per_pass, "per_query": per_query}
    return {k: out.get(k, 0.0) for k in PER_LAYER}, doc
