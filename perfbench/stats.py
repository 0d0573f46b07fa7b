"""Benchmark arithmetic: tail percentiles, span self time, attribution of
Spark listener events to the innermost open span, and the per-run report
(end-to-end metrics, per-layer metrics, self time of every layer).
"""
import json
import math
import statistics

# Per workload and phase: the top-level timed operation (also the name of
# its span), the request whose latency is reported, and the report names.
WORKLOADS = {
    "trade_ops": {
        "ingest": {"op": "drain", "request": "batch", "unit": "trades/s",
                   "names": ("ingest_trades_per_s", "ingest_batch_p50_ms",
                             "ingest_batch_tail_ms", "sink_bytes_per_trade")},
        "query": {"op": "refresh", "unit": "panels/s",
                  "names": ("refresh_panels_per_s", "refresh_p50_ms")},
    },
    "corpus_ops": {
        "ingest": {"op": "batch", "request": "batch", "unit": "docs/s",
                   "names": ("crawl_docs_per_s", "crawl_batch_p50_ms",
                             "crawl_batch_tail_ms", "store_bytes_per_doc")},
        "query": {"op": "pass", "unit": "docs/s",
                  "names": ("curation_docs_per_s", "curation_pass_p50_ms")},
    },
}
PHASES = ("ingest", "query")

# Task counters summed from the listener's task-end events.
TASK_COUNTERS = {"task_run_ms": "run_ms", "task_cpu_ms": "cpu_ms",
                 "gc_ms": "gc_ms", "shuffle_write_bytes": "shuffle_write_bytes",
                 "shuffle_read_bytes": "shuffle_read_bytes",
                 "spill_bytes": "spill_bytes", "input_bytes": "input_bytes"}
# Reported, but not among the JSON metrics: on these workloads they are
# often exactly 0 for a whole run.
REPORT_ONLY = ("gc_ms", "spill_bytes")


def tail(values):
    """(value, percentile, n) for the highest whole percentile (nearest
    rank) that has at least 10 samples beyond it. Below 20 samples that
    percentile does not exceed the median, so the maximum is reported
    instead, as percentile 100."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100, n
    p = 100 * (n - 10) // n
    return v[max(1, math.ceil(p * n / 100)) - 1], p, n


def union_ms(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: its duration minus the part its child spans cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _depths(spans):
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        chain, x = [], s
        while x["id"] not in depth and x["parent"] in by_id:
            chain.append(x)
            x = by_id[x["parent"]]
        if x["id"] not in depth:
            depth[x["id"]] = 0
        for y in reversed(chain):
            depth[y["id"]] = depth[by_id[y["parent"]]["id"]] + 1
    return depth


def attribute(spans, events, time_key):
    """{span id: [events]}: each event goes to the innermost span open at
    its `time_key` time (deepest, then latest started); events outside
    every span are dropped."""
    depth = _depths(spans)
    order = sorted(spans, key=lambda s: (depth[s["id"]], s["start"]),
                   reverse=True)
    out = {}
    for e in events:
        t = e[time_key]
        for s in order:
            if s["start"] <= t <= s["end"]:
                out.setdefault(s["id"], []).append(e)
                break
    return out


def subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, stack = [], [root]
    while stack:
        i = stack.pop()
        out.append(i)
        stack.extend(kids.get(i, []))
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def _phase_ops(ops, phase, kind, traced=False):
    return [o for o in ops if o["phase"] == phase and o["kind"] == kind
            and o["traced"] == traced]


def end_to_end(workload, result, ops, setup_start):
    """The end-to-end metrics of one untraced run, with the tail's
    (percentile, sample count)."""
    ing, qry = (WORKLOADS[workload][p] for p in PHASES)
    drains = _phase_ops(ops, "ingest", ing["op"])
    batches = [o["ms"] for o in _phase_ops(ops, "ingest", ing["request"])]
    passes = [o["ms"] for o in _phase_ops(ops, "query", qry["op"])]
    t_val, t_pct, t_n = tail(batches)
    bytes_per_item = result["layer"].get("ingest.bytes_per_item") or [math.nan]
    metrics = {
        "setup_s": (result["first_op_ms"] / 1000.0 - setup_start, "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "ingest_items_per_s": (sum(o["items"] for o in drains)
                               / (sum(o["ms"] for o in drains) / 1000.0), "1/s"),
        "ingest_batch_p50_ms": (median(batches), "ms"),
        "ingest_batch_tail_ms": (t_val, "ms"),
        "ingest_bytes_per_item": (bytes_per_item[-1], "B"),
        "query_p50_ms": (median(passes), "ms"),
    }
    return metrics, (t_pct, t_n)


def per_layer(workload, ops, spans, tasks, jobs):
    """Per-layer metrics of one traced run, per timed operation of each
    phase, plus every layer's (span name's) totals for the report."""
    selfs = self_times(spans)
    task_at = attribute(spans, tasks, "launch")
    job_at = attribute(spans, jobs, "time")
    metrics = {}
    for phase in PHASES:
        op = WORKLOADS[workload][phase]["op"]
        roots = [s for s in spans if s["parent"] == -1 and s["name"] == op]
        n = max(1, len(roots))
        acc = {k: 0.0 for k in ["spark_jobs", "spark_tasks", *TASK_COUNTERS,
                                "no_task_ms", "client_self_ms"]}
        for r in roots:
            ids = subtree(spans, r["id"])
            ts = [t for i in ids for t in task_at.get(i, [])]
            acc["spark_tasks"] += len(ts)
            acc["spark_jobs"] += sum(len(job_at.get(i, [])) for i in ids)
            for k, src in TASK_COUNTERS.items():
                acc[k] += sum(t.get(src, 0.0) for t in ts)
            acc["no_task_ms"] += (r["end"] - r["start"]) - union_ms(
                [(t["launch"], t["finish"]) for t in ts], r["start"], r["end"])
            acc["client_self_ms"] += selfs[r["id"]]
        for k, v in acc.items():
            unit = ("count" if k.startswith("spark_") else
                    "B" if k.endswith("bytes") else "ms")
            metrics[f"{phase}.{k}"] = (v / n, unit)
        traced = [o["ms"] for o in _phase_ops(ops, phase, op, traced=True)]
        plain = [o["ms"] for o in _phase_ops(ops, phase, op)]
        metrics[f"{phase}.trace_overhead_frac"] = (
            median(traced) / median(plain) - 1.0 if traced and plain
            else math.nan, "fraction")
    layers = {}
    for s in spans:
        L = layers.setdefault(s["name"], {"calls": 0, "ms": 0.0, "self": 0.0,
                                          "gap": 0.0, "jobs": 0, "tasks": 0,
                                          "cpu": 0.0})
        ts = [t for i in subtree(spans, s["id"]) for t in task_at.get(i, [])]
        L["calls"] += 1
        L["ms"] += s["end"] - s["start"]
        L["self"] += selfs[s["id"]]
        L["gap"] += (s["end"] - s["start"]) - union_ms(
            [(t["launch"], t["finish"]) for t in ts], s["start"], s["end"])
        L["jobs"] += len(job_at.get(s["id"], []))
        L["tasks"] += len(task_at.get(s["id"], []))
        L["cpu"] += sum(t.get("cpu_ms", 0.0) for t in task_at.get(s["id"], []))
    return metrics, layers


def _read_jsonl(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def report(workload, result, ops, setup_start, trace_dir):
    """{"lines": human-readable report, "end_to_end": {...},
    "per_layer": {...}} for one run."""
    e2e, (t_pct, t_n) = end_to_end(workload, result, ops, setup_start)
    ing, qry = (WORKLOADS[workload][p] for p in PHASES)
    lines = [f"== {workload}"]

    def row(name, value, unit, note=""):
        lines.append(f"  {name:34s} {value:14.4f} {unit}{note}")

    thr, b50, btl, bpi = ing["names"]
    n_ops = {p: len(_phase_ops(ops, p, WORKLOADS[workload][p]["op"]))
             for p in PHASES}
    lines.append(f"  end to end ({n_ops['ingest']} timed {ing['op']}(s), "
                 f"{n_ops['query']} timed {qry['op']}(es))")
    row(thr, e2e["ingest_items_per_s"][0], ing["unit"])
    row(b50, *e2e["ingest_batch_p50_ms"])
    row(btl, *e2e["ingest_batch_tail_ms"], f"  (p{t_pct} of {t_n})")
    row(bpi, *e2e["ingest_bytes_per_item"])
    q_ops = _phase_ops(ops, "query", qry["op"])
    row(qry["names"][0], sum(o["items"] for o in q_ops)
        / (sum(o["ms"] for o in q_ops) / 1000.0), qry["unit"])
    row(qry["names"][1], *e2e["query_p50_ms"])
    row("setup_s", *e2e["setup_s"])
    row("peak_rss_mb", *e2e["peak_rss_mb"])
    lines.append("  layer samples (median, n)")
    for k, v in result["layer"].items():
        lines.append(f"  {k:34s} {median(v):14.4f}  n={len(v)}")
    calls = {}
    for o in ops:
        if o["kind"] in ("panel", "call", "step") and not o["traced"]:
            calls.setdefault(o["name"], []).append(o["ms"])
    for k, v in sorted(calls.items()):
        lines.append(f"  {k + '_ms':34s} {median(v):14.4f}  n={len(v)}")
    for k, v in result["info"].items():
        if k.startswith("setup."):  # epoch ms of each set-up step's end
            v = f"{v / 1000.0 - setup_start:.2f} s after start"
        lines.append(f"  {k:34s} {v}")
    out = {"lines": lines, "per_layer": {},
           "end_to_end": {k: {"value": v, "unit": u}
                          for k, (v, u) in e2e.items()}}
    if trace_dir:
        metrics, layers = per_layer(
            workload, ops, _read_jsonl(f"{trace_dir}/spans.jsonl"),
            _read_jsonl(f"{trace_dir}/tasks.jsonl"),
            _read_jsonl(f"{trace_dir}/jobs.jsonl"))
        load = result["layer"].get("tables.load_ms") or [math.nan]
        metrics["tables.load_ms"] = (load[0], "ms")
        out["per_layer"] = {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()
                            if k.split(".", 1)[1] not in REPORT_ONLY}
        lines.append("  per layer, per timed operation of each phase "
                     "(recorded operations only)")
        for k, (v, u) in metrics.items():
            row(k, v, u)
        lines.append("  every layer (span name), summed over the recorded "
                     "operations; self_ms excludes child spans, no_task_ms "
                     "is time with no Spark task running")
        lines.append(f"  {'layer (span)':34s} {'calls':>6s} {'total_ms':>10s} "
                     f"{'self_ms':>10s} {'no_task_ms':>10s} {'jobs':>5s} "
                     f"{'tasks':>6s} {'task_cpu_ms':>11s}")
        for k, L in sorted(layers.items()):
            lines.append(
                f"  {k:34s} {L['calls']:6d} {L['ms']:10.1f} {L['self']:10.1f} "
                f"{L['gap']:10.1f} {L['jobs']:5d} {L['tasks']:6d} "
                f"{L['cpu']:11.1f}")
    return out
