"""Arithmetic of the benchmark: turns one run record (written by the JVM
harness) into the reported end-to-end and per-layer metrics.

Everything here is a pure function of the record, so test_metrics.py can
check it without Spark.
"""
import math
import statistics

# Traced calls into the program's modules, named <module>.<call>.
SPANS = ("etl.demo_csv_run", "sip.save", "rdf.turtle_write", "manifest.verify",
         "text.stream_novel", "text.probe", "text.prepare", "sim.ivf_topk")

# Per traced call (means over the run's calls, except `calls`).
SPAN_METRICS = (("calls", "count"), ("wall_ms", "ms"), ("driver_ms", "ms"),
                ("plan_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                ("task_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))

OTHER_LAYER_METRICS = (
    ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.overhead_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("sources.generations", "count"), ("sources.compactions", "count"),
    ("sources.files_per_bucket_max", "count"), ("sources.table_bytes", "bytes"),
    ("text.gate_keep_ratio", "ratio"), ("text.probe_hit_ratio", "ratio"),
    ("sip.files_per_record", "ratio"), ("sip.bytes_per_record", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("all.jobs", "count"),
    ("all.driver_ms", "ms"), ("trace.overhead_pct", "%"), ("trace.callback_ms", "ms"))

# Per workload: the samples behind op_p50_ms, and the counter and the
# summed samples behind items_per_s. round_s is the whole operation
# (`round_ms`, recorded by the harness) in every workload.
E2E = {
    "archive_sip": {"op": "save_ms", "items": "sip.records", "items_over": "round_ms"},
    "ingest_gate": {"op": "commit_ms", "items": "gate.offered", "items_over": "gate_call_ms"},
    "curate_batch": {"op": "prepare_ms", "items": "curate.docs", "items_over": "prepare_ms"},
}
E2E_UNITS = (("op_p50_ms", "ms"), ("round_s", "s"), ("items_per_s", "1/s"),
             ("heap_live_mb", "MB"), ("setup_s", "s"))

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10
ATTRIBUTION_SLACK_MS = 1.0  # Spark stamps events with whole milliseconds


# ---- percentiles -----------------------------------------------------------

def median(values):
    return statistics.median(values) if values else None


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(values):
    """The highest of p99.9/p99/p90 with at least ten samples beyond it,
    as (p, value); None when there are too few samples for p90."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p, nearest_rank(values, p)
    return None


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


# ---- intervals and attribution --------------------------------------------

def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(times, spans):
    """For each event time, the id of the innermost span open at that time
    (the latest-started one that contains it), or None. Events are
    attributed by time alone, so work started on another thread while a
    span is open counts for that span."""
    out = []
    for t in times:
        best = None
        for sp in spans:
            if sp["start"] - ATTRIBUTION_SLACK_MS <= t <= sp["end"]:
                if best is None or sp["start"] > best["start"]:
                    best = sp
        out.append(best["id"] if best else None)
    return out


def span_metrics(spans, jobs, phases):
    """Per span instance: wall, driver (wall not covered by any job), plan
    time, and the jobs, tasks, task time, shuffle and spill of the jobs
    attributed to the span or to spans inside it."""
    by_id = {sp["id"]: sp for sp in spans}

    def owners(span_id):
        chain = []
        while span_id:
            chain.append(span_id)
            span_id = by_id[span_id]["parent"] if span_id in by_id else 0
        return chain

    acc = {sp["id"]: {"wall_ms": sp["end"] - sp["start"], "plan_ms": 0.0, "jobs": 0,
                      "tasks": 0, "task_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
           for sp in spans}
    for job, sid in zip(jobs, attribute([j["start"] for j in jobs], spans)):
        for o in owners(sid):
            a = acc[o]
            a["jobs"] += 1
            a["tasks"] += job["tasks"]
            a["task_ms"] += job["task_ms"]
            a["shuffle_bytes"] += job["shuffle_bytes"]
            a["spill_bytes"] += job["spill_bytes"]
    for ph, sid in zip(phases, attribute([p["start"] for p in phases], spans)):
        for o in owners(sid):
            acc[o]["plan_ms"] += ph["end"] - ph["start"]
    intervals = [(j["start"], j["end"]) for j in jobs]
    for sp in spans:
        acc[sp["id"]]["driver_ms"] = (sp["end"] - sp["start"]) - union_length(
            intervals, sp["start"], sp["end"])
    return acc


# ---- metrics -----------------------------------------------------------------

def _samples(raw, name, traced=None):
    """Samples of `name`: untraced only (traced=False), traced only
    (traced=True), or both (None)."""
    s = raw.get("samples", {})
    if traced is None:
        return s.get(name, []) + s.get(name + "@traced", [])
    return s.get(name + "@traced", []) if traced else s.get(name, [])


def e2e_metrics(raw, traced=False):
    """The end-to-end metrics over the untraced operations, or over the
    traced ones (traced=True), or over both (None)."""
    spec = E2E[raw["info"]["workload"]]
    c = raw.get("counters", {})
    over = sum(_samples(raw, spec["items_over"], traced)) / 1000.0
    rounds = _samples(raw, "round_ms", traced)
    return {
        "op_p50_ms": median(_samples(raw, spec["op"], traced)),
        "round_s": median(rounds) / 1000.0 if rounds else None,
        "items_per_s": c.get(spec["items"], 0.0) / over if over > 0 else None,
        "heap_live_mb": c.get("heap_live_mb"),
        "setup_s": c.get("setup_s"),
    }


def layer_metrics(raw):
    spans, jobs, phases = raw.get("spans", []), raw.get("jobs", []), raw.get("phases", [])
    c = raw.get("counters", {})
    acc = span_metrics(spans, jobs, phases)
    out = {}
    for name in SPANS:
        inst = [acc[sp["id"]] for sp in spans if sp["name"] == name]
        out[name + ".calls"] = float(len(inst))
        for m, _ in SPAN_METRICS[1:]:
            out[name + "." + m] = sum(a[m] for a in inst) / len(inst) if inst else 0.0

    ops = [acc[sp["id"]] for sp in spans if sp["name"] == "op"]
    out["all.jobs"] = sum(a["jobs"] for a in ops) / len(ops) if ops else 0.0
    out["all.driver_ms"] = sum(a["driver_ms"] for a in ops) / len(ops) if ops else 0.0

    commits = _samples(raw, "commit_ms")
    out["streaming.batches"] = float(len(commits))
    for m in ("add_batch_ms", "overhead_ms", "query_planning_ms", "wal_commit_ms"):
        out["streaming." + m] = median(_samples(raw, "streaming." + m)) or 0.0

    src = raw.get("sources", [])
    out["sources.generations"] = float(src[-1]["generations"]) if src else 0.0
    out["sources.compactions"] = float(src[-1]["compactions"] - src[0]["compactions"]) if src else 0.0
    out["sources.files_per_bucket_max"] = float(max(s["files_per_bucket_max"] for s in src)) if src else 0.0
    out["sources.table_bytes"] = float(src[-1]["table_bytes"]) if src else 0.0

    def ratio(a, b):
        return c.get(a, 0.0) / c[b] if c.get(b) else 0.0
    out["text.gate_keep_ratio"] = ratio("gate.kept", "gate.offered")
    out["text.probe_hit_ratio"] = ratio("probe.hit_docs", "probe.docs")
    out["sip.files_per_record"] = ratio("sip.files", "sip.records")
    out["sip.bytes_per_record"] = ratio("sip.bytes", "sip.records")

    attempted = max(raw.get("attempted", 0), 1)
    out["jvm.gc_ms"] = c.get("gc_ms", 0.0) / attempted
    out["jvm.jit_ms"] = c.get("jit_ms", 0.0) / attempted
    out["trace.callback_ms"] = c.get("trace.callback_ms", 0.0) / len(ops) if ops else 0.0
    out["trace.overhead_pct"], _ = trace_overhead(raw, ops)
    return out


def trace_overhead(raw, ops):
    """Tracing overhead in percent, and how it was measured: traced against
    untraced operations of the same run where both exist, else the time
    spent in the tracing callbacks as a share of the traced operations."""
    op = "round_ms"
    traced, plain = _samples(raw, op, True), _samples(raw, op, False)
    if traced and plain:
        return 100.0 * (median(traced) / median(plain) - 1.0), \
            "median %s traced %.1f ms (n=%d) vs untraced %.1f ms (n=%d)" % (
                op, median(traced), len(traced), median(plain), len(plain))
    wall = sum(a["wall_ms"] for a in ops)
    cb = raw.get("counters", {}).get("trace.callback_ms", 0.0)
    if wall > 0:
        return 100.0 * cb / wall, "listener callbacks %.1f ms over %.1f ms of traced ops" % (cb, wall)
    return 0.0, "no traced operation"


# ---- report ----------------------------------------------------------------

def _fmt(v, unit):
    return "n/a" if v is None else "%.4g %s" % (v, unit)


def report(raw, traced, leftovers=(), out=None):
    """Prints the readable report to `out` and returns the result object:
    the end-to-end metrics (traced=False) or the per-layer ones."""
    w = raw["info"]["workload"]
    attempted, failed = raw.get("attempted", 0), raw.get("failed", 0)
    failures = raw.get("failures", [])
    fatal = any(f.startswith("fatal") for f in failures)
    if fatal:
        attempted, failed = max(attempted, 1), max(failed, 1)

    def say(line):
        if out is not None:
            print(line, file=out)

    spec = E2E[w]
    say("workload %s, seed %s, %d core(s), %s s timed, trace %s" % (
        w, raw["info"].get("seed"), raw["info"].get("cores", 0), raw["info"].get("seconds"),
        "on" if traced else "off"))
    names = sorted({n.split("@")[0] for n in raw.get("samples", {})})
    for name in names:
        vals = _samples(raw, name, None if traced else False)
        tail = tail_percentile(vals) if vals else None
        say("  %-28s p50 %s%s (n=%d)" % (name, _fmt(median(vals), "ms"), "" if tail is None else
                                         ", p%g %s" % (tail[0], _fmt(tail[1], "ms")), len(vals)))
    say("  (a p90 needs at least 100 samples, so that 10 lie beyond it)")
    which = None if traced else False
    e2e = e2e_metrics(raw, which)
    c = raw.get("counters", {})
    say("  %-16s %s (n=%d, median of the operations)" % (
        "op_p50_ms", _fmt(e2e["op_p50_ms"], "ms"), len(_samples(raw, spec["op"], which))))
    say("  %-16s %s (n=%d, median of the operations)" % (
        "round_s", _fmt(e2e["round_s"], "s"), len(_samples(raw, "round_ms", which))))
    say("  %-16s %s (%d %s over %d timed calls)" % (
        "items_per_s", _fmt(e2e["items_per_s"], "1/s"), c.get(spec["items"], 0), spec["items"],
        len(_samples(raw, spec["items_over"], which))))
    say("  %-16s %s (n=1: JVM start to the first timed operation; of it session %.2f s, "
        "set-up %.2f s, warm-up %.2f s)" % (
            "setup_s", _fmt(e2e["setup_s"], "s"), c.get("session_s", 0.0),
            c.get("setup_only_s", 0.0), c.get("warmup_s", 0.0)))
    say("  %-16s %.2f s" % ("timed", c.get("timed_s", 0.0)))
    say("  %-16s %s (heap after a full GC at the end of the timed phase)" % (
        "heap_live_mb", _fmt(e2e["heap_live_mb"], "MB")))
    say("  %-16s %.4g (%d failed of %d attempted)" % ("failed_frac", failed_frac(attempted, failed),
                                                     failed, attempted))
    if "ann_recall_at_10" in raw["info"]:
        say("  %-16s %.4f (IVF against exact search, set-up queries)" % (
            "ann_recall_at_10", raw["info"]["ann_recall_at_10"]))
    for f in failures:
        say("  FAILED: " + f)
    if leftovers:
        say("  leftovers in the checkout: " + ", ".join(leftovers))

    if traced:
        layers = layer_metrics(raw)
        units = dict((n + "." + m, u) for n in SPANS for m, u in SPAN_METRICS)
        units.update(OTHER_LAYER_METRICS)
        ops = [sp for sp in raw.get("spans", []) if sp["name"] == "op"]
        acc = span_metrics(raw.get("spans", []), raw.get("jobs", []), raw.get("phases", []))
        _, how = trace_overhead(raw, [acc[sp["id"]] for sp in ops])
        say("  trace overhead %.2f%%: %s" % (layers["trace.overhead_pct"], how))
        for name in SPANS:
            if layers[name + ".calls"]:
                say("  %-20s " % name + " ".join(
                    "%s=%.4g" % (m, layers[name + "." + m]) for m, _ in SPAN_METRICS))
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    correct = failed == 0 and not fatal and not missing
    if missing:
        say("  no value for: " + ", ".join(missing))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: m if m["value"] is not None else {"value": 0.0, "unit": m["unit"]}
                        for k, m in metrics.items()}}
