"""Pure functions the benchmark reports with: percentiles, span self time,
per-layer summaries of a traced unit, and the one-line headline."""

import json
import math
import statistics

# Percentiles the tail rule chooses from, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
HEADLINE_LIMIT = 2000


def median(xs):
    return statistics.median(xs) if xs else None


def _rank(n, p):
    """Nearest rank (1-based) of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(n * p / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile of ``xs`` (0 < p <= 100)."""
    return sorted(xs)[_rank(len(xs), p) - 1]


def tail_percentile(xs):
    """The highest ladder percentile with at least ten samples beyond it.

    Returns ``(p, value)``, or ``None`` when even the median has fewer
    than ten samples above it (fewer than 20 samples).
    """
    n = len(xs)
    best = None
    for p in PERCENTILE_LADDER:
        if n - _rank(n, p) >= 10:
            best = (p, percentile(xs, p))
    return best


def self_times(spans):
    """Self time per span id: duration minus the union of its children.

    ``spans``: dicts with id, parent (-1 for roots), start_s, end_s.
    Children are clipped to their parent's interval and may overlap.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(lo, c["start_s"]), min(hi, c["end_s"])) for c in kids.get(s["id"], ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def by_name(spans, values):
    """Sum per span name of ``values[span id]``."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + values[s["id"]]
    return out


def spark_totals(trace):
    """Unit-wide Spark counters from one traced unit."""
    stages = [st for j in trace["jobs"] for st in j["stages"]]
    wall = trace["wall_s"]
    task_run = sum(st["task_run_s"] for st in stages)
    return {
        "spark.jobs": len(trace["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": sum(st["task_cpu_s"] for st in stages),
        "spark.gc_s": sum(st["gc_s"] for st in stages),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in stages),
        "spark.plan_ms": trace["plan_ms"],
        "spark.driver_gap_s": max(0.0, wall - trace["busy_s"]),
        "spark.core_busy_share": task_run / (wall * trace["cores"]),
        "spark.codegen_compile_ms": trace["codegen_compile_ms"],
    }


def _jobs_in(trace, names):
    ids = {s["id"] for s in trace["spans"] if s["name"] in names}
    return [j for j in trace["jobs"] if j["span"] in ids]


def per_span(trace):
    """Per span name: calls, duration, self time and the Spark work of
    the jobs attributed to it (innermost open span at submission)."""
    spans = trace["spans"]
    selfs = self_times(spans)
    out = {}
    for s in spans:
        row = out.setdefault(s["name"], {"calls": 0, "dur_s": 0.0, "self_s": 0.0, "jobs": 0,
                                         "tasks": 0, "task_run_s": 0.0, "shuffle_write_bytes": 0})
        row["calls"] += 1
        row["dur_s"] += s["end_s"] - s["start_s"]
        row["self_s"] += selfs[s["id"]]
    names = {s["id"]: s["name"] for s in spans}
    for j in trace["jobs"]:
        row = out.get(names.get(j["span"]))
        if row is None:
            continue
        row["jobs"] += 1
        for st in j["stages"]:
            row["tasks"] += st["tasks"]
            row["task_run_s"] += st["task_run_s"]
            row["shuffle_write_bytes"] += st["shuffle_write_bytes"]
    return out


def call_sites(trace):
    """Jobs per (span name, call site): shows repeated evaluations."""
    names = {s["id"]: s["name"] for s in trace["spans"]}
    out = {}
    for j in trace["jobs"]:
        key = "%s @ %s" % (names.get(j["span"], "-"), j["call_site"])
        out[key] = out.get(key, 0) + 1
    return out


def clinical_layers(trace, unit):
    """The named per-layer metrics of one traced parse-excel unit."""
    spans = trace["spans"]
    dur = by_name(spans, {s["id"]: s["end_s"] - s["start_s"] for s in spans})
    counts = unit.get("layer_counts", {})
    ingest_stages = [st for j in _jobs_in(trace, {"sources.ingest"}) for st in j["stages"]]
    issue_jobs = _jobs_in(trace, {"p6.issues.count", "p6.issues.render"})
    sink_jobs = _jobs_in(trace, {"p6.assemble.sink"})
    rows = counts.get("sources.rows_parsed", 0)
    out = {
        "sources.ingest_s": dur.get("sources.ingest", 0.0),
        "sources.files_read": sum(st["input_records"] for st in ingest_stages),
        "sources.bytes_read": sum(st["input_bytes"] for st in ingest_stages),
        "sources.rows_parsed": rows,
        "sources.files_failed": counts.get("sources.files_failed", 0),
        "p6.ontology.load_s": dur.get("p6.ontology.load", 0.0),
        "p6.ontology.closure_pairs": counts.get("p6.ontology.closure_pairs", 0),
        "p6.mappers.map_s": dur.get("p6.mappers.map", 0.0),
        "p6.mappers.records_out": counts.get("p6.mappers.records_out", 0),
        "p6.mappers.record_yield": counts.get("p6.mappers.records_out", 0) / rows if rows else 0.0,
        "p6.issues.eval_s": dur.get("p6.issues.count", 0.0) + dur.get("p6.issues.render", 0.0),
        "p6.issues.evaluations": len({j["execution"] for j in issue_jobs}),
        "p6.issues.rows_error": counts.get("p6.issues.rows_error", 0),
        "p6.issues.rows_warning": counts.get("p6.issues.rows_warning", 0),
        "p6.assemble.bundle_s": dur.get("p6.assemble.bundle", 0.0),
        "p6.assemble.bundle_shuffle_bytes": sum(st["shuffle_write_bytes"]
                                                for j in sink_jobs for st in j["stages"]),
        # the packet JSON is encoded after the bundle shuffle, in the
        # sink's last job (adaptive execution runs each stage as a job)
        "p6.assemble.encode_task_s": sum(st["task_run_s"] for st in
                                         max(sink_jobs, key=lambda j: j["id"])["stages"])
        if sink_jobs else 0.0,
        "p6.assemble.sink_s": dur.get("p6.assemble.sink", 0.0),
        "p6.assemble.files_written": unit.get("files_written", 0),
        "p6.assemble.bytes_written": unit.get("bytes_written", 0),
        "p6.assemble.stats_s": dur.get("p6.assemble.stats", 0.0),
        "cli.render_s": dur.get("cli.render", 0.0),
    }
    return out


def registry_layers(trace):
    spans = trace["spans"]
    dur = by_name(spans, {s["id"]: s["end_s"] - s["start_s"] for s in spans})
    return {
        "registry.build_s": dur.get("registry.build", 0.0),
        "registry.sink_s": dur.get("registry.sink", 0.0),
        "registry.build_jobs": len(_jobs_in(trace, {"registry.build"})),
        "registry.sink_jobs": len(_jobs_in(trace, {"registry.sink"})),
    }


def accounted_s(trace):
    """Time covered by the layer spans: the children of the root spans,
    or the roots themselves when they have no children."""
    spans = trace["spans"]
    roots = [s for s in spans if s["parent"] == -1]
    total = 0.0
    for r in roots:
        kids = [s for s in spans if s["parent"] == r["id"]]
        total += sum(k["end_s"] - k["start_s"] for k in kids) if kids else r["end_s"] - r["start_s"]
    return total


def headline(correct, attempted, failed, metrics):
    """The last stdout line: compact JSON, under HEADLINE_LIMIT characters.

    ``metrics``: name -> (value, unit).
    """
    line = json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed),
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))
    if len(line) >= HEADLINE_LIMIT:
        raise ValueError("headline is %d characters, limit %d" % (len(line), HEADLINE_LIMIT))
    return line
