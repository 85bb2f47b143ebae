"""Span arithmetic and the per-layer metrics of a traced run.

The benchmark's JVM writes raw records: spans (id, name, parent, start_ms,
end_ms), jobs (id, submit_ms, end_ms, span, stages), per-stage task sums and
Catalyst phase times.  This module attributes jobs to spans and derives
every per-layer metric from them."""
from statistics import median

LAYER_SPANS = (
    "SparkEntry.memo", "SparkEntry.construct", "SparkEntry.action",
    "functions.features", "eval.seasonal_length", "eval.stat_recipes",
    "eval.auto_xvar", "models.fit_predict", "operators.conformal",
    "results.write")
SPAN_STATS = (("s", "s"), ("jobs", "count"), ("idle_s", "s"), ("task_s", "s"),
              ("shuffle_mb", "MB"), ("spill_mb", "MB"))
ENGINE = (("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
          ("spark.empty_task_share", "share"), ("spark.plan_s", "s"),
          ("spark.job_active_s", "s"), ("spark.idle_s", "s"), ("spark.task_s", "s"),
          ("spark.cpu_s", "s"), ("spark.gc_s", "s"), ("spark.blocked_share", "share"),
          ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
          ("spark.spill_mb", "MB"), ("spark.storage_mb", "MB"),
          ("spark.jobs_outliving_span", "count"))
EXTRA = (("host.calib_s", "s"), ("trace.overhead_share", "share"),
         ("trace.span_coverage", "share"))
MB = 1048576.0
# span ends are taken from the benchmark's clock, job ends from Spark's; a job
# counts as outliving its span only past this slack
OUTLIVE_SLACK_MS = 5.0


def per_layer_names():
    """(name, unit) of every per-layer metric, in output order."""
    spans = [(f"{s}.{stat}", unit) for s in LAYER_SPANS for stat, unit in SPAN_STATS]
    return spans + list(ENGINE) + list(EXTRA)


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> self time (ms): its duration minus the part of that
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def attribute_jobs(spans, jobs):
    """Job id -> span id.  A job belongs to the span in which it was
    submitted: the span id it carries, else the innermost span open at its
    submit time, else None."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        sid = j["span"] if j["span"] in by_id else None
        if sid is None:
            open_ = [s for s in spans if s["start_ms"] <= j["submit_ms"] <= s["end_ms"]]
            if open_:
                sid = max(open_, key=lambda s: s["start_ms"])["id"]
        out[j["id"]] = sid
    return out


def _job_interval(j, now):
    return (j["submit_ms"], j["end_ms"] if j["end_ms"] is not None else now)


def layer_metrics(raw):
    """Every per-layer metric of one traced run as {name: value}."""
    spans, eng = raw["spans"], raw["engine"]
    jobs, stages = eng["jobs"], eng["stages"]
    now = max([s["end_ms"] for s in spans] + [j["submit_ms"] for j in jobs])
    owner = attribute_jobs(spans, jobs)
    stage_by_job = {}
    for st in stages:
        stage_by_job.setdefault(st["job"], []).append(st)
    intervals = [_job_interval(j, now) for j in jobs]

    def stage_sum(job_ids, key):
        return sum(st[key] for jid in job_ids for st in stage_by_job.get(jid, []))

    out = {}
    for name in LAYER_SPANS:
        ss = [s for s in spans if s["name"] == name]
        ids = {s["id"] for s in ss}
        js = [j["id"] for j in jobs if owner[j["id"]] in ids]
        out[f"{name}.s"] = sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000.0
        out[f"{name}.jobs"] = len(js)
        out[f"{name}.idle_s"] = sum(
            (s["end_ms"] - s["start_ms"]) - union_length(intervals, s["start_ms"], s["end_ms"])
            for s in ss) / 1000.0
        out[f"{name}.task_s"] = stage_sum(js, "task_ms") / 1000.0
        out[f"{name}.shuffle_mb"] = stage_sum(js, "shuffle_write_bytes") / MB
        out[f"{name}.spill_mb"] = stage_sum(js, "spill_memory_bytes") / MB

    # engine totals cover the traced pass: the "wall" span
    wall = next(s for s in spans if s["name"] == "wall")
    lo, hi = wall["start_ms"], wall["end_ms"]
    in_wall = [j for j in jobs if lo <= j["submit_ms"] <= hi]
    ids = [j["id"] for j in in_wall]
    sts = [st for jid in ids for st in stage_by_job.get(jid, [])]
    tasks = sum(st["tasks"] for st in sts)
    task_ms = sum(st["task_ms"] for st in sts)
    cpu_ms = sum(st["cpu_ns"] for st in sts) / 1e6
    gc_ms = sum(st["gc_ms"] for st in sts)
    active = union_length([_job_interval(j, now) for j in in_wall], lo, hi)
    span_end = {s["id"]: s["end_ms"] for s in spans}
    out.update({
        "spark.jobs": len(in_wall),
        "spark.stages": sum(st["completed"] for st in sts),
        "spark.tasks": tasks,
        "spark.empty_task_share": sum(st["empty_tasks"] for st in sts) / tasks if tasks else 0.0,
        "spark.plan_s": sum(p["ms"] for p in eng["plans"] if lo <= p["start_ms"] <= hi) / 1000.0,
        "spark.job_active_s": active / 1000.0,
        "spark.idle_s": (hi - lo - active) / 1000.0,
        "spark.task_s": task_ms / 1000.0,
        "spark.cpu_s": cpu_ms / 1000.0,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.blocked_share": (task_ms - cpu_ms - gc_ms) / task_ms if task_ms else 0.0,
        "spark.shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in sts) / MB,
        "spark.shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in sts) / MB,
        "spark.spill_mb": sum(st["spill_memory_bytes"] for st in sts) / MB,
        "spark.storage_mb": raw["storage_mb"],
        "spark.jobs_outliving_span": sum(
            1 for j in jobs if owner[j["id"]] is not None and
            (j["end_ms"] is None or j["end_ms"] > span_end[owner[j["id"]]] + OUTLIVE_SLACK_MS)),
    })
    out["host.calib_s"] = median(raw["calib_s"])
    out["trace.overhead_share"] = raw["traced_wall_s"] / raw["untraced_wall_s"][-1] - 1.0
    dur = hi - lo
    out["trace.span_coverage"] = 1.0 - self_times(spans)[wall["id"]] / dur if dur else 0.0
    return out
