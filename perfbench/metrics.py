"""From one run's record to the benchmark's metrics.

End-to-end metrics come from the untraced passes ("first" and "steady";
the "settle" pass is in no metric); per-layer metrics from the traced
passes. Every per-layer number is a per-pass total (summed over the pass's
queries), reported as the median over the traced passes, so the time
layers add up to `pass_s`.

Span tree of a traced pass: query -> {build, exec, sweep} -> Spark job ->
stage -> task intervals; stream queries hang off the phase that started
them. Each job, stage and stream carries the `<pass>/<query>/<phase>` tag
of that phase. A span's self time is its duration minus the part of it
that its children cover (`self_time`).
"""
import re
import statistics

# Repo modules a stage or job is attributed to: the innermost `graft.*`
# frame of its call site names the module (`core.Tables`). Only modules that
# fire jobs of their own on the benchmark's workloads are listed; a module
# whose work runs inside another module's job or the harness's noop write,
# or that no query of the workloads reaches, would read zero on every run.
MODULES = [
    "core.Tables", "plans.GlobalOrder",
    "ops.Graph", "ops.Multimodal", "ops.Compaction",
    "streaming.StreamingGate", "streaming.EventStream", "streaming.IngestPipeline",
]
_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([\w$.]+)\(")

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MB",
}

PER_LAYER = {  # name -> unit; the module metrics are added below
    "session_start_s": "s", "warmup_s": "s",
    "build_s": "s", "build_jobs": "count", "build_stages": "count",
    "exec_s": "s", "exec_jobs": "count", "stages": "count", "tasks": "count",
    "task_cpu_s": "s", "task_run_s": "s", "cpu_util": "ratio", "no_task_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "scan_bytes": "bytes", "scan_tasks": "count", "scan_task_yield": "ratio",
    "stream_queries": "count", "stream_batches": "count", "stream_life_s": "s",
    "stream_trigger_s": "s", "stream_overhead_s": "s", "stream_commit_s": "s",
    "stream_state_commit_s": "s", "stream_state_rows": "count",
    "write_bytes": "bytes", "write_records": "count", "write_tasks": "count",
    "sweep_s": "s", "persisted_rdds_left": "count", "cached_mb_left": "MB",
    "temp_views_left": "count",
    "task_failures": "count", "stage_reattempts": "count", "query_errors": "count",
    "trace_overhead_s": "s",
}
for _m in MODULES:
    PER_LAYER[f"{_m}.jobs"] = "count"
    PER_LAYER[f"{_m}.task_cpu_s"] = "s"


def module_of(call_site):
    """The repo module of the innermost `graft.*` frame in a call site, or
    None when no engine frame is in it (the harness's own noop write)."""
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if m:
            parts = m.group(1).split(".")
            if len(parts) < 3:
                return "other"  # a top-level object such as graft.SparkEntry
            return f"{parts[0]}.{parts[1].split('$')[0]}"
    return None


def tail(samples, beyond=10):
    """(value, percentile, n) at the highest percentile with at least
    `beyond` samples above it: the (beyond+1)-th largest sample."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part its children's intervals cover."""
    a, b = span
    clipped = [(max(a, x), min(b, y)) for x, y in children if y > a and x < b]
    return (b - a) - union_length(clipped)


def fail_counts(runs, verdicts):
    """(attempted, failed) over timed executions. An execution fails when it
    throws, or when its query's checked result differs from the oracle."""
    wrong = {q for q, v in verdicts.items() if v is not None}
    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"] or r["query"] in wrong)
    return attempted, failed


def _passes(runs, kind):
    by = {}
    for r in runs:
        if r["kind"] == kind:
            by.setdefault(r["pass"], []).append(r)
    return [by[p] for p in sorted(by)]


def _wall(pass_runs):
    """A pass's wall time, less its untimed asides (result dump, state read)."""
    aside = sum(r["t_sweep"] - r["t_done"] for r in pass_runs)
    return pass_runs[-1]["t_end"] - pass_runs[0]["t_build"] - aside


def end_to_end(record, launch_s):
    """End-to-end metrics of an untraced run, plus the tail's percentile
    and sample count for the report. `launch_s` is when the harness
    launched the JVM."""
    runs = record["runs"]
    steady = _passes(runs, "steady")
    samples = [r["t_done"] - r["t_build"] for p in steady for r in p]
    value, pct, n = tail(samples)
    m = {
        "setup_s": record["ready_s"] - launch_s,
        "first_pass_s": _wall(_passes(runs, "first")[0]),
        "pass_s": statistics.median(_wall(p) for p in steady),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": value,
        "peak_rss_mb": record["peak_rss_mb"],
    }
    return m, {"tail_percentile": pct, "tail_samples": n, "steady_passes": len(steady)}


def per_layer(record):
    """Per-layer metrics of a traced run: medians over its traced passes."""
    runs = record["runs"]
    trace = record["trace"]
    traced = _passes(runs, "traced")
    cores = record["cores"]

    def pass_of(tag):
        return int(tag.split("/", 1)[0]) if tag[:1].isdigit() else None

    def phase_of(tag):
        return tag.rsplit("/", 1)[-1]

    jobs_by_pass, stages_by_pass, streams_by_pass = {}, {}, {}
    job_tag = {j["job"]: j["tag"] for j in trace["jobs"]}
    for j in trace["jobs"]:
        jobs_by_pass.setdefault(pass_of(j["tag"]), []).append(j)
    for s in trace["stages"]:
        tag = job_tag.get(s["job"], "untagged")
        stages_by_pass.setdefault(pass_of(tag), []).append((phase_of(tag), s))
    for s in trace["streams"]:
        streams_by_pass.setdefault(pass_of(s["tag"]), []).append(s)

    per_pass = []
    for p in traced:
        n = p[0]["pass"]
        jobs = jobs_by_pass.get(n, [])
        stages = stages_by_pass.get(n, [])
        streams = streams_by_pass.get(n, [])
        tasks_ms = [(s["intervals"][i] / 1e3, s["intervals"][i + 1] / 1e3)
                    for _, s in stages for i in range(0, len(s["intervals"]), 2)]
        wall = _wall(p)
        scan = [s for _, s in stages if s["scan"]]
        scan_tasks = sum(s["tasks"] for s in scan)
        writes = [s for ph, s in stages if ph == "build"]  # exec is the noop sink
        cpu = sum(s["cpu_ns"] for _, s in stages) / 1e9
        m = {
            "session_start_s": record["session_s"],
            "warmup_s": record["warmup_s"],
            "build_s": sum(r["t_exec"] - r["t_build"] for r in p),
            "build_jobs": sum(1 for j in jobs if phase_of(j["tag"]) == "build"),
            "build_stages": sum(1 for ph, _ in stages if ph == "build"),
            "exec_s": sum(r["t_done"] - r["t_exec"] for r in p),
            "exec_jobs": sum(1 for j in jobs if phase_of(j["tag"]) == "exec"),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for _, s in stages),
            "task_cpu_s": cpu,
            "task_run_s": sum(s["run_ms"] for _, s in stages) / 1e3,
            "cpu_util": cpu / (wall * cores),
            "no_task_s": sum(self_time((r["t_build"], r["t_done"]), tasks_ms) for r in p),
            "shuffle_write_bytes": sum(s["shuffle_write"] for _, s in stages),
            "shuffle_read_bytes": sum(s["shuffle_read"] for _, s in stages),
            "spill_bytes": sum(s["spill"] for _, s in stages),
            "scan_bytes": sum(s["input_bytes"] for _, s in stages),
            "scan_tasks": scan_tasks,
            "scan_task_yield": (sum(s["tasks_reading"] for s in scan) / scan_tasks
                                if scan_tasks else 0.0),
            "stream_queries": len(streams),
            "stream_batches": sum(s["batches"] for s in streams),
            # a stream still running when its query returned lives to the pass's end
            "stream_life_s": sum((s["end_ms"] if s["end_ms"] >= 0 else p[-1]["t_end"] * 1e3)
                                 - s["start_ms"] for s in streams) / 1e3,
            "stream_trigger_s": sum(s["trigger_ms"] for s in streams) / 1e3,
            "stream_commit_s": sum(s["commit_ms"] for s in streams) / 1e3,
            "stream_state_commit_s": sum(s["state_commit_ms"] for s in streams) / 1e3,
            "stream_state_rows": sum(s["state_rows"] for s in streams),
            "write_bytes": sum(s["output_bytes"] for s in writes),
            "write_records": sum(s["output_records"] for s in writes),
            "write_tasks": sum(s["tasks_writing"] for s in writes),
            "sweep_s": sum(r["t_end"] - r["t_sweep"] for r in p),
            "persisted_rdds_left": sum(r["persisted_rdds_left"] for r in p),
            "cached_mb_left": sum(r["cached_mb_left"] for r in p),
            # temp views outlive the sweep: the count at the pass's end
            "temp_views_left": p[-1]["temp_views_left"],
            "task_failures": sum(s["task_failures"] for _, s in stages),
            "stage_reattempts": sum(1 for _, s in stages if s["attempt"] > 0),
            "query_errors": sum(1 for r in p if not r["ok"]),
        }
        m["stream_overhead_s"] = m["stream_life_s"] - m["stream_trigger_s"]
        for mod in MODULES:
            m[f"{mod}.jobs"] = 0
            m[f"{mod}.task_cpu_s"] = 0.0
        for j in jobs:
            mod = module_of(j["details"])
            if mod in MODULES:
                m[f"{mod}.jobs"] += 1
        for _, s in stages:
            mod = module_of(s["details"])
            if mod in MODULES:
                m[f"{mod}.task_cpu_s"] += s["cpu_ns"] / 1e9
        per_pass.append(m)

    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["trace_overhead_s"] = (statistics.median(_wall(p) for p in traced)
                               - statistics.median(_wall(p) for p in _passes(runs, "steady")))
    return out
