"""Per-layer metrics from one traced run.

The traced harness (`perfbench.TracedEtl`) writes its spans, the jobs
`perfbench.Probe` saw, and the actions `perfbench.PlanProbe` saw. Layers
are the engine's modules. A call span belongs to the layer its name
starts with; a job belongs to the module its call site is in. A span's
self time is its duration minus the part of it its child jobs cover;
codegen is reported on its own, since it happens inside other spans.
The self times of all layers add up to the time from session start to
the end of the sink.
"""
import json

# Engine source file of a job's call site -> layer (module).
CALLSITE_LAYER = {"CsvSources.scala": "sources", "CidEtl.scala": "etl",
                  "RangeJoin.scala": "operators",
                  "PriorityDedup.scala": "operators",
                  "BomCsvSink.scala": "sinks"}
LAYERS = ["session", "sources", "etl", "operators", "sinks"]
# The harness ends with these two spans, one action each, outside the
# pipeline.
EXTRAS = ["queries.count", "queries.noop"]


def job_layer(job):
    """The module the job's call site is in; jobs Spark submits from its
    own threads (broadcasts, adaptive query stages) belong to the layer
    of the call span they ran in."""
    site = job["name"].rsplit(" at ", 1)[-1].split(":")[0]
    return CALLSITE_LAYER.get(site) or job["parent"].split(".")[0] or "other"


def union_ms(intervals):
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        s = max(s, reach)
        if e > s:
            total += e - s
            reach = e
    return total


def _dur(s):
    return s["end_ms"] - s["start_ms"]


def layer_metrics(trace, untraced_etl_wall_s, cores, output_bytes, quality_total):
    run = trace["run"]
    calls = [s for s in trace["spans"] if s["kind"] == "call"]
    jobs = [s for s in trace["spans"] if s["kind"] == "job"]
    pipeline = [c for c in calls if c["name"] not in EXTRAS]
    pjobs = [j for j in jobs if j["parent"] not in EXTRAS]
    actions = trace["actions"]
    pactions = actions[:-len(EXTRAS)]

    def children(call):
        return [j for j in jobs if j["parent"] == call["name"]
                and call["start_ms"] <= j["start_ms"] <= call["end_ms"]]

    def span_s(name):
        return sum(_dur(c) for c in calls if c["name"] == name) / 1e3

    # Jobs of one span overlap (adaptive stages run side by side), so each
    # layer gets the union of its jobs' intervals, not their sum.
    self_ms = dict.fromkeys(LAYERS + ["other"], 0.0)
    for c in pipeline:
        kids = children(c)
        self_ms[c["name"].split(".")[0]] += _dur(c) - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in kids])
        for layer in {job_layer(j) for j in kids}:
            self_ms[layer] += union_ms([(j["start_ms"], j["end_ms"])
                                        for j in kids if job_layer(j) == layer])

    source_calls = [c for c in pipeline if c["name"].startswith("sources.")]
    source_jobs = [j for j in pjobs if job_layer(j) == "sources"]
    sink = [c for c in calls if c["name"] == "sinks.write"]
    sink_jobs = [j for c in sink for j in children(c)]
    dedup = actions[-1] if actions else {}  # queries.noop
    etl_wall_s = (run["pipeline_end_ms"] - run["app_start_ms"]) / 1e3
    task_run_s = sum(j["task_run_ms"] for j in pjobs) / 1e3

    def jsum(key, scale=1.0):
        return sum(j.get(key, 0) for j in pjobs) * scale

    m = {
        "session.start_s": span_s("session.start"),
        "sources.call_s": union_ms([(s["start_ms"], s["end_ms"])
                                    for s in source_calls + source_jobs]) / 1e3,
        "sources.jobs": len(source_jobs),
        "sources.input_bytes": jsum("input_bytes"),
        "sources.input_rows": jsum("input_rows"),
        "etl.read_hierarchy_s": span_s("etl.read_hierarchy"),
        "etl.read_hierarchy_jobs": len([j for j in jobs
                                        if j["parent"] == "etl.read_hierarchy"]),
        "etl.compose_s": span_s("etl.compose"),
        "etl.quality_s": span_s("etl.quality"),
        "codegen.compile_s": sum(c["compile_ns"] for c in pipeline) / 1e9,
        "codegen.classes": sum(c["classes"] for c in pipeline),
        "codegen.source_kb": sum(c["source_bytes"] for c in pipeline) / 1024,
        "operators.range_branches": max((a["range_branches"] for a in actions),
                                        default=0),
        "operators.dedup_rows_in": dedup.get("shuffle_rows", 0),
        "operators.dedup_rows_out": quality_total,
        "operators.dedup_shuffle_bytes": dedup.get("shuffle_bytes", 0),
        "sinks.write_s": span_s("sinks.write"),
        "sinks.concat_s": (sum(_dur(c) for c in sink) - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in sink_jobs])) / 1e3,
        "sinks.output_bytes": output_bytes,
        "planning.analysis_s": sum(a["analysis_ms"] for a in pactions) / 1e3,
        "planning.optimization_s": sum(a["optimization_ms"] for a in pactions) / 1e3,
        "planning.physical_s": sum(a["planning_ms"] for a in pactions) / 1e3,
        "planning.actions": len(pactions),
        "scheduler.jobs": len(pjobs),
        "scheduler.stages": jsum("stages"),
        "scheduler.tasks": jsum("tasks"),
        "scheduler.job_wall_s": sum(_dur(j) for j in pjobs) / 1e3,
        "scheduler.floor_s": jsum("floor_ms", 1e-3),
        "scheduler.tasks_failed": jsum("tasks_failed"),
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": jsum("task_cpu_ns", 1e-9),
        "exec.gc_s": jsum("gc_ms", 1e-3),
        "exec.shuffle_write_bytes": jsum("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": jsum("shuffle_read_bytes"),
        "exec.spill_bytes": jsum("spill_bytes"),
        "exec.peak_mem_mb": max((j.get("peak_mem_bytes", 0) for j in pjobs),
                                default=0) / 2**20,
        "exec.busy_ratio": task_run_s / (etl_wall_s * cores),
        "queries.consolidated_count_s": span_s("queries.count"),
        "queries.consolidated_noop_s": span_s("queries.noop"),
        "trace.etl_wall_s": etl_wall_s,
        "trace.overhead_frac": etl_wall_s / untraced_etl_wall_s - 1,
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = self_ms[layer] / 1e3
    return m


def load(path):
    return json.loads(open(path, encoding="utf-8").read())
