"""The traced pass (``--trace 1``): per-layer spans and Spark counts.

1. The session starts with the event log on, and the workload runs on
   the timed pass's schedule (``loop.measure``), each run in a ``run``
   span. ``trace.wall_s`` is thus comparable with the timed
   pass's ``wall_s``; the difference for the same seed is the tracing
   overhead, stated in the report when this checkout holds that seed's
   timed result. (Comparing within one process would not be fair: the
   JIT keeps speeding runs up for many runs, so whichever side runs
   later looks cheaper.)
2. Each layer's public call runs once more in isolation, in its own
   span (``Workload.layers``).
3. After the session stops, the event log is read and each span gets
   the task metrics of the job groups at or below it.
"""

from __future__ import annotations


from . import eventlog, harness
from .loop import measure, metric, setup, summarize_runs
from .trace import Tracer, descendants, self_times
from .workloads import WORKLOADS

SPANS = (
    "session.get_spark",
    "sources.read",
    "functions.fused_model_udf",
    "functions.langid_staged",
    "functions.annotations",
    "operators.filter_tags",
    "operators.scrub",
    "operators.dedup.lines",
    "operators.dedup.paragraphs",
    "operators.dedup.minhash_lsh",
    "operators.dedup.simhash_hamming",
    "operators.dedup.jaccard_pairs",
    "operators.components",
    "plans.curate",
    "plans.run_resumable",
    "sinks.write_corpus",
)
COUNTS = {
    "sources.input_tasks": "count",
    "functions.arrow_rows": "rows",
    "operators.filter_tags.keep_ratio": "ratio",
    "operators.scrub.hit_ratio": "ratio",
    "operators.dedup.lines.survivor_ratio": "ratio",
    "operators.dedup.paragraphs.survivor_ratio": "ratio",
    "operators.dedup.minhash_lsh.survivor_ratio": "ratio",
    "operators.dedup.simhash_hamming.survivor_ratio": "ratio",
    "operators.components.survivor_ratio": "ratio",
    "operators.dedup.jaccard_pairs.pairs": "count",
    "plans.run_resumable.self_s": "s",
    "plans.run_resumable.buckets": "count",
    "sinks.output_files": "count",
    "sinks.output_bytes_per_input_byte": "ratio",
    "trace.wall_s": "s",
    "trace.cold_run_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}
SPARK_UNITS = {"tasks": "count", "task_ms_sum": "ms", "task_ms_max_over_median": "ratio",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_ms": "ms"}
# sources.read's task count is reported once, as sources.input_tasks
NOT_REPORTED = {"sources.read.spark.tasks"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    names = {f"{s}_s": "s" for s in SPANS}
    names.update(COUNTS)
    for s in SPANS[1:]:  # get_spark runs no Spark job
        names.update({f"{s}.spark.{k}": unit for k, unit in SPARK_UNITS.items()})
    return {k: u for k, u in names.items() if k not in NOT_REPORTED}


def traced_mode(args):
    harness.confine_to_work_dir()
    harness.fresh_dir(harness.WORK / "eventlog")
    tracer = Tracer(f"{args.workload}-seed{args.seed}")
    spark, _, inputs = setup(
        f"perfbench-{args.workload}-traced", args.seed, 1, event_log=True, tracer=tracer
    )
    tracer.spark = spark
    try:
        facts = harness.host_facts(spark)
        wl = WORKLOADS[args.workload]()
        runs = measure(spark, wl, inputs, args.seconds, tracer)
        out = harness.WORK / "out" / wl.name
        counts = wl.layers(spark, inputs, tracer, out, harness.fresh_dir(harness.WORK / "layers"))
        counts["peak_rss_mb"] = harness.peak_rss_mb()
        app_id = spark.sparkContext.applicationId
    finally:
        harness.stop_session(spark)

    by_group = eventlog.read_stages(str(harness.WORK / "eventlog" / app_id))
    groups = {tracer.group_id(s): s.id for s in tracer.spans}
    stages_of: dict[int, list] = {}
    for gid, stages in by_group.items():
        if gid in groups:
            stages_of[groups[gid]] = list(stages.values())

    def span_stages(span) -> list:
        return [st for sid in descendants(tracer.spans, span.id) for st in stages_of.get(sid, [])]

    names = per_layer_names()
    values: dict[str, float] = dict.fromkeys(names, 0.0)
    spans = {s.name: s for s in tracer.spans}  # layer spans are unique; "run" keeps the last
    for name in SPANS:
        if name in spans:
            values[f"{name}_s"] = spans[name].duration
            if name != "session.get_spark":
                for k, v in eventlog.summarize(span_stages(spans[name])).items():
                    values[f"{name}.spark.{k}"] = v
    if "sources.read" in spans:
        values["sources.input_tasks"] = eventlog.summarize(span_stages(spans["sources.read"]))["tasks"]
    values["functions.arrow_rows"] = eventlog.python_rows(span_stages(spans["run"]))  # last run
    if "plans.run_resumable" in spans:
        values["plans.run_resumable.self_s"] = (
            spans["plans.run_resumable"].duration - spans["plans.curate"].duration
        )
    values.update(counts)
    timing = summarize_runs(runs, wl.input_rows(inputs))
    values["trace.wall_s"] = timing["wall_s"]["value"]
    values["trace.cold_run_s"] = timing["cold_run_s"]["value"]
    values["error_rate"] = sum(r.error is not None for r in runs) / len(runs)

    metrics = {k: metric(values[k], unit) for k, unit in names.items()}
    st = self_times(tracer.spans)
    detail = {
        "host": facts,
        "tracing_overhead_s": _overhead(args, values["trace.wall_s"]),
        "spans": [dict(s, self_s=st[s["id"]]) for s in tracer.to_json()],
        "run_walls_s": [r.wall_s for r in runs],
        "errors": [r.error for r in runs if r.error],
    }
    return metrics, runs, detail


def _overhead(args, traced_wall: float) -> float | str:
    """Traced minus untraced ``wall_s`` for this seed, from the timed
    pass's result file when this checkout has one."""
    import json

    timed = harness.WORK / "results" / f"{args.workload}-seed{args.seed}-trace0.json"
    if not timed.exists():
        return f"no timed result for seed {args.seed}; run --trace 0 with it first"
    return traced_wall - json.loads(timed.read_text())["metrics"]["wall_s"]["value"]
