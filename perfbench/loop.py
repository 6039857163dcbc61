"""The closed loop of the timed pass (``--trace 0``): one job at a
time, each run starting after the previous one committed and passed
(or failed) its correctness gate."""

from __future__ import annotations

import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from . import harness
from .harness import WORK, fresh_dir, process_age_s
from .inputs import have_inputs, load_inputs, make_inputs
from .workloads import WORKLOADS, committed_mb

# Set-up is timed SETUP_SAMPLES times (setup_s is the median). The cold
# run and one warm-up run are not wall_s samples; then at least
# MIN_SAMPLES samples. More set-ups, warm-up and samples would be
# steadier (the JIT keeps speeding runs up for several runs), but not
# within the time an evaluation of 48 invocations may take on a 4-vCPU
# host; see README.
SETUP_SAMPLES = 2
WARMUP_RUNS = 2
MIN_SAMPLES = 1
DEADLINE_S = 120.0  # stop starting runs after this much process time
END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "cold_run_s": "s", "output_mb": "MB"}


def setup(app: str, seed: int, samples: int, event_log: bool = False, tracer=None):
    """Start the session ``samples`` times (twice at least when this
    seed's inputs must be made), timing each ``get_spark``. The first
    session makes the inputs if needed; every session but the last is
    stopped, so the workload runs in a fresh JVM. Returns the last
    session, the set-up times and the inputs."""
    n = max(samples, 1 if have_inputs(seed) else 2)
    times = []
    for i in range(n):
        last = i == n - 1
        with tracer.span("session.get_spark") if tracer and last else nullcontext():
            t0 = time.perf_counter()
            spark = harness.start_session(app, event_log=event_log and last)
            times.append(time.perf_counter() - t0)
        if not last:
            try:
                if not have_inputs(seed):
                    make_inputs(spark, seed)
            finally:
                harness.stop_session(spark)
    return spark, times, load_inputs(seed)


@dataclass
class Run:
    wall_s: float
    error: str | None
    output_mb: float


def run_once(spark, wl, inputs, out, tracer=None) -> Run:
    """One closed-loop run: clean output dir, timed run (in a ``run``
    span when traced), untimed gate. A raise or a failed gate is a
    failed run; nothing is retried."""
    fresh_dir(out)
    t0 = time.perf_counter()
    try:
        with tracer.span("run") if tracer else nullcontext():
            wl.run(spark, inputs, out)
        wall = time.perf_counter() - t0
        error = wl.check(spark, inputs, out)
    except Exception as e:  # noqa: BLE001 -- a failed run is data
        wall = time.perf_counter() - t0
        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    return Run(wall, error, committed_mb(out))


def measure(spark, wl, inputs, seconds: float, tracer=None) -> list[Run]:
    """The cold run and the warm-up, then timed runs until ``seconds`` of
    timed run time and at least MIN_SAMPLES samples, or the deadline."""
    out = WORK / "out" / wl.name
    runs: list[Run] = []
    while True:
        runs.append(run_once(spark, wl, inputs, out, tracer))
        timed = runs[WARMUP_RUNS:]
        if process_age_s() > DEADLINE_S and timed:
            break
        if len(timed) >= MIN_SAMPLES and sum(r.wall_s for r in timed) >= seconds:
            break
    return runs


def metric(value: float, unit: str, samples: int = 1) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def summarize_runs(runs: list[Run], input_rows: int, warmup: int = WARMUP_RUNS) -> dict:
    """Run-time metrics: the median of the warm runs that passed their
    gate, with its sample count, and the cold (first) run. If every warm
    run failed, the median is over all of them (the result line then
    says ``correct: false`` anyway)."""
    timed = runs[warmup:] or runs[-1:]
    ok = [r.wall_s for r in timed if r.error is None] or [r.wall_s for r in timed]
    wall = statistics.median(ok)
    return {
        "wall_s": metric(wall, "s", len(ok)),
        "rows_per_s": metric(input_rows / wall, "rows/s", len(ok)),
        "cold_run_s": metric(runs[0].wall_s, "s"),
    }


def result(metrics: dict, runs: list[Run]) -> dict:
    """The benchmark's last output line."""
    failed = sum(r.error is not None for r in runs)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }


def timed_mode(args) -> tuple[dict, list[Run], dict]:
    harness.confine_to_work_dir()
    t0 = time.perf_counter()
    spark, setups, inputs = setup(f"perfbench-{args.workload}", args.seed, SETUP_SAMPLES)
    setup_phase_s = time.perf_counter() - t0
    try:
        facts = harness.host_facts(spark)
        wl = WORKLOADS[args.workload]()
        runs = measure(spark, wl, inputs, args.seconds)
        rss = harness.peak_rss_mb()
    finally:
        harness.stop_session(spark)
    rows = wl.input_rows(inputs)
    m = summarize_runs(runs, rows)
    m["setup_s"] = metric(statistics.median(setups), "s", len(setups))
    m["output_mb"] = metric(statistics.median(r.output_mb for r in runs), "MB", len(runs))
    metrics = {k: m[k] for k in END_TO_END}
    detail = {
        "host": facts,
        "input_rows": rows,
        "setup_samples_s": setups,
        "setup_phase_s": setup_phase_s,  # set-ups, stops and any input making
        "peak_rss_mb": rss,
        "run_walls_s": [r.wall_s for r in runs],
        "errors": [r.error for r in runs if r.error],
    }
    return metrics, runs, detail
