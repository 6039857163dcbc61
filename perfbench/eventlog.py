"""Reader for an uncompressed, non-rolling Spark event log.

Tasks are attributed to a job group through their stage (the
``StageSubmitted`` event carries the job's local properties, including
``spark.jobGroup.id``). Rows sent to Python are the ``number of output
rows`` SQL metric of the Python-evaluation plan nodes, summed over the
task-end accumulator updates.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow")


@dataclass
class StageTasks:
    run_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_rows: int = 0


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    if _PYTHON_NODE.search(plan.get("nodeName", "")):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def read_stages(path: str) -> dict[str | None, dict[tuple[int, int], StageTasks]]:
    """{job group: {(stage id, attempt): StageTasks}} from one event log."""
    group_of: dict[int, str | None] = {}
    python_acc: set[int] = set()
    stages: dict[tuple[int, int], StageTasks] = {}
    updates: dict[tuple[int, int], list[tuple[int, int]]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                group_of[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_row_accumulators(e["sparkPlanInfo"], python_acc)
            elif kind == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                st = stages.setdefault(key, StageTasks())
                m = e.get("Task Metrics") or {}
                st.run_ms.append(int(m.get("Executor Run Time", 0)))
                st.gc_ms += int(m.get("JVM GC Time", 0))
                st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
                st.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                updates.setdefault(key, []).extend(
                    (a["ID"], int(a["Update"]))
                    for a in e["Task Info"].get("Accumulables", [])
                    if str(a.get("Update", "")).lstrip("-").isdigit()
                )
    out: dict[str | None, dict[tuple[int, int], StageTasks]] = {}
    for key, st in stages.items():
        st.python_rows = sum(v for acc, v in updates.get(key, []) if acc in python_acc)
        out.setdefault(group_of.get(key[0]), {})[key] = st
    return out


def summarize(stages: list[StageTasks]) -> dict[str, float]:
    """The per-span ``spark.*`` counts. ``task_ms_max_over_median`` is
    taken on the span's heaviest stage (largest summed task time): the
    stage whose slowest task most likely sets the span's time."""
    tasks = [ms for st in stages for ms in st.run_ms]
    ratio = 0.0
    if stages:
        heavy = max(stages, key=lambda st: sum(st.run_ms))
        if heavy.run_ms:
            ratio = max(heavy.run_ms) / max(statistics.median(heavy.run_ms), 1.0)
    return {
        "tasks": len(tasks),
        "task_ms_sum": sum(tasks),
        "task_ms_max_over_median": ratio,
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "spill_bytes": sum(st.spill_bytes for st in stages),
        "gc_ms": sum(st.gc_ms for st in stages),
    }


def python_rows(stages: list[StageTasks]) -> int:
    return sum(st.python_rows for st in stages)
