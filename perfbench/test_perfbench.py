"""Tests of the benchmark's own code. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import checks, eventlog
from perfbench.loop import END_TO_END, Run, result, run_once, summarize_runs
from perfbench.trace import Span, Tracer, covered, descendants, self_times


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1
        _span(3, 2.0, 3.0, parent=1),
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [9,10]
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert descendants(spans, 1) == {1, 3}


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_tracer_records_nesting_and_closes_on_error():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with pytest.raises(ValueError):
            with tr.span("failing"):
                raise ValueError("boom")
    outer, inner, failing = tr.spans
    assert (inner.parent, failing.parent, outer.parent) == (outer.id, outer.id, None)
    assert all(s.end is not None and s.run_id == "run-1" for s in tr.spans)
    assert tr.group_id(inner) == "run-1:1"


def test_median_and_sample_count_skip_warmup_and_failed_runs():
    runs = [
        Run(30.0, None, 1.0),  # cold
        Run(5.0, None, 1.0),
        Run(7.0, "digest mismatch", 1.0),
        Run(4.0, None, 1.0),
        Run(6.0, None, 1.0),
    ]
    m = summarize_runs(runs, input_rows=1000, warmup=1)
    assert m["wall_s"] == {"value": 5.0, "unit": "s", "samples": 3}
    assert m["rows_per_s"]["value"] == pytest.approx(1000 / 5.0)
    assert m["cold_run_s"]["value"] == 30.0


def test_digest_is_order_free_and_catches_one_changed_row():
    rows = [("conv_1", 0, "hello"), ("conv_1", 1, "world"), ("conv_2", 0, "x")]
    base = checks.digest(checks.row_hash(*r) for r in rows)
    assert checks.digest(checks.row_hash(*r) for r in reversed(rows)) == base
    changed = rows[:2] + [("conv_2", 0, "y")]
    assert checks.digest(checks.row_hash(*r) for r in changed) != base
    assert checks.digest(checks.row_hash(*r) for r in rows + rows[:1]) != base


def test_curate_reference_scrubs_and_drops():
    adult = ("c", 1, "this spam message advertises porn sites all day long")
    ref = checks.curate_reference([("c", 0, "mail me at a@example.com please now"), adult])
    assert ref["kept"] == 1
    # only the address differs, and both scrub to the same placeholder
    assert checks.curate_reference([("c", 0, "mail me at b@example.com please now"), adult]) == ref


class _Raises:
    name = "raises"

    def run(self, spark, inputs, out):
        raise RuntimeError("executor lost")

    def check(self, spark, inputs, out):  # pragma: no cover - never reached
        return None


class _WrongOutput:
    name = "wrong"

    def run(self, spark, inputs, out):
        (out / "part-0").write_text("x")

    def check(self, spark, inputs, out):
        return "kept 1 rows, reference keeps 2"


def test_exception_and_failed_gate_count_toward_error_rate(tmp_path):
    runs = [
        run_once(None, _Raises(), None, tmp_path / "a"),
        run_once(None, _WrongOutput(), None, tmp_path / "b"),
    ]
    assert runs[0].error.startswith("RuntimeError: executor lost")
    assert runs[1].error == "kept 1 rows, reference keeps 2"
    assert runs[1].output_mb == pytest.approx(1e-6)
    line = result({"wall_s": {"value": 1.0, "unit": "s", "samples": 1}}, runs + [Run(1.0, None, 0.0)])
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 2)
    assert line["metrics"] == {"wall_s": {"value": 1.0, "unit": "s"}}


def test_dedup_twins():
    docs = [("b", "x\n\ny\nz"), ("a", "y\nx")]
    lines = checks.dedup_lines_twin(docs)
    assert lines == [checks.row_hash(*r) for r in [("a", 0, "y"), ("a", 1, "x"), ("b", 1, ""), ("b", 3, "z")]]
    paras = checks.dedup_paragraphs_twin([("a", "p\n\nq"), ("b", "q\n\np"), ("c", "r\n\nq")])
    assert paras == [checks.row_hash("a", "p\n\nq", 2, 2), checks.row_hash("c", "r", 2, 1)]


def test_component_survivors_keep_the_min_key_of_each_component():
    keys = ["a", "b", "c", "d", "e"]
    assert checks.component_survivors(keys, [("c", "d"), ("b", "d"), ("a", "a")]) == {"a", "b", "e"}


def test_eventlog_attributes_tasks_and_python_rows_to_groups(tmp_path):
    def task(stage, run_ms, acc=()):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)} for i, v in acc]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}},
        }

    plan = {"nodeName": "Project", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}]}
    events = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "r:1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task(0, 100, [(7, 50), (8, 999)]), task(0, 300, [(7, 25)]), task(0, 100),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
        task(1, 5),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events))
    by_group = eventlog.read_stages(str(path))
    mine = list(by_group["r:1"].values())
    assert eventlog.python_rows(mine) == 75
    s = eventlog.summarize(mine)
    assert (s["tasks"], s["task_ms_sum"], s["shuffle_write_bytes"], s["gc_ms"]) == (3, 500, 30, 3)
    assert s["task_ms_max_over_median"] == pytest.approx(3.0)
    assert list(by_group[None].values())[0].run_ms == [5]


def test_benchmark_json_names_what_the_benchmark_prints():
    from pathlib import Path

    from perfbench.traced import per_layer_names
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names()

