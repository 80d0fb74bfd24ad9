"""Event-log parser, interval union and metric-name checks.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import re
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
WINDOWS = [
    eventlog.Window("it0", "g0", 1000, 5000),
    eventlog.Window("it1", "g1", 6000, 9000),
]


@pytest.fixture(scope="module")
def spec():
    with open(BENCHMARK) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def per_iteration():
    return eventlog.iteration_metrics(FIXTURE, WINDOWS)


class TestUnionLength:
    def test_disjoint(self):
        assert eventlog.union_length([(0, 1), (2, 4)]) == 3

    def test_overlapping_and_nested(self):
        assert eventlog.union_length([(0, 5), (1, 2), (4, 8), (10, 11)]) == 9

    def test_unsorted_and_touching(self):
        assert eventlog.union_length([(3, 4), (0, 3)]) == 4

    def test_empty_and_degenerate(self):
        assert eventlog.union_length([]) == 0
        assert eventlog.union_length([(2, 2), (5, 4)]) == 0


class TestParser:
    def test_rolling_files_in_numeric_order(self, tmp_path):
        d = tmp_path / "eventlog_v2_app"
        d.mkdir()
        for n in (10, 2, 1):
            (d / f"events_{n}_app").write_text("")
        (d / "appstatus_app").write_text("")
        names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
        assert names == ["events_1_app", "events_2_app", "events_10_app"]

    def test_partial_last_line_is_dropped(self):
        events = eventlog.read_events(eventlog.event_files(FIXTURE))
        assert events[-1]["Event"] == "SparkListenerJobEnd"

    def test_jobs_by_group_then_by_time(self):
        log = eventlog.parse(eventlog.read_events(eventlog.event_files(FIXTURE)))
        jobs = eventlog.assign_jobs(log, WINDOWS)
        # job 1 has no group, job 4 a group of the program's own: both go by
        # submission time; job 3 falls in no window
        assert sorted(j.job_id for j in jobs["it0"]) == [0, 1]
        assert sorted(j.job_id for j in jobs["it1"]) == [2, 4]

    def test_first_window(self, per_iteration):
        m = per_iteration[0]
        assert m["exec.jobs"] == 2
        assert m["exec.stages"] == 3
        assert m["exec.tasks"] == 4
        assert m["exec.task_run_s"] == pytest.approx(0.65)
        assert m["exec.task_cpu_s"] == pytest.approx(0.2)
        assert m["exec.gc_s"] == pytest.approx(0.01)
        assert m["exec.skew"] == pytest.approx(1.5)
        assert m["scan.input_bytes"] == 3000
        assert m["scan.input_records"] == 30
        assert m["shuffle.write_bytes"] == 1200
        assert m["shuffle.read_bytes"] == 1200
        assert m["spill.bytes"] == 128
        assert m["write.bytes"] == 3000
        assert m["write.records"] == 30
        assert m["collect.result_bytes"] == 4096  # result tasks only
        assert m["arrow.py_run_s"] == 0
        # 4 s window, jobs cover 0.9 s + 1.5 s
        assert m["driver.gap_s"] == pytest.approx(1.6)

    def test_second_window(self, per_iteration):
        m = per_iteration[1]
        assert m["exec.jobs"] == 2
        assert m["exec.stages"] == 2  # stage 4 was skipped
        assert m["exec.tasks"] == 4
        assert m["exec.skew"] == pytest.approx(4.0)
        assert m["arrow.py_run_s"] == pytest.approx(0.35)
        assert m["arrow.bytes_to_py"] == 1024
        assert m["arrow.bytes_from_py"] == 256
        assert m["collect.result_bytes"] == 130
        # 3 s window; job 4 runs inside job 2's 1.9 s
        assert m["driver.gap_s"] == pytest.approx(1.1)


class TestMetricNames:
    def test_declared_names_and_units_are_valid(self, spec):
        names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
        assert len(names) == len(set(names))
        for m in spec["end_to_end"] + spec["per_layer"]:
            assert NAME.fullmatch(m["name"]), m["name"]
            assert UNIT.fullmatch(m["unit"]), m["unit"]
            assert m["better"] in ("lower", "higher")
        for w in spec["workloads"]:
            assert NAME.fullmatch(w["name"])
        assert [w["name"] for w in spec["workloads"]] == list(workloads.NAMES)

    def test_event_log_metrics_are_declared(self, spec, per_iteration):
        declared = {m["name"] for m in spec["per_layer"]}
        assert set(per_iteration[0]) <= declared

    def test_workload_layer_metrics_are_declared(self, spec):
        declared = {m["name"] for m in spec["per_layer"]}
        tracer = workloads.Tracer(True)
        tracer.iteration = "it0"
        names = [f"drift.{r}.{t}" for r, tests in workloads.Drift.REGIME_TESTS.items() for t in tests]
        names += [f"concept.{d}" for d in (*workloads.DETECTORS, "cusum")]
        for name in names:
            with tracer.span(name):
                pass
        drift = workloads.DriftRegimes.__new__(workloads.DriftRegimes)
        drift.parts = {}
        for regime, tests in workloads.Drift.REGIME_TESTS.items():
            drift.parts[regime] = workloads.Drift.__new__(workloads.Drift)
            drift.parts[regime].regime, drift.parts[regime].tests = regime, tests
        concept = workloads.ConceptReplay.__new__(workloads.ConceptReplay)
        validation = workloads.TokenValidation.__new__(workloads.TokenValidation)
        validation.out_dir = FIXTURE
        walls = {"violations": 1, "token_hist": 2, "ntok_sketch": 1,
                 "_pool_wall": 2.5, "_batch_wall": 3}
        report = types.SimpleNamespace(wall_ms=3500)
        produced = set(drift.layers(dict.fromkeys(drift.parts), tracer))
        produced |= set(concept.layers(None, tracer))
        produced |= set(validation.layers((report, walls), tracer))
        produced |= set(workloads.Drift.PROBE_METRICS) | {"trace.overhead_frac"}
        assert produced <= declared
