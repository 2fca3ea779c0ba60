"""Tests for the benchmark's span self-time computation and its Spark
REST metric parsers. Run with ``python3 -m pytest perfbench -q``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import (Span, Tracer, group_sql_metric,  # noqa: E402
                     group_task_metrics, host_counters, parse_metric_value,
                     self_times)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


class TestSelfTimes:
    def test_leaf_self_time_is_its_duration(self):
        assert self_times([_span(0, 1.0, 3.5)]) == {0: 2.5}

    def test_children_are_subtracted(self):
        spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0),
                 _span(2, 5.0, 6.0, 0)]
        assert self_times(spans)[0] == pytest.approx(7.0)

    def test_overlapping_children_count_once(self):
        spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0),
                 _span(2, 3.0, 6.0, 0)]
        assert self_times(spans)[0] == pytest.approx(5.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [_span(0, 0.0, 4.0), _span(1, 3.0, 9.0, 0)]
        assert self_times(spans)[0] == pytest.approx(3.0)

    def test_only_direct_children_are_subtracted(self):
        spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 8.0, 0),
                 _span(2, 3.0, 5.0, 1)]
        got = self_times(spans)
        assert got[0] == pytest.approx(4.0)
        assert got[1] == pytest.approx(4.0)
        assert got[2] == pytest.approx(2.0)

    def test_tracer_records_nesting(self):
        tr = Tracer("run-1", enabled=True)
        with tr.span("outer"):
            with tr.span("inner"):
                pass
        outer, inner = tr.spans
        assert inner.parent == outer.id and outer.parent is None
        assert {s.run_id for s in tr.spans} == {"run-1"}
        assert outer.start <= inner.start <= inner.end <= outer.end
        assert [d["name"] for d in tr.dump()] == ["outer", "inner"]

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer("run-1", enabled=False)
        with tr.span("outer"):
            pass
        assert tr.spans == [] and tr.dump() == []


class TestMetricValues:
    @pytest.mark.parametrize("text,want", [
        ("10,871", 10871),
        ("0", 0),
        ("9 ms", 0.009),
        ("821 ms", 0.821),
        ("2.5 m", 150.0),
        ("500.7 KiB", 500.7 * 1024),
        ("total (min, med, max (stageId: taskId))\n"
         "3.7 MiB (938.6 KiB, 973.1 KiB, 974.0 KiB (stage 7.0: task 13))",
         3.7 * 2 ** 20),
        ("total (min, med, max (stageId: taskId))\n"
         "8.8 s (2.1 s, 2.3 s, 2.3 s (stage 7.0: task 15))", 8.8),
    ])
    def test_parse(self, text, want):
        assert parse_metric_value(text) == pytest.approx(want)

    def test_unknown_unit_raises(self):
        with pytest.raises(ValueError):
            parse_metric_value("12 parsecs")


JOBS = [
    {"jobId": 0, "jobGroup": None, "stageIds": [0]},
    {"jobId": 1, "jobGroup": "layer.a", "stageIds": [1, 2]},
    {"jobId": 2, "jobGroup": "layer.a", "stageIds": [2, 3]},
    {"jobId": 3, "jobGroup": "layer.b", "stageIds": [4]},
]


def _stage(sid, status="COMPLETE", **kw):
    base = {"stageId": sid, "attemptId": 0, "status": status,
            "executorCpuTime": 2_000_000_000, "jvmGcTime": 500,
            "shuffleReadBytes": 10, "shuffleWriteBytes": 20,
            "memoryBytesSpilled": 1, "diskBytesSpilled": 2,
            "numCompleteTasks": 4, "numFailedTasks": 0, "numKilledTasks": 0}
    base.update(kw)
    return base


class TestGroupTaskMetrics:
    def test_sums_stages_of_a_group_once(self):
        stages = [_stage(0), _stage(1), _stage(2),
                  _stage(3, numFailedTasks=1), _stage(4)]
        got = group_task_metrics(JOBS, stages, ["layer.a", "layer.b"])
        a = got["layer.a"]
        # stage 2 is listed by two jobs of the group: counted once
        assert a["cpu_s"] == pytest.approx(6.0)
        assert a["gc_s"] == pytest.approx(1.5)
        assert a["shuffle_read_bytes"] == 30
        assert a["shuffle_write_bytes"] == 60
        assert a["spill_bytes"] == 9
        assert a["tasks"] == 13
        assert a["failed_tasks"] == 1
        assert got["layer.b"]["cpu_s"] == pytest.approx(2.0)

    def test_skipped_stages_and_other_groups_are_ignored(self):
        stages = [_stage(0), _stage(1, status="SKIPPED"), _stage(4)]
        got = group_task_metrics(JOBS, stages, ["layer.a"])
        assert got == {"layer.a": {k: 0.0 for k in got["layer.a"]}}

    def test_retried_stage_attempts_add_up(self):
        stages = [_stage(4, numFailedTasks=2),
                  dict(_stage(4), attemptId=1)]
        got = group_task_metrics(JOBS, stages, ["layer.b"])["layer.b"]
        assert got["tasks"] == 10 and got["failed_tasks"] == 2


class TestGroupSqlMetric:
    EXECS = [
        {"id": 0, "successJobIds": [1], "nodes": [
            {"nodeName": "MapInArrow", "metrics": [
                {"name": "number of output rows", "value": "1,000"},
                {"name": "data sent to Python workers",
                 "value": "total (min, med, max)\n2.0 KiB (1 KiB, 1 KiB, 1 KiB)"}]},
            {"nodeName": "Scan parquet", "metrics": [
                {"name": "number of output rows", "value": "5,000"}]}]},
        {"id": 1, "successJobIds": [2], "nodes": [
            {"nodeName": "MapInArrow", "metrics": [
                {"name": "number of output rows", "value": "250"}]}]},
        {"id": 2, "successJobIds": [3], "nodes": [
            {"nodeName": "MapInArrow", "metrics": [
                {"name": "number of output rows", "value": "7"}]}]},
    ]

    def test_sums_named_node_metric_over_group_executions(self):
        got = group_sql_metric(JOBS, self.EXECS, "layer.a", "MapInArrow",
                               "number of output rows")
        assert got == 1250

    def test_sizes_are_bytes(self):
        got = group_sql_metric(JOBS, self.EXECS, "layer.a", "MapInArrow",
                               "data sent to Python workers")
        assert got == 2048

    def test_absent_group_sums_to_zero(self):
        assert group_sql_metric(JOBS, self.EXECS, "layer.z", "MapInArrow",
                                "number of output rows") == 0


class TestHostCounters:
    def test_counters_are_cumulative_seconds(self):
        a = host_counters()
        b = host_counters()
        assert {"iowait_s", "steal_s"} <= set(a)
        assert set(a) == set(b)
        assert all(0 <= a[k] <= b[k] for k in a)
