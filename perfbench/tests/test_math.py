"""The benchmark's own arithmetic, without Spark.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class TestTail:
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        assert (value, pct, n) == (90, 90.0, 100)
        assert sum(1 for x in xs if x > value) == 10

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        assert stats.tail(xs) == stats.tail(sorted(xs))

    def test_smallest_supported_sample(self):
        value, pct, n = stats.tail(list(range(11)))
        assert value == 0 and n == 11
        assert pct == pytest.approx(100 / 11)

    def test_too_few_samples_reports_max(self):
        assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            stats.tail([])


class TestSelfTime:
    def test_no_children(self):
        assert stats.self_time(0.0, 5.0, []) == 5.0

    def test_disjoint_children(self):
        assert stats.self_time(0.0, 10.0, [(1.0, 2.0), (4.0, 7.0)]) == pytest.approx(6.0)

    def test_overlapping_children_counted_once(self):
        assert stats.self_time(0.0, 10.0, [(1.0, 5.0), (3.0, 6.0), (5.5, 6.5)]) == pytest.approx(4.5)

    def test_children_clipped_to_parent(self):
        assert stats.self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)

    def test_never_negative(self):
        assert stats.self_time(0.0, 1.0, [(0.0, 1.0), (0.0, 1.0)]) == 0.0


class TestFailRatio:
    def test_counts_each_failure_kind(self):
        outcomes = ["ok"] * 7 + ["raise", "timeout", "mismatch"]
        assert stats.fail_ratio(outcomes) == (10, 3, 0.3)

    def test_all_ok(self):
        assert stats.fail_ratio(["ok"] * 4) == (4, 0, 0.0)

    def test_nothing_attempted(self):
        assert stats.fail_ratio([]) == (0, 0, 0.0)


class TestRunIdAttribution:
    def test_late_event_goes_to_the_query_that_started_the_run(self):
        a = tracing.StreamAttribution()
        a.started("run-s1", "1:s1_stream_replay")
        # the next query has started before s1's progress event arrives
        a.started("run-t2", "1:t2_stream_tumbling")
        a.on_progress("run-s1", {"batch_id": 0})
        a.on_progress("run-t2", {"batch_id": 0})
        a.on_progress("run-t2", {"batch_id": 1})
        assert a.for_execs({"1:s1_stream_replay"}) == {"run-s1": [{"batch_id": 0}]}
        assert len(a.for_execs({"1:t2_stream_tumbling"})["run-t2"]) == 2

    def test_first_owner_wins(self):
        a = tracing.StreamAttribution()
        a.started("r", "1:q")
        a.started("r", "2:q")  # the listener echo of the same start
        a.on_progress("r", {"batch_id": 0})
        assert a.for_execs({"2:q"}) == {}
        assert a.for_execs({"1:q"}) == {"r": [{"batch_id": 0}]}

    def test_unknown_run_is_an_orphan(self):
        a = tracing.StreamAttribution()
        a.on_progress("nobody", {"batch_id": 3})
        assert a.orphans == [{"run_id": "nobody", "batch_id": 3}]
        assert a.for_execs({"1:q"}) == {}

    def test_run_without_progress_still_listed(self):
        a = tracing.StreamAttribution()
        a.started("r", "1:q")
        assert a.for_execs({"1:q"}) == {"r": []}


class TestStreamMetrics:
    def test_phase_totals_and_final_state(self):
        def batch(trigger, rows, state_rows):
            return {
                "duration_ms": {"triggerExecution": trigger, "addBatch": trigger - 10, "walCommit": 5},
                "input_rows": rows,
                "state": [{"commit_ms": 2, "updates_ms": 3, "rows": state_rows, "bytes": 2**20}],
            }

        m, trigger_ms = tracing.stream_metrics({"r": [batch(100, 10, 4), batch(200, 20, 6)]})
        assert trigger_ms == [100.0, 200.0]
        assert m["sources.batches"] == 2
        assert m["sources.input_rows"] == 30
        assert m["sources.add_batch_s"] == pytest.approx(0.28)
        assert m["sources.wal_commit_s"] == pytest.approx(0.01)
        assert m["sources.state_commit_s"] == pytest.approx(0.004)
        assert m["sources.state_rows"] == 6  # the last batch's level
        assert m["sources.state_mb"] == pytest.approx(1.0)


class TestSqlMetricStrings:
    @pytest.mark.parametrize(
        "text, value",
        [
            ("1.2 s", 1.2),
            ("850 ms", 0.85),
            ("total (min, med, max (stageId: taskId))\n3.4 s (0 ms, 1.0 s, 1.5 s (stage 3.0: task 7))", 3.4),
            ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 2048.0),
            ("4.5 MiB", 4.5 * 2**20),
            ("1,234", 1234.0),
            ("2.1 m", 126.0),
        ],
    )
    def test_total(self, text, value):
        assert tracing.metric_total(text) == pytest.approx(value)


class TestOwner:
    def test_names_the_query_a_sample_came_from(self):
        named = [("a", 1.0), ("b", 2.0), ("a", 3.0)]
        assert stats.owner(named, 2.0) == "b"
        assert stats.owner(named, 3.0) == "a"


class TestWorkloads:
    def test_pass_count_is_fixed_by_seconds(self):
        for w in WORKLOADS.values():
            assert w.passes(0.1) == 2
            assert w.passes(10 * w.pass_s) == 10
