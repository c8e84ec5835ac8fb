"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

import math
import os
import random
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402
from perfbench.measure import (  # noqa: E402
    Span, Tracer, TracedModule, covered, descendants, geomean, median, row_digest, self_time, steal_share, tree_cpu_s,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def test_digest_ignores_row_order():
    rows = [(i, f"img_{i}", i * 0.5) for i in range(50)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert row_digest(rows) == row_digest(shuffled)


def test_digest_sees_changed_duplicated_and_missing_rows():
    rows = [(1, "a"), (2, "b"), (3, "c")]
    base = row_digest(rows)
    assert row_digest([(1, "a"), (2, "b"), (3, "d")]) != base
    assert row_digest(rows + [(3, "c")]) != base
    assert row_digest(rows[:2]) != base


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert geomean([0.1, 10.0, 1.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([1.0, 2.0, 4.0, 10.0]) == 3.0
    assert median([]) == 0.0


def test_steal_share():
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [200, 0, 100, 900, 0, 0, 0, 100]  # 50 of 300 ticks stolen
    assert steal_share(start, end) == pytest.approx(50 / 300)
    assert steal_share([], end) == 0.0


def test_tree_cpu_counts_descendants_and_no_jit_outside_a_jvm():
    burn = ("import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"
            "print(flush=True)\ntime.sleep(30)")
    shell = subprocess.Popen([sys.executable, "-c",
                              f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}])"],
                             stdout=subprocess.PIPE)
    try:
        shell.stdout.readline()  # the grandchild has burnt its CPU
        cpu, jit = tree_cpu_s(shell.pid)
        assert cpu >= 0.25
        assert jit == 0.0
    finally:
        for pid in [*descendants(shell.pid), shell.pid]:
            os.kill(pid, 9)
        shell.wait()


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", "1:a", None, 0.0, 10.0),
        Span(1, "prefix:sources", "1:a", 0, 1.0, 4.0),
        Span(2, "op", "1:a", 0, 3.0, 8.0),  # overlaps its sibling by 1 s
        Span(3, "action", "1:a", 2, 3.5, 7.5),
    ]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 7.0)
    assert self_time(spans[2], spans) == pytest.approx(1.0)
    assert self_time(spans[3], spans) == pytest.approx(4.0)


def test_tracer_nests_spans_and_traced_module_records_calls():
    class Mod:
        @staticmethod
        def work(x):
            return x * 2

    tracer = Tracer()
    mod = TracedModule(Mod, "extract", tracer)
    with tracer.span("op:x", op_id="1:x"):
        with tracer.span("prefix:extract"):
            assert mod.work(3) == 6
    names = [s.name for s in tracer.spans]
    assert names == ["op:x", "prefix:extract", "call:extract.work"]
    assert [s.parent for s in tracer.spans] == [None, 0, 1]
    assert {s.op_id for s in tracer.spans} == {"1:x"}
    total = sum(self_time(s, tracer.spans) for s in tracer.spans)
    assert total == pytest.approx(tracer.spans[0].duration)


def test_event_log_parser_groups_counters_by_job_group():
    # a hand-built log in Spark's event-log format: two grouped jobs, one
    # ungrouped job whose counters must not leak into either group, and a
    # join node that only appears in an adaptive plan update
    counters = eventlog.parse_file(LOG)
    assert set(counters) == {"pre:1:demo:extract", "op:1:demo:tiling"}
    pre, op = counters["pre:1:demo:extract"], counters["op:1:demo:tiling"]
    assert (pre["jobs"], pre["stages"], pre["tasks"]) == (1, 1, 2)
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 2, 3)
    assert pre["py_bytes_in"] == 3000 and pre["py_bytes_out"] == 500
    assert pre["py_rows_out"] == 40
    assert math.isclose(pre["py_run_s"], 0.012)
    assert op["shuffle_write_bytes"] == 700 and op["shuffle_read_bytes"] == 650
    assert op["join_rows_max"] == 90
    assert op["spill_bytes"] == 64
    assert math.isclose(op["executor_run_s"], 0.6)
    assert math.isclose(op["executor_cpu_s"], 0.45)
    assert math.isclose(op["gc_s"], 0.03)
