"""The offline event-log parser on a small recorded Spark 4 log.

The log holds four job groups: ``0:construct`` persists and counts a
two-partition range, ``0:execute`` aggregates it through a shuffle,
``1:execute`` runs a scalar Arrow UDF over its 1000 rows and ``2:execute``
runs a ``mapInArrow`` kernel over them.
"""

from pathlib import Path

import eventlog

LOG = Path(__file__).resolve().parent / "data" / "eventlog_tiny.json"


def test_groups_and_scheduler_counts():
    g = eventlog.parse(LOG)
    assert set(g) == {"0:construct", "0:execute", "1:execute", "2:execute"}
    assert [g[k].jobs for k in ("0:construct", "0:execute", "1:execute", "2:execute")] == [3, 2, 1, 1]
    assert g["0:execute"].stages == 2 and g["0:execute"].stages_skipped == 1
    assert g["0:execute"].shuffle_read_bytes == g["0:execute"].shuffle_write_bytes > 0
    assert g["1:execute"].tasks == 2 and g["1:execute"].task_failures == 0
    assert all(s.executor_run_s > 0 and s.executor_cpu_s > 0 for s in g.values())


def test_python_node_rows_are_attributed_to_their_group():
    g = eventlog.parse(LOG)
    assert g["1:execute"].udf_rows == 1000 and g["1:execute"].udf_bytes > 0
    assert g["1:execute"].kernel_rows == 0
    assert g["2:execute"].kernel_rows == 1000 and g["2:execute"].kernel_bytes > 0
    assert g["2:execute"].udf_rows == 0


def test_job_intervals_and_gaps():
    g = eventlog.parse(LOG)["0:construct"]
    assert len(g.intervals) == 3
    lo = min(a for a, _ in g.intervals)
    hi = max(b for _, b in g.intervals)
    assert 0 < eventlog.covered_seconds(g.intervals, lo, hi) <= hi - lo
    assert eventlog.covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.covered_seconds([(0, 2)], 1, 10) == 1
