"""The streaming late-row rule, pinned to what Spark 4 does for one stateful
operator (observed on a file stream with one file per trigger)."""

import pandas as pd

from reference import _late_filter, frames_match


def _batches(*tss):
    return [pd.DataFrame({"ts": list(t)}) for t in tss]


def test_late_rows_use_previous_batch_watermark():
    kept = _late_filter(_batches([1000], [5000], [1500, 4400, 3000], [9000],
                                 [4000, 8399, 8400, 8401]), 600)
    assert kept[2]["ts"].tolist() == [1500, 4400, 3000]  # threshold 400
    assert kept[4]["ts"].tolist() == [8399, 8400, 8401]  # threshold 4400


def test_rows_at_the_watermark_are_late():
    kept = _late_filter(_batches([1000], [5000], [399, 400, 401], [9000]), 600)
    assert kept[2]["ts"].tolist() == [401]


def test_frames_match_reports_first_difference():
    a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    assert frames_match(a, a.iloc[::-1], ["k"]) is None
    b = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]})
    assert "column v" in frames_match(a, b, ["k"])
    assert frames_match(a.iloc[:1], b, ["k"]) == "rows 1 != 2"


def test_window_aggregation_compares_the_window_end():
    # batch-2 threshold: 5000 - 600 = 4400.  4000 is older, but its hour
    # window ends at 7200 and stays open; 3000's window ended at 3600.
    kept = _late_filter(_batches([5000], [9000], [3000, 4000]), 600, window_s=3600)
    assert kept[2]["ts"].tolist() == [4000]


def test_sketch_counts_are_checked_per_row_and_in_total():
    want = pd.DataFrame({"k": [1, 2, 3], "n": [19, 40, 100]})
    near = pd.DataFrame({"k": [1, 2, 3], "n": [16, 41, 99]})
    assert frames_match(near, want, ["k"], approx={"n": 0.3}) is None
    far = pd.DataFrame({"k": [1, 2, 3], "n": [19, 40, 60]})
    assert "column n" in frames_match(far, want, ["k"], approx={"n": 0.3})
