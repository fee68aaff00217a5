"""Self-tests of the reference-semantics oracle and the input generators,
on hand-built cases.  No Spark; run from the repository root:

    python -m pytest tsbench/tests/test_oracle.py -q
"""

import math

import numpy as np
import pandas as pd
import pytest

from tsbench import gen, oracle
from tsbench.spans import tail

US = oracle.US
T0 = 1_767_657_600 * US  # a day boundary


def pts(rows):
    """rows of (metric, seconds after T0, value, seq)."""
    return pd.DataFrame(
        [(m, T0 + int(s * US), float(v), q) for m, s, v, q in rows],
        columns=["metric_id", "ts_us", "value", "seq"],
    )


def series(df, method, gran):
    return oracle.RollupIndex({float(gran): oracle.rollup(df, [method], gran)}).series.get(
        ("m", method, float(gran)), {}
    )


def test_duplicate_timestamp_last_write_wins():
    # two points at one timestamp: the later arrival replaces the earlier,
    # so count is 1 and mean is the later value (a stream that sums both
    # reports count 2, mean 3.0)
    raw = pts([("m", 10, 1.0, 0), ("m", 10, 5.0, 1)])
    kept = oracle.last_write_wins(raw)
    assert series(kept, "count", 60) == {T0: 1.0}
    assert series(kept, "mean", 60) == {T0: 5.0}


def test_last_write_wins_follows_arrival_not_row_order():
    raw = pts([("m", 10, 5.0, 7), ("m", 10, 1.0, 3)])
    assert series(oracle.last_write_wins(raw), "last", 60) == {T0: 5.0}


def test_sample_std_suppressed_for_one_point():
    raw = pts([("m", 5, 1.0, 0), ("m", 65, 2.0, 1), ("m", 70, 4.0, 2)])
    std = series(raw, "std", 60)
    assert T0 not in std  # one point in the first minute: no std
    assert std[T0 + 60 * US] == pytest.approx(math.sqrt(2.0))  # ddof=1


def test_last_is_taken_by_timestamp():
    # arrives newest-first; ``last`` is still the latest timestamp's value
    raw = pts([("m", 50, 9.0, 0), ("m", 10, 1.0, 1)])
    assert series(raw, "last", 60) == {T0: 9.0}


def test_percentile_interpolates_linearly():
    raw = pts([("m", i, float(v), i) for i, v in enumerate([1, 2, 3, 4])])
    assert series(raw, "95pct", 60) == {T0: pytest.approx(np.percentile([1, 2, 3, 4], 95))}


def test_points_beyond_the_back_window_are_dropped():
    bound = oracle.BoundIngest(block_s=86400.0, back_window=0)
    day = 86400
    bound.ingest(pts([("m", -10, 1.0, 0)])[["metric_id", "ts_us", "value"]])  # last day
    # first block kept = floor(last ts, 1 d) = the previous day: a point two
    # days back is dropped, one inside the previous day is kept
    kept = bound.ingest(pts([("m", -2 * day, 2.0, 0), ("m", -day + 5, 3.0, 0)])[["metric_id", "ts_us", "value"]])
    assert list(kept["value"]) == [3.0]
    bound.ingest(pts([("m", 100, 4.0, 0)])[["metric_id", "ts_us", "value"]])
    # now the newest point is in today's block: yesterday is beyond the window
    kept = bound.ingest(pts([("m", -30, 5.0, 0), ("m", 50, 6.0, 0)])[["metric_id", "ts_us", "value"]])
    assert list(kept["value"]) == [6.0]


def test_back_window_counts_whole_blocks():
    bound = oracle.BoundIngest(block_s=3600.0, back_window=1)
    bound.ingest(pts([("m", 7200 + 30, 1.0, 0)])[["metric_id", "ts_us", "value"]])
    kept = bound.ingest(pts([("m", 3600 + 1, 2.0, 0), ("m", 3599, 3.0, 0)])[["metric_id", "ts_us", "value"]])
    assert list(kept["value"]) == [2.0]


def test_resample_is_a_mean_of_means_and_sums_counts():
    raw = pts([("m", 0, 1.0, 0), ("m", 1, 3.0, 1), ("m", 60, 8.0, 2)])
    idx = oracle.RollupIndex(oracle.rollup_policy(raw, ["mean", "count"], [60.0]))
    # minute means are 2.0 and 8.0: their mean is 5.0, not the raw mean 4.0
    assert idx.get_measures("m", "mean", 60.0, resample_s=3600.0) == {T0: 5.0}
    assert idx.get_measures("m", "count", 60.0, resample_s=3600.0) == {T0: 3.0}


def test_read_start_floors_to_the_output_granularity_and_stop_is_exclusive():
    raw = pts([("m", 0, 1.0, 0), ("m", 60, 2.0, 1), ("m", 120, 3.0, 2)])
    idx = oracle.RollupIndex(oracle.rollup_policy(raw, ["mean"], [60.0]))
    got = idx.get_measures("m", "mean", 60.0, start_us=T0 + 90 * US, stop_us=T0 + 120 * US)
    assert got == {T0 + 60 * US: 2.0}


def test_aggregate_std_is_population_and_ignores_missing():
    a = {0: 1.0, 1: 2.0}
    b = {0: 3.0}
    assert oracle.aligned_aggregate({"a": a, "b": b}, "null", "std") == {0: 1.0, 1: 0.0}
    # with fill 0 the gap counts as a zero
    assert oracle.aligned_aggregate({"a": a, "b": b}, 0, "mean") == {0: 2.0, 1: 1.0}
    assert oracle.aligned_aggregate({"a": a, "b": b}, 0, "spread") == {0: 2.0, 1: 2.0}


def test_history_grouping_weights_buckets_by_revision_overlap():
    h = 3600 * US
    revs = pd.DataFrame(
        [("r1", T0 - 10 * h, T0 + h // 2, "p1"), ("r1", T0 + h // 2, np.nan, "p2")],
        columns=["resource_id", "revision_start", "revision_end", "project"],
    )
    got = oracle.history_grouped({"r1": {T0: 10.0, T0 + h: 4.0}}, revs, "project", 3600.0, T0, T0 + 2 * h)
    # the first bucket is split half and half between the two projects
    assert got == {("p1", T0): 5.0, ("p2", T0): 5.0, ("p2", T0 + h): 4.0}


def test_history_grouping_opens_the_first_kept_revision_to_the_query_start():
    h = 3600 * US
    revs = pd.DataFrame(
        [("r1", T0 - 10 * h, T0 - 5 * h, "old"), ("r1", T0 + h // 4, np.nan, "new")],
        columns=["resource_id", "revision_start", "revision_end", "project"],
    )
    # the revision that ended before the window is not retrieved, so the
    # later one covers the whole window
    got = oracle.history_grouped({"r1": {T0: 8.0}}, revs, "project", 3600.0, T0, T0 + h)
    assert got == {("new", T0): 8.0}


def test_comparison_treats_nan_and_none_alike_and_reports_one_sided_keys():
    assert oracle.mismatched_keys({1: None, 2: 1.0}, {1: math.nan, 2: 1.0 + 1e-12}) == []
    assert sorted(oracle.mismatched_keys({1: 1.0}, {1: 1.1, 2: 0.0})) == [1, 2]


def test_generators_are_seeded():
    a = gen.history(np.random.default_rng(7), gen.metric_ids(2), 0, 3600)
    b = gen.history(np.random.default_rng(7), gen.metric_ids(2), 0, 3600)
    c = gen.history(np.random.default_rng(8), gen.metric_ids(2), 0, 3600)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def test_stream_batches_carry_late_resent_and_far_points():
    rng = np.random.default_rng(3)
    batches = gen.stream_batches(rng, gen.metric_ids(4), 86400 * 10, 20, 300, far_window=(0, 3600))
    rows = pd.concat([b.rows for b in batches])
    assert set(rows["kind"]) == {"on", "late", "resent", "far"}
    assert (rows.loc[rows["kind"] == "far", "ts_us"] < 3600 * US).all()
    # a line parses back to the same metric, value and timestamp
    line = batches[0].lines().splitlines()[0]
    first = batches[0].rows.iloc[0]
    host, name = first["metric_id"].split("/")
    assert line == f"{name[:-6]},host={host} value={float(first['value'])!r} {int(first['ts_us']) * 1000}"


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90.0, 90.0, 100)
    assert tail(xs[:30]) == (15.0, 50.0, 30)
    assert tail([3.0, 1.0]) == (3.0, 100.0, 2)
