"""Reference semantics, computed with numpy/pandas on the generated inputs.

This module does not import ``gnocchi_spark``.  It restates the rules of
the reference time-series database (Gnocchi) that the benchmark checks:

- duplicate (metric, timestamp) points: the last write wins;
- ``std`` is the sample standard deviation, and a bucket holding one
  point has none;
- ``last`` is the value with the greatest timestamp in the bucket;
- on ingest, a point older than the metric's first kept block
  (``floor(last_ts, block) - back_window * block``, block = the
  coarsest granularity) is dropped;
- a read's ``start`` is floored to the output granularity and ``stop``
  is exclusive; ``resample`` applies the method again over the
  aggregated points (a mean of means; counts are summed);
- ``aggregate`` across series ignores missing values, and its ``std``
  is the population standard deviation;
- a history group-by weights each bucket by the share of it that falls
  inside the resource revision's search window.

Times are integer microseconds since the epoch throughout.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

US = 1_000_000


# -- ingest ----------------------------------------------------------------


def last_write_wins(raw: pd.DataFrame) -> pd.DataFrame:
    """Keep the latest arrival (greatest ``seq``) of each (metric, ts)."""
    return raw.sort_values("seq", kind="stable").drop_duplicates(["metric_id", "ts_us"], keep="last")


def rollup(points: pd.DataFrame, methods, granularity_s: float) -> pd.DataFrame:
    """Aggregate deduplicated points into (metric_id, method, bucket_us,
    value) rows for one granularity, computed from raw points."""
    g = int(granularity_s * US)
    df = points.assign(bucket_us=points["ts_us"] - points["ts_us"] % g)
    df = df.sort_values(["metric_id", "bucket_us", "ts_us"], kind="stable")
    grouped = df.groupby(["metric_id", "bucket_us"], sort=True)["value"]
    cols = {}
    for m in methods:
        if m == "mean":
            cols[m] = grouped.mean()
        elif m == "sum":
            cols[m] = grouped.sum()
        elif m == "min":
            cols[m] = grouped.min()
        elif m == "max":
            cols[m] = grouped.max()
        elif m == "count":
            cols[m] = grouped.count().astype(float)
        elif m == "std":
            cols[m] = grouped.std(ddof=1)  # NaN for a single point
        elif m == "last":
            cols[m] = grouped.last()  # rows are in timestamp order
        elif m.endswith("pct"):
            # linear interpolation between closest ranks, as numpy does
            cols[m] = grouped.quantile(int(m[:-3]) / 100.0)
        else:
            raise ValueError(f"oracle has no rule for method {m!r}")
    wide = pd.DataFrame(cols).reset_index()
    long = wide.melt(id_vars=["metric_id", "bucket_us"], var_name="method", value_name="value")
    return long.dropna(subset=["value"])


def rollup_policy(points: pd.DataFrame, methods, granularities) -> dict[float, pd.DataFrame]:
    return {float(g): rollup(points, methods, g) for g in granularities}


class BoundIngest:
    """Per-metric back-window bound of the reference ingest path.

    Each call to ``ingest`` is one processing batch: for a metric that
    already holds points, new points older than
    ``floor(last_ts, block) - back_window * block`` are dropped; the rest
    are merged last-write-wins over what is stored.
    """

    def __init__(self, block_s: float, back_window: int):
        self.block = int(block_s * US)
        self.back_window = back_window
        self.points = pd.DataFrame(
            {"metric_id": pd.Series(dtype=object), "ts_us": pd.Series(dtype=np.int64),
             "value": pd.Series(dtype=float), "seq": pd.Series(dtype=np.int64)}
        )
        self._seq = 0

    def horizon_us(self) -> pd.Series:
        last = self.points.groupby("metric_id")["ts_us"].max()
        return last - last % self.block - self.back_window * self.block

    def ingest(self, batch: pd.DataFrame) -> pd.DataFrame:
        """``batch``: metric_id, ts_us, value in arrival order.  Returns
        the accepted rows."""
        b = batch[["metric_id", "ts_us", "value"]].copy()
        b["seq"] = np.arange(self._seq, self._seq + len(b), dtype=np.int64)
        self._seq += len(b)
        horizon = b["metric_id"].map(self.horizon_us())
        kept = b[horizon.isna() | (b["ts_us"] >= horizon)]
        self.points = last_write_wins(pd.concat([self.points, kept], ignore_index=True))
        return kept


# -- reads -----------------------------------------------------------------


def _floor(t_us: int, g_s: float) -> int:
    g = int(g_s * US)
    return t_us - t_us % g


def resample(series: dict[int, float], method: str, granularity_s: float) -> dict[int, float]:
    """Re-aggregate an aggregated series to a coarser granularity with the
    same method: a mean of means, a max of maxes; counts are summed."""
    buckets: dict[int, list[float]] = {}
    for t, v in sorted(series.items()):
        buckets.setdefault(_floor(t, granularity_s), []).append(v)
    out = {}
    for b, vs in buckets.items():
        a = np.asarray(vs)
        if method in ("sum", "count"):
            out[b] = float(a.sum())
        elif method == "mean":
            out[b] = float(a.mean())
        elif method == "min":
            out[b] = float(a.min())
        elif method == "max":
            out[b] = float(a.max())
        elif method == "last":
            out[b] = float(a[-1])
        elif method == "std":
            if len(a) > 1:
                out[b] = float(a.std(ddof=1))
        else:
            raise ValueError(f"oracle has no resample rule for {method!r}")
    return out


class RollupIndex:
    """Reference rollups indexed for reads: (metric, method, granularity)
    -> {bucket_us: value}."""

    def __init__(self, rollups: dict[float, pd.DataFrame]):
        self.series: dict[tuple[str, str, float], dict[int, float]] = {}
        for g, df in rollups.items():
            for (mid, method), grp in df.groupby(["metric_id", "method"], sort=False):
                self.series[(mid, method, g)] = dict(
                    zip(grp["bucket_us"].astype(np.int64).tolist(), grp["value"].tolist())
                )

    def get_measures(self, metric, method, gran, start_us=None, stop_us=None, resample_s=None):
        s = self.series.get((metric, method, float(gran)), {})
        if start_us is not None:
            lo = _floor(start_us, resample_s or gran)
            s = {t: v for t, v in s.items() if t >= lo}
        if stop_us is not None:
            s = {t: v for t, v in s.items() if t < stop_us}
        if resample_s is not None:
            s = resample(s, method, resample_s)
        return s


# -- cross-metric aggregates -------------------------------------------------


def aligned_aggregate(series: dict[str, dict[int, float]], fill, op: str) -> dict[int, float]:
    """Align series on the union of their timestamps, fill the gaps with
    ``fill`` (a number, or ``"null"`` for missing), then reduce across
    series per timestamp.  ``mean``/``std`` ignore missing values (std is
    the population std); ``spread`` is max minus min."""
    times = sorted(set().union(*[s.keys() for s in series.values()]))
    fill_v = math.nan if fill == "null" else float(fill)
    grid = np.array([[s.get(t, fill_v) for s in series.values()] for t in times], dtype=float)
    out = {}
    for t, row in zip(times, grid):
        vals = row[~np.isnan(row)]
        if op == "mean":
            out[t] = float(vals.mean()) if len(vals) else math.nan
        elif op == "std":
            out[t] = float(vals.std(ddof=0)) if len(vals) else math.nan
        elif op == "spread":
            out[t] = float(vals.max() - vals.min()) if len(vals) else math.nan
        else:
            raise ValueError(op)
    return out


# -- history group-by --------------------------------------------------------


def history_grouped(
    bucketed: dict[str, dict[int, float]],
    revisions: pd.DataFrame,
    group_attr: str,
    granularity_s: float,
    start_us: int,
    stop_us: int,
) -> dict[tuple[str, int], float]:
    """Time-weighted group-by over resource revisions.

    ``bucketed``: resource_id -> {bucket_us: value}.  Only revisions that
    overlap [start, stop) take part; the earliest of them per resource
    has its window opened to ``start``, later ones start at
    max(revision_start, start); windows end at min(revision_end, stop).
    Each bucket contributes value * overlap(bucket, window) / granularity
    to its revision's group; a group's same-bucket values are summed.
    """
    g = int(granularity_s * US)
    revs = revisions[
        (revisions["revision_start"] < stop_us)
        & (revisions["revision_end"].isna() | (revisions["revision_end"] >= start_us))
    ]
    out: dict[tuple[str, int], float] = {}
    for rid, rgrp in revs.groupby("resource_id"):
        series = bucketed.get(rid)
        if not series:
            continue
        rgrp = rgrp.sort_values("revision_start")
        for i, rev in enumerate(rgrp.itertuples()):
            w_start = start_us if i == 0 else max(int(rev.revision_start), start_us)
            w_end = stop_us if pd.isna(rev.revision_end) else min(int(rev.revision_end), stop_us)
            for b, v in series.items():
                if b < w_end and b + g > w_start:
                    coef = (min(w_end, b + g) - max(w_start, b)) / g
                    key = (getattr(rev, group_attr), b)
                    out[key] = out.get(key, 0.0) + v * coef
    return out


# -- comparison --------------------------------------------------------------


def same_value(a, b, rel: float = 1e-7, abs_: float = 1e-9) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def mismatched_keys(got: dict, want: dict) -> list:
    """Keys whose values differ, including keys present on one side only."""
    bad = [k for k in got.keys() | want.keys() if k not in got or k not in want]
    bad += [k for k in got.keys() & want.keys() if not same_value(got[k], want[k])]
    return bad
