"""Seeded input generators: the same seed gives the same inputs.

Everything the program sees is produced here during set-up and landed as
files: raw measure history (parquet), InfluxDB line-protocol batches
(text), the resources table with its revisions, and the dashboard op
mix.  Timestamps are integer microseconds since the epoch (UTC).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

US = 1_000_000
MINUTE = 60
HOUR = 3600
DAY = 86400

MEASUREMENTS = ("cpu", "mem", "disk", "net")
FLAVORS = ("m1.small", "m1.medium", "m1.large", "m1.xlarge")


def host(resource: int) -> str:
    return f"h{resource:04d}"


def metric_id(resource: int, measurement: str) -> str:
    """The id the engine derives from a line ``<measurement>,host=<host>
    value=...``: ``<resource_id>/<metric_name>``."""
    return f"{host(resource)}/{measurement}.value"


def metric_ids(n_resources: int) -> list[str]:
    return [metric_id(r, m) for r in range(n_resources) for m in MEASUREMENTS]


def _grid(rng, metrics, start_s: int, end_s: int, extra_share: float) -> pd.DataFrame:
    """One point per minute per metric at a random second inside the
    minute, plus a second point in ``extra_share`` of the minutes, so
    60 s buckets hold one point (sample std suppressed) or two."""
    minutes = np.arange(start_s, end_s, MINUTE, dtype=np.int64)
    m, k = len(metrics), len(minutes)
    mid = np.repeat(np.arange(m), k)
    base = np.tile(minutes, m) * US
    ts = base + rng.integers(0, MINUTE * US, m * k)
    extra = rng.random(m * k) < extra_share
    mid = np.concatenate([mid, mid[extra]])
    ts = np.concatenate([ts, base[extra] + rng.integers(0, MINUTE * US, int(extra.sum()))])
    level = rng.uniform(10.0, 90.0, m)[mid]
    # a slow per-metric drift keyed on time, plus noise
    drift = np.sin(ts / (HOUR * US) + mid) * 5.0
    value = np.round(level + drift + rng.normal(0.0, 2.0, len(ts)), 3)
    return pd.DataFrame(
        {"metric_id": np.asarray(metrics, dtype=object)[mid], "ts_us": ts, "value": value}
    )


def _resend(rng, df: pd.DataFrame, share: float) -> pd.DataFrame:
    """Copies of ``share`` of the rows with a new value (same metric and
    timestamp): a client resending a point."""
    pick = df.sample(frac=share, random_state=int(rng.integers(2**31))).copy()
    pick["value"] = np.round(pick["value"].to_numpy() + rng.normal(5.0, 1.0, len(pick)), 3)
    return pick


def history(
    rng, metrics, start_s: int, end_s: int, extra_share: float = 0.3, resent_share: float = 0.01
) -> pd.DataFrame:
    """Raw history in arrival order: points arrive shuffled (out of
    timestamp order) and resent points arrive after every original.
    ``seq`` is the arrival index."""
    df = _grid(rng, metrics, start_s, end_s, extra_share)
    df = df.sample(frac=1.0, random_state=int(rng.integers(2**31)))
    df = pd.concat([df, _resend(rng, df, resent_share)], ignore_index=True)
    df["seq"] = np.arange(len(df), dtype=np.int64)
    return df


def to_parquet_frame(df: pd.DataFrame) -> pd.DataFrame:
    """(metric_id, ts, value, seq) with a UTC timestamp column, the layout
    the engine's measure readers expect."""
    ts = utc_micros(df["ts_us"])
    return pd.DataFrame(
        {"metric_id": df["metric_id"].to_numpy(), "ts": ts, "value": df["value"].to_numpy(),
         "seq": df["seq"].to_numpy()}
    )


def utc_micros(us) -> pd.Series:
    """Epoch microseconds -> a UTC timestamp column stored at microsecond
    precision (nanosecond parquet timestamps read back as integers)."""
    return pd.Series(pd.to_datetime(pd.Series(us), unit="us", utc=True)).astype("datetime64[us, UTC]")


@dataclass
class StreamBatch:
    """One landing file: rows in arrival order, with the generator's
    label for each row (``on``, ``late``, ``resent`` or ``far``)."""

    rows: pd.DataFrame  # metric_id, ts_us, value, kind

    def lines(self) -> str:
        out = []
        for mid, ts, v in zip(self.rows["metric_id"], self.rows["ts_us"], self.rows["value"]):
            host_, name = mid.split("/", 1)
            out.append(f"{name.rsplit('.', 1)[0]},host={host_} value={float(v)!r} {int(ts) * 1000}")
        return "\n".join(out) + "\n"


def stream_batches(
    rng,
    metrics,
    t0_s: int,
    n_batches: int,
    batch_s: int,
    far_window: tuple[int, int],
    late_share: float = 0.05,
    max_late_batches: int = 2,
    resent_share: float = 0.01,
    far_share: float = 0.002,
) -> list[StreamBatch]:
    """Batch ``i`` holds the points of [t0 + i*batch_s, t0 + (i+1)*batch_s)
    for every metric, except that ``late_share`` of points arrive 1 to
    ``max_late_batches`` batches late, ``resent_share`` of points are
    sent again (new value) in the same or a later batch, and each batch
    carries ``far_share`` extra points timestamped inside ``far_window``
    (seconds), far behind the back window."""
    df = _grid(rng, metrics, t0_s, t0_s + n_batches * batch_s, extra_share=0.3)
    df["batch"] = (df["ts_us"] // US - t0_s) // batch_s
    df["kind"] = "on"
    late = rng.random(len(df)) < late_share
    df.loc[late, "batch"] += rng.integers(1, max_late_batches + 1, int(late.sum()))
    df.loc[late, "kind"] = "late"
    resent = _resend(rng, df, resent_share)
    resent["batch"] += rng.integers(0, 2, len(resent))
    resent["kind"] = "resent"
    n_far = max(1, int(round(far_share * len(df) / n_batches)))
    far = pd.DataFrame(
        {
            "metric_id": rng.choice(np.asarray(metrics, dtype=object), n_far * n_batches),
            "ts_us": rng.integers(far_window[0] * US, far_window[1] * US, n_far * n_batches),
            "value": np.round(rng.uniform(0.0, 100.0, n_far * n_batches), 3),
            "batch": np.repeat(np.arange(n_batches), n_far),
            "kind": "far",
        }
    )
    df = pd.concat([df, resent, far], ignore_index=True)
    df = df[df["batch"] < n_batches]
    df = df.sample(frac=1.0, random_state=int(rng.integers(2**31)))
    # within a batch, a resent copy arrives after its original
    df["_r"] = (df["kind"] == "resent").astype(int)
    df = df.sort_values(["batch", "_r"], kind="stable")
    return [
        StreamBatch(g[["metric_id", "ts_us", "value", "kind"]].reset_index(drop=True))
        for _, g in df.groupby("batch", sort=True)
    ]


def resources(rng, n_resources: int, n_projects: int, start_s: int, end_s: int):
    """Live resources (host, project, flavor) and their revision trail:
    each resource has 0 to 3 revisions inside [start_s, end_s), each
    changing its project or flavor.  Returns (live, revisions) frames;
    times in microseconds, an open revision_end is NaN."""
    projects = [f"p{i}" for i in range(n_projects)]
    live, revs = [], []
    for r in range(n_resources):
        project = projects[r % n_projects]
        flavor = FLAVORS[int(rng.integers(len(FLAVORS)))]
        changes = np.sort(rng.integers(start_s, end_s, int(rng.integers(0, 4))))
        begin = start_s - DAY
        for t in changes:
            revs.append((host(r), begin * US, int(t) * US, host(r), project, flavor))
            if rng.random() < 0.5:
                project = projects[int(rng.integers(n_projects))]
            else:
                flavor = FLAVORS[int(rng.integers(len(FLAVORS)))]
            begin = int(t)
        revs.append((host(r), begin * US, np.nan, host(r), project, flavor))
        live.append((host(r), host(r), project, flavor))
    live_df = pd.DataFrame(live, columns=["resource_id", "host", "project", "flavor"])
    rev_df = pd.DataFrame(
        revs, columns=["resource_id", "revision_start", "revision_end", "host", "project", "flavor"]
    )
    return live_df, rev_df


def _zipf_weights(rng, n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    rng.shuffle(w)
    return w / w.sum()


# One pass of the op mix: 12 reads, 5 cross-metric aggregates, 3
# searches.  Op shapes (kinds, granularities, range lengths, series
# counts, filter forms) follow fixed cycles, so every seed runs the same
# shapes in the same order; the seed picks metrics, groups and values.
PATTERN = "RARSRRARRSRARRARSRRA"
READ_SHAPES = ((60, 1 * HOUR), (HOUR, 1 * DAY), (60, 3 * HOUR), (HOUR, 2 * DAY),
               (60, 6 * HOUR), (HOUR, 2 * DAY))
AGG_SHAPES = (("mean", 0, HOUR, 5), ("spread", "null", 60, 12), ("mean", "null", HOUR, 8),
              ("std", 0, 60, 16), ("spread", 0, HOUR, 10))


def dashboard_ops(rng, n_ops: int, metrics, live: pd.DataFrame, end_s: int, history_s: int) -> list[dict]:
    """The seeded read-only op mix: 60 % point reads (Zipf metric
    popularity, recent ranges, one in twelve resampled), 25 %
    cross-metric aggregates over 5-16 metrics of the largest project,
    15 % resource searches grouped by project with history."""
    metrics = list(metrics)
    weights = _zipf_weights(rng, len(metrics))
    by_project = {
        p: [m for m in metrics if m.split("/")[0] in set(g["host"])]
        for p, g in live.groupby("project")
    }
    group = max(sorted(by_project), key=lambda p: len(by_project[p]))
    ops = []
    n_read = n_agg = n_search = 0
    for i in range(n_ops):
        shape = PATTERN[i % len(PATTERN)]
        if shape == "R":
            mid = metrics[int(rng.choice(len(metrics), p=weights))]
            gran, span = READ_SHAPES[n_read % len(READ_SHAPES)]
            span, coarser = min(span, history_s), (HOUR if gran == 60 else DAY)
            ops.append(
                {"kind": "read", "metric": mid, "gran": gran, "start": end_s - span,
                 "stop": end_s, "resample": coarser if n_read % 12 == 5 else None}
            )
            n_read += 1
        elif shape == "A":
            agg, fill, gran, k = AGG_SHAPES[n_agg % len(AGG_SHAPES)]
            pool = by_project[group]
            chosen = sorted(rng.choice(pool, min(k, len(pool)), replace=False).tolist())
            span = DAY if gran == HOUR else 2 * HOUR
            ops.append(
                {"kind": "agg", "metrics": chosen, "gran": gran, "start": end_s - span,
                 "stop": end_s, "fill": fill, "op": agg}
            )
            n_agg += 1
        else:
            form = n_search % 3
            flavor = str(rng.choice(sorted(set(live["flavor"]))))  # one some resource has
            if form == 0:
                ast = {"=": {"flavor": flavor}}
            elif form == 1:
                ast = {"and": [{"like": {"host": "h000%"}}, {"!=": {"flavor": flavor}}]}
            else:
                names = sorted(by_project)
                ps = sorted(rng.choice(names, min(2, len(names)), replace=False).tolist())
                ast = {"in": {"project": ps}}
            ops.append({"kind": "search", "filter": ast, "measurement": "cpu",
                        "start": end_s - DAY, "stop": end_s})
            n_search += 1
        ops[-1]["id"] = f"op{i:05d}"
    return ops
