"""The benchmark's workloads, composed only of the engine's public functions.

Each workload is ``run_<name>(ctx)`` and returns a ``Result``.  Set-up
(inputs generated, landed and loaded) is timed apart from the measured
closed loop; oracle checks run outside every timed section.
"""

from __future__ import annotations

import datetime
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tsbench import gen, oracle
from tsbench.spans import Tracer, median

END_S = 1_767_657_600  # 2026-01-06T00:00:00Z, a day boundary
METHODS = ("count", "last", "max", "mean", "min", "std", "sum", "95pct")
STREAM_METHODS = ("count", "last", "max", "mean", "min", "std", "sum")
GRANULARITIES = (60.0, 3600.0, 86400.0)


@dataclass(frozen=True)
class Sizes:
    """Input sizes, chosen by op and batch counts for a 4-core host (see
    NOTES.md)."""

    resources: int  # four metrics per resource
    history_s: int
    # ingest_mixed only
    batches: int = 60
    stream_granularities: tuple[float, ...] = (60.0,)


SIZES = {
    "backfill": Sizes(resources=12, history_s=gen.DAY),
    "dashboard": Sizes(resources=8, history_s=gen.DAY),
    "ingest_mixed": Sizes(resources=8, history_s=gen.HOUR),
}
DASHBOARD_PROJECTS = 2
BATCH_S = 300  # ingest_mixed: seconds of data per landed batch
BACK_WINDOW_S = 900
READS_PER_BATCH = 6


def policy(methods=METHODS, granularities=GRANULARITIES):
    from gnocchi_spark.policy import ArchivePolicy, ArchivePolicyItem

    return ArchivePolicy(
        "bench",
        0,
        tuple(ArchivePolicyItem(g, timespan_s=400 * 86400.0) for g in granularities),
        frozenset(methods),
    )


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float


@dataclass
class Result:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checked: int = 0
    wrong: int = 0
    unexplained: int = 0
    lost_races: int = 0
    race_attempts: int = 0
    lat_ms: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    figures: dict[str, float] = field(default_factory=dict)  # end-to-end
    layers: dict[str, float] = field(default_factory=dict)  # per layer


def _rng(ctx: Context) -> np.random.Generator:
    """The workload's generator; any integer seed, negative ones included."""
    return np.random.default_rng(ctx.seed % 2**64)


def _log(ctx: Context, msg: str) -> None:
    print(f"[tsbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _us(dt: datetime.datetime) -> int:
    """A naive UTC datetime from collect() -> epoch microseconds."""
    return int(round(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6))


def _ts(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S.%f")


# -- store observation -----------------------------------------------------


def _data_files(store) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, names in os.walk(os.path.join(store.root, "data")):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, store.root)] = os.path.getsize(p)
    return out


def _live(store) -> tuple[int, int]:
    """Files and bytes of the current manifest."""
    m = store.current()
    files = m.files if m else ()
    return len(files), sum(os.path.getsize(os.path.join(store.root, f)) for f in files)


class WriteWatch:
    """Files and bytes a store gained between two looks, and the share of
    sacks they landed in."""

    def __init__(self, store):
        self.store = store
        self.seen = _data_files(store)

    def delta(self) -> tuple[int, int, float]:
        now = _data_files(self.store)
        new = {p: s for p, s in now.items() if p not in self.seen}
        self.seen = now
        sacks = {part for p in new for part in p.split(os.sep) if part.startswith("sack=")}
        return len(new), sum(new.values()), len(sacks) / self.store.num_sacks


def _store_frame(ctx: Context, store):
    return ctx.spark.read.parquet(*[os.path.join(store.root, f) for f in store.current().files])


def _bytes_per_point(store) -> tuple[float, int]:
    """Live bytes per stored rollup point, and the point count (from the
    parquet footers, without a Spark job)."""
    rows = sum(pq.read_metadata(os.path.join(store.root, f)).num_rows for f in store.current().files)
    return _live(store)[1] / rows, rows


# -- backfill (also the set-up of the other workloads) ---------------------


def land_history(raw: pd.DataFrame, path: str) -> None:
    gen.to_parquet_frame(raw).to_parquet(path, index=False)


def backfill(ctx: Context, measures_path: str, store_root: str, one_partition: bool = False,
             methods=METHODS, granularities=GRANULARITIES) -> dict:
    """dedup_last_write_wins -> rollup_policy -> SnapshotStore.append ->
    compact -> vacuum.  With tracing on, each layer's output is also
    materialised at its boundary so self times can be derived.

    ``one_partition`` appends the rollups as a single partition, which
    writes one file per sack instead of one per (task, sack); the other
    workloads' set-ups use it to reach the compacted state cheaply."""
    from gnocchi_spark.operators.rollup import dedup_last_write_wins, rollup_policy
    from gnocchi_spark.operators.store import SnapshotStore

    spark, tr = ctx.spark, ctx.tracer
    out = {}
    with tr.span("backfill"):
        store = SnapshotStore(store_root)
        watch = WriteWatch(store) if tr.enabled else None
        raw = spark.read.parquet(measures_path)
        if tr.enabled:
            with tr.span("source.exec"):
                out["measures_in"] = raw.count()
        with tr.span("dedup.call"):
            deduped = dedup_last_write_wins(raw, seq_col="seq")
        if tr.enabled:
            with tr.span("dedup.exec"):
                deduped.count()
        with tr.span("rollup.call"):
            rolled = rollup_policy(deduped, policy(methods, granularities), seq_col="seq")
        if tr.enabled:
            with tr.span("rollup.exec"):
                out["rows_out"] = rolled.count()
        with tr.span("store.append"):
            store.append(rolled.repartition(1) if one_partition else rolled)
        with tr.span("store.compact"):
            store.compact()
        with tr.span("store.vacuum"):
            store.vacuum()
        if watch:
            out["writes"] = watch.delta()
    out["store"] = store
    return out


def _backfill_layers(ctx: Context, runs: list[dict], r: Result) -> None:
    """Per-layer figures of traced backfills (medians over backfills).
    Self time of a layer = its output's prefix action minus its input's."""
    tr = ctx.tracer
    src = tr.durations_ms("source.exec")
    dd = [c + e for c, e in zip(tr.durations_ms("dedup.call"), tr.durations_ms("dedup.exec"))]
    ru = [c + e for c, e in zip(tr.durations_ms("rollup.call"), tr.durations_ms("rollup.exec"))]
    r.layers["dedup.ms"] = median(d - s for d, s in zip(dd, src))
    r.layers["rollup.ms"] = median(u - d for u, d in zip(ru, dd))
    r.layers["rollup.measures_in"] = median(b["measures_in"] for b in runs)
    r.layers["rollup.rows_out"] = median(b["rows_out"] for b in runs)
    r.layers["store.append_ms"] = median(tr.durations_ms("store.append"))
    r.layers["store.compact_ms"] = median(tr.durations_ms("store.compact"))
    b = runs[-1]
    files, nbytes, sacks = b["writes"]
    live_bytes = _live(b["store"])[1]
    r.layers.setdefault("store.files_written", files)
    r.layers.setdefault("store.mb_written", nbytes / 2**20)
    r.layers.setdefault("store.sacks_touched_share", sacks)
    # bytes written per byte the backfill's rollup rows occupy once stored
    r.layers.setdefault("store.write_amp", nbytes / live_bytes)


# -- reads -------------------------------------------------------------------


def pinned(ctx: Context, store):
    """The latest snapshot as a DataFrame, pinned for one op."""
    tr = ctx.tracer
    with tr.span("store.read"):
        manifest = store.current()
        rollups = store.read(ctx.spark, manifest)
    tr.count("store.files_per_read", len(manifest.files))
    return rollups


def read_measures(ctx: Context, store, metric, method, gran, start_us, stop_us, resample=None):
    """One get_measures call against a freshly pinned snapshot."""
    from gnocchi_spark.operators.read import get_measures

    tr = ctx.tracer
    rollups = pinned(ctx, store)
    with tr.span("read.plan"):
        df = get_measures(rollups, metric, method, gran, start=_ts(start_us), stop=_ts(stop_us),
                          resample=resample)
    with tr.span("read.exec"):
        rows = df.collect()
    tr.count("read.rows_returned", len(rows))
    return {_us(x["bucket_ts"]): x["value"] for x in rows}


def _read_layers(tr: Tracer, r: Result) -> None:
    r.layers["store.read_ms"] = median(tr.durations_ms("store.read"))
    r.layers["read.plan_ms"] = median(tr.durations_ms("read.plan"))
    r.layers["read.exec_ms"] = median(tr.durations_ms("read.exec"))
    r.layers["read.rows_returned"] = median(tr.counts["read.rows_returned"])
    r.layers["store.files_per_read"] = median(tr.counts["store.files_per_read"])
    r.layers["store.vacuum_ms"] = median(tr.durations_ms("store.vacuum"))


class JobCounter:
    """Spark jobs and tasks per op, via job groups and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jobs: list[int] = []
        self.tasks: list[int] = []

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str) -> None:
        ids = self.tracker.getJobIdsForGroup(op_id)
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        self.jobs.append(len(ids))
        self.tasks.append(tasks)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def report(self, r: Result) -> None:
        r.layers["spark.jobs_per_op"] = median(self.jobs)
        r.layers["spark.tasks_per_op"] = median(self.tasks)


def _setup(ctx: Context, one_setup, r: Result):
    """Run the set-up once in a fresh directory; its wall time goes to
    ``r.setup_s``."""
    root = os.path.join(ctx.work, "setup")
    os.makedirs(root)
    t = time.perf_counter()
    state = one_setup(root)
    r.setup_s = time.perf_counter() - t
    _log(ctx, f"set-up: {r.setup_s:.2f} s")
    return state


# -- workload: backfill ----------------------------------------------------


def run_backfill(ctx: Context) -> Result:
    """Bulk historical load, repeated into fresh stores until the time is
    up.  Not in BENCHMARK.json (see NOTES.md); run it by name."""
    sizes = SIZES["backfill"]
    r = Result()
    rng = _rng(ctx)
    raw = gen.history(rng, gen.metric_ids(sizes.resources), END_S - sizes.history_s, END_S)

    def one_setup(root):
        path = os.path.join(root, "history.parquet")
        land_history(raw, path)
        return path

    path = _setup(ctx, one_setup, r)
    runs = []
    deadline = time.perf_counter() + ctx.seconds
    while not runs or time.perf_counter() < deadline:
        ctx.tracer.op = f"load{len(runs):03d}"
        t = time.perf_counter()
        r.attempted += 1
        runs.append(backfill(ctx, path, os.path.join(ctx.work, f"store{len(runs)}")))
        r.lat_ms["load"].append((time.perf_counter() - t) * 1e3)

    ref = oracle.RollupIndex(oracle.rollup_policy(oracle.last_write_wins(raw), METHODS, GRANULARITIES))
    for b in runs:
        got: dict[tuple, dict[int, float]] = defaultdict(dict)
        for x in _store_frame(ctx, b["store"]).collect():
            got[(x["metric_id"], x["method"], float(x["granularity"]))][_us(x["bucket_ts"])] = x["value"]
        bad = [k for k in got.keys() | ref.series.keys()
               if oracle.mismatched_keys(got.get(k, {}), ref.series.get(k, {}))]
        r.checked += 1
        r.wrong += bool(bad)
        r.unexplained += bool(bad)
    loads = r.lat_ms["load"]
    r.figures["ingest_measures_per_s"] = len(raw) * len(loads) / (sum(loads) / 1e3)
    r.figures["stored_bytes_per_point"] = _bytes_per_point(runs[-1]["store"])[0]
    if ctx.tracer.enabled:
        _backfill_layers(ctx, runs, r)
    return r


# -- workload: dashboard ---------------------------------------------------


def _dashboard_setup(ctx: Context, raw, live, revs, root: str) -> dict:
    path = os.path.join(root, "history.parquet")
    land_history(raw, path)
    b = backfill(ctx, path, os.path.join(root, "store"), one_partition=True)
    live_path = os.path.join(root, "resources.parquet")
    rev_path = os.path.join(root, "revisions.parquet")
    live.to_parquet(live_path, index=False)
    rv = revs.copy()
    for c in ("revision_start", "revision_end"):
        rv[c] = gen.utc_micros(rv[c])
    rv.to_parquet(rev_path, index=False)
    return {
        "store": b["store"],
        "backfill": b,
        "resources": ctx.spark.read.parquet(live_path),
        "revisions": ctx.spark.read.parquet(rev_path),
    }


def _label(metric: str) -> str:
    """Series label for a metric's mean.  Dots are left out: align_series
    with a numeric fill fails on labels that contain one (see NOTES.md)."""
    return metric.replace(".", "_") + "/mean"


def _agg_ast(op: dict, labels: list[str]):
    refs = ["metric", *[[lab] for lab in labels]]
    if op["op"] == "spread":
        return ["-", ["aggregate", "max", refs], ["aggregate", "min", refs]]
    return ["aggregate", op["op"], refs]


def _run_agg(ctx: Context, st: dict, op: dict) -> dict[int, float]:
    """get_measures per metric -> align_series -> evaluate_to_long."""
    from gnocchi_spark.operators.align import align_series
    from gnocchi_spark.operators.read import get_measures
    from gnocchi_spark.plans.operations import SeriesFrame, evaluate_to_long

    tr = ctx.tracer
    rollups = pinned(ctx, st["store"])
    labels = [_label(m) for m in op["metrics"]]
    start, stop = _ts(op["start"] * gen.US), _ts(op["stop"] * gen.US)
    with tr.span("read.plan"):
        series = {lab: get_measures(rollups, m, "mean", op["gran"], start=start, stop=stop)
                  for lab, m in zip(labels, op["metrics"])}
    if tr.enabled:
        with tr.span("agg.read_prefix"):
            for df in series.values():
                df.collect()
    with tr.span("align.call"):
        wide = align_series(series, fill=op["fill"], ts_col="bucket_ts")
    if tr.enabled:
        with tr.span("agg.align_prefix"):
            tr.count("align.rows_out", wide.count())
    with tr.span("operations.call"):
        out = evaluate_to_long(_agg_ast(op, labels), SeriesFrame(df=wide, cols=labels), op["gran"],
                               fill=op["fill"])
    tr.count("operations.series_in", len(labels))
    with tr.span("agg.ops_prefix"):
        rows = out.collect()
    return {_us(x["ts"]): x["value"] for x in rows}


def _run_search(ctx: Context, st: dict, op: dict) -> dict[tuple[str, int], float]:
    """compile_filter over resources -> the matched resources' metric ->
    history_grouped_aggregate by project at 1 h."""
    from gnocchi_spark.operators.grouper import history_grouped_aggregate
    from gnocchi_spark.plans.filters import compile_filter
    from pyspark.sql import functions as F

    tr, spark = ctx.tracer, ctx.spark
    with tr.span("filters.compile"):
        cond = compile_filter(op["filter"])
    with tr.span("resources.match"):
        rids = [x["resource_id"] for x in st["resources"].where(cond).select("resource_id").collect()]
    tr.count("resources.rows_matched", len(rids))
    if not rids:
        return {}
    rollups = pinned(ctx, st["store"])
    owner = {f"{rid}/{op['measurement']}.value": rid for rid in rids}
    owners = spark.createDataFrame(list(owner.items()), "metric_id string, resource_id string")
    start, stop = _ts(op["start"] * gen.US), _ts(op["stop"] * gen.US)
    with tr.span("read.plan"):
        bucketed = (
            rollups.where(
                F.col("metric_id").isin(list(owner))
                & (F.col("method") == "mean")
                & (F.col("granularity") == "3600")
                & (F.col("bucket_ts") >= F.lit(start).cast("timestamp"))
                & (F.col("bucket_ts") < F.lit(stop).cast("timestamp"))
            )
            .join(F.broadcast(owners), "metric_id")
            .select("resource_id", "bucket_ts", "value")
        )
    if tr.enabled:
        with tr.span("search.read_prefix"):
            bucketed.count()
    with tr.span("grouper.call"):
        grouped = history_grouped_aggregate(bucketed, st["revisions"], ["project"], 3600.0,
                                            start=start, stop=stop)
    with tr.span("search.grouper_prefix"):
        rows = grouped.collect()
    tr.count("grouper.rows_out", len(rows))
    return {(x["project"], _us(x["bucket_ts"])): x["value"] for x in rows}


def _match(live: pd.DataFrame, ast: dict) -> list[str]:
    """The three filter shapes of the op mix, evaluated in pandas."""
    (op, payload), = ast.items()
    if op == "=":
        (k, v), = payload.items()
        mask = live[k] == v
    elif op == "in":
        (k, v), = payload.items()
        mask = live[k].isin(v)
    else:  # {"and": [{"like": {"host": "h00%"}}, {"!=": {"flavor": f}}]}
        prefix = payload[0]["like"]["host"].rstrip("%")
        flavor = payload[1]["!="]["flavor"]
        mask = live["host"].str.startswith(prefix) & (live["flavor"] != flavor)
    return sorted(live.loc[mask, "resource_id"])


def _dashboard_expect(ref: oracle.RollupIndex, live, revs, op: dict):
    """What the reference returns for one op."""
    lo, hi = op["start"] * gen.US, op["stop"] * gen.US
    if op["kind"] == "read":
        return ref.get_measures(op["metric"], "mean", op["gran"], lo, hi, op["resample"])
    if op["kind"] == "agg":
        series = {m: ref.get_measures(m, "mean", op["gran"], lo, hi) for m in op["metrics"]}
        return oracle.aligned_aggregate(series, op["fill"], op["op"])
    rids = _match(live, op["filter"])
    bucketed = {rid: ref.get_measures(f"{rid}/{op['measurement']}.value", "mean", 3600.0, lo, hi)
                for rid in rids}
    return oracle.history_grouped(bucketed, revs[revs["resource_id"].isin(rids)], "project",
                                  3600.0, lo, hi)


def run_dashboard(ctx: Context) -> Result:
    sizes = SIZES["dashboard"]
    r = Result()
    rng = _rng(ctx)
    metrics = gen.metric_ids(sizes.resources)
    start_s = END_S - sizes.history_s
    raw = gen.history(rng, metrics, start_s, END_S)
    live, revs = gen.resources(rng, sizes.resources, DASHBOARD_PROJECTS, start_s, END_S)
    ops = gen.dashboard_ops(rng, 2000, metrics, live, END_S, sizes.history_s)
    # separately drawn ops of the same shapes: the untimed warm-up, and the
    # traced half of a traced run, so no timed op repeats a query
    warmup = gen.dashboard_ops(rng, gen.PATTERN.index("S") + 1, metrics, live, END_S, sizes.history_s)
    replay = gen.dashboard_ops(rng, 2000, metrics, live, END_S, sizes.history_s)
    for op in replay:
        op["id"] = "traced-" + op["id"]

    st = _setup(ctx, lambda root: _dashboard_setup(ctx, raw, live, revs, root), r)
    runners = {
        "read": lambda op: read_measures(ctx, st["store"], op["metric"], "mean", op["gran"],
                                         op["start"] * gen.US, op["stop"] * gen.US, op["resample"]),
        "agg": lambda op: _run_agg(ctx, st, op),
        "search": lambda op: _run_search(ctx, st, op),
    }
    # the first ops of a session pay for code generation and JIT
    # compilation of the paths they touch: warm-up ops of every kind run
    # untimed, as part of set-up
    t, traced, ctx.tracer.enabled = time.perf_counter(), ctx.tracer.enabled, False
    for op in warmup:
        runners[op["kind"]](op)
    r.setup_s += time.perf_counter() - t
    ctx.tracer.enabled = traced
    done = _closed_loop(ctx, ops, replay, runners, r)

    ref = oracle.RollupIndex(oracle.rollup_policy(oracle.last_write_wins(raw), METHODS, GRANULARITIES))
    for op, got in done:
        r.checked += 1
        if oracle.mismatched_keys(got, _dashboard_expect(ref, live, revs, op)):
            r.wrong += 1
            r.unexplained += 1
            _log(ctx, f"oracle mismatch on {op['kind']} {op['id']}")
    r.figures["stored_bytes_per_point"] = _bytes_per_point(st["store"])[0]
    if ctx.tracer.enabled:
        _backfill_layers(ctx, [st["backfill"]], r)
        _read_layers(ctx.tracer, r)
        _dashboard_layers(ctx.tracer, r)
        r.layers["store.live_files"], live_bytes = _live(st["store"])
        r.layers["store.live_mb"] = live_bytes / 2**20
    return r


def _closed_loop(ctx: Context, ops: list[dict], replay: list[dict], runners: dict,
                 r: Result) -> list[tuple[dict, dict]]:
    """One client: each op starts when the previous one has returned.

    The loop runs untraced for the run's time, in whole passes over the
    op pattern, at least one, so every run times the same op shapes.  In
    a traced run it runs ``ops`` untraced for half the time, then as many
    ops of ``replay`` (same shapes, other draws) traced; the ratio of the
    two walls is the tracing overhead."""
    tr = ctx.tracer
    traced = tr.enabled
    jobs = JobCounter(ctx.spark) if traced else None
    done: list[tuple[dict, dict]] = []

    def one(op) -> tuple[dict | None, float | None]:
        tr.op = op["id"]
        if tr.enabled:
            jobs.begin(op["id"])
        t = time.perf_counter()
        r.attempted += 1
        try:
            got = runners[op["kind"]](op)
        except Exception:
            r.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None
        ms = (time.perf_counter() - t) * 1e3
        if tr.enabled:
            jobs.end(op["id"])
        return got, ms

    budget = ctx.seconds / 2 if traced else ctx.seconds
    tr.enabled = False
    untraced = []
    t_start = time.perf_counter()
    for k, op in enumerate(ops):
        if k and k % len(gen.PATTERN) == 0 and time.perf_counter() - t_start >= budget:
            break
        got, ms = one(op)
        untraced.append(ms)
        if ms is not None:
            r.lat_ms[op["kind"]].append(ms)
            done.append((op, got))
    r.figures["ops_per_s"] = len(done) / (time.perf_counter() - t_start)
    if traced:
        tr.enabled = True
        base = with_tracing = 0.0
        # whole passes over the pattern: every op kind, so every layer, gets spans
        for op, ms in zip(replay, untraced):
            _got, ms2 = one(op)
            if ms is not None and ms2 is not None:
                base += ms
                with_tracing += ms2
        r.layers["tracing.overhead_share"] = with_tracing / base - 1.0 if base else 0.0
        jobs.report(r)
    return done


def _dashboard_layers(tr: Tracer, r: Result) -> None:
    read_p = tr.per_op_ms("agg.read_prefix")
    align_call, align_p = tr.per_op_ms("align.call"), tr.per_op_ms("agg.align_prefix")
    ops_call, ops_p = tr.per_op_ms("operations.call"), tr.per_op_ms("agg.ops_prefix")
    r.layers["align.ms"] = median(align_call[o] + align_p[o] - read_p[o] for o in ops_p)
    r.layers["operations.ms"] = median(ops_call[o] + ops_p[o] - align_p[o] for o in ops_p)
    r.layers["align.rows_out"] = median(tr.counts["align.rows_out"])
    r.layers["operations.series_in"] = median(tr.counts["operations.series_in"])
    search_read = tr.per_op_ms("search.read_prefix")
    grouper_call, grouper_p = tr.per_op_ms("grouper.call"), tr.per_op_ms("search.grouper_prefix")
    r.layers["filters.compile_ms"] = median(tr.durations_ms("filters.compile"))
    r.layers["resources.rows_matched"] = median(tr.counts["resources.rows_matched"])
    r.layers["grouper.ms"] = median(grouper_call[o] + grouper_p[o] - search_read[o] for o in grouper_p)
    r.layers["grouper.rows_out"] = median(tr.counts["grouper.rows_out"])


# -- workload: ingest_mixed ------------------------------------------------


class SinkStats:
    """Counters shared by the streaming sinks, which run on other threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempts = 0
        self.conflicts = 0
        self.rows = 0
        self.sink_s: dict[str, float] = defaultdict(float)

    def add(self, name: str, value) -> None:
        with self.lock:
            setattr(self, name, getattr(self, name) + value)


MAX_MERGE_ATTEMPTS = 50


def merge_sink(ctx: Context, store, methods, granularity: float, name: str, stats: SinkStats):
    """foreachBatch sink: melt_rollup -> SnapshotStore.merge.  Each lost
    version race (StoreConflict) is counted and the merge retried here,
    so a lost race costs time instead of killing the query."""
    from gnocchi_spark.operators.rollup import melt_rollup
    from gnocchi_spark.operators.store import StoreConflict

    def sink(batch_df, _epoch_id):
        t = time.perf_counter()
        long = melt_rollup(batch_df, methods, granularity)
        if ctx.tracer.enabled:
            stats.add("rows", long.count())
        for attempt in range(1, MAX_MERGE_ATTEMPTS + 1):
            stats.add("attempts", 1)
            try:
                with ctx.tracer.span("store.merge"):
                    store.merge(long, max_retries=1)
                break
            except StoreConflict:
                stats.add("conflicts", 1)
                if attempt == MAX_MERGE_ATTEMPTS:
                    raise
        with stats.lock:
            stats.sink_s[name] += time.perf_counter() - t

    return sink


def _ingest_setup(ctx: Context, sizes: Sizes, raw, warmup: gen.StreamBatch, warmup_read,
                  root: str) -> dict:
    """Backfilled history at the stream granularities, then one streaming
    rollup query per stream granularity reading InfluxDB line protocol
    from a landing directory (RocksDB state) and merging into the same
    store.  The first batch is landed, processed and read here, untimed:
    it warms the stream, merge and read paths up."""
    from gnocchi_spark.session import enable_rocksdb_state
    from gnocchi_spark.sources import influxdb
    from gnocchi_spark.streaming.ingest import streaming_rollup
    from pyspark.sql import functions as F

    spark = ctx.spark
    path = os.path.join(root, "history.parquet")
    land_history(raw, path)
    b = backfill(ctx, path, os.path.join(root, "store"), one_partition=True, methods=STREAM_METHODS,
                 granularities=sizes.stream_granularities)
    store = b["store"]
    _log(ctx, "set-up: history backfilled")
    landing, staging = os.path.join(root, "landing"), os.path.join(root, "staging")
    os.makedirs(landing)
    os.makedirs(staging)
    if not enable_rocksdb_state(spark):
        raise RuntimeError("the RocksDB state store provider is not on the classpath")
    stats = SinkStats()
    lines = spark.readStream.format("text").load(landing).withColumnRenamed("value", "line")
    measures = influxdb.parse_lines(lines).select(
        F.concat_ws("/", "resource_id", "metric_name").alias("metric_id"), "ts", "value"
    )
    queries = []
    for g in sizes.stream_granularities:
        name = f"rollup{int(g)}"
        rolled = streaming_rollup(measures, list(STREAM_METHODS), g, BACK_WINDOW_S)
        queries.append(
            rolled.writeStream.outputMode("update")
            .queryName(f"{name}_{os.path.basename(root)}")
            .foreachBatch(merge_sink(ctx, store, list(STREAM_METHODS), g, name, stats))
            .option("checkpointLocation", os.path.join(root, "ckpt", name))
            .start()
        )
    _land(warmup, staging, landing, 0)
    for q in queries:
        q.processAllAvailable()
    store.vacuum()
    metric, method, span_s = warmup_read
    read_measures(ctx, store, metric, method, 60.0, *_read_window(0, span_s))

    def close():
        for q in queries:
            q.stop()

    return {"store": store, "backfill": b, "landing": landing, "staging": staging,
            "queries": queries, "stats": stats, "close": close}


def _read_window(i: int, span_s: int) -> tuple[int, int]:
    """The last ``span_s`` seconds up to the end of batch ``i``, in us."""
    stop = (END_S + (i + 1) * BATCH_S) * gen.US
    return stop - span_s * gen.US, stop


def _land(batch: gen.StreamBatch, staging: str, landing: str, i: int) -> str:
    """Write the batch beside the landing directory, then rename it in:
    the stream only ever sees complete files."""
    tmp = os.path.join(staging, f"batch-{i:05d}.txt")
    with open(tmp, "w") as f:
        f.write(batch.lines())
    dst = os.path.join(landing, f"batch-{i:05d}.txt")
    os.rename(tmp, dst)
    return dst


class _IngestOracle:
    """Reference ingest state, advanced one landed batch at a time, and
    the buckets whose inputs hold a resent duplicate or a point far
    beyond the back window (the seed's known stream defects)."""

    def __init__(self, raw: pd.DataFrame):
        self.bound = oracle.BoundIngest(block_s=max(GRANULARITIES), back_window=0)
        self.bound.ingest(raw.sort_values("seq"))
        self.suspect: dict[str, set[int]] = defaultdict(set)
        self.seen = raw.groupby(["metric_id", "ts_us"]).size()  # arrivals per (metric, ts)

    def ingest(self, batch: gen.StreamBatch) -> None:
        rows = batch.rows
        self.bound.ingest(rows)
        odd = rows[rows["kind"].isin(["resent", "far"])]
        for mid, ts in zip(odd["metric_id"], odd["ts_us"]):
            self.suspect[mid].add(int(ts))
        self.seen = self.seen.add(rows.groupby(["metric_id", "ts_us"]).size(), fill_value=0)
        for mid, ts in self.seen[self.seen > 1].index:
            self.suspect[mid].add(int(ts))

    def expect(self, metric, method, gran, start_us, stop_us):
        pts = self.bound.points[self.bound.points["metric_id"] == metric]
        idx = oracle.RollupIndex({float(gran): oracle.rollup(pts, [method], gran)})
        return idx.get_measures(metric, method, gran, start_us, stop_us)

    def explained(self, metric, gran, bucket_us) -> bool:
        g = int(gran * gen.US)
        return any(bucket_us <= t < bucket_us + g for t in self.suspect.get(metric, ()))


def run_ingest_mixed(ctx: Context) -> Result:
    sizes = SIZES["ingest_mixed"]
    r = Result()
    tr, spark = ctx.tracer, ctx.spark
    rng = _rng(ctx)
    metrics = gen.metric_ids(sizes.resources)
    start_s = END_S - sizes.history_s
    raw = gen.history(rng, metrics, start_s, END_S)
    batches = gen.stream_batches(rng, metrics, END_S, sizes.batches, BATCH_S,
                                 far_window=(start_s - 2 * gen.DAY, start_s - gen.DAY))
    methods = ("mean", "count", "last", "std")
    spans = (1800, 3600)
    read_plan = [
        [(str(rng.choice(metrics)), methods[j % len(methods)], spans[j % len(spans)])
         for j in range(READS_PER_BATCH)]
        for _ in batches
    ]

    st = _setup(ctx, lambda root: _ingest_setup(ctx, sizes, raw, batches[0], read_plan[0][0], root), r)
    check = _IngestOracle(raw)
    check.ingest(batches[0])
    store, stats, queries = st["store"], st["stats"], st["queries"]
    traced = tr.enabled
    tr.enabled = False
    budget = ctx.seconds / 2 if traced else ctx.seconds
    measures = batch_s = 0.0
    cycles: dict[bool, list[float]] = {False: [], True: []}
    committed = 0  # untraced cycles whose batch every query committed
    jobs = JobCounter(spark) if traced else None
    layer: dict[str, list[float]] = defaultdict(list)
    i, t_start, watch = 1, time.perf_counter(), None
    while i < len(batches):
        elapsed = time.perf_counter() - t_start
        last = cycles[tr.enabled][-1] / 1e3 if cycles[tr.enabled] else 0.0
        if cycles[tr.enabled] and elapsed + last > budget:
            if tr.enabled or not traced:
                break
            # second half of a traced run: the same loop, traced
            tr.enabled, t_start, watch = True, time.perf_counter(), WriteWatch(store)
        batch = batches[i]
        tr.op = f"batch{i:04d}"
        if tr.enabled:
            jobs.begin(tr.op)
        progress_before = {q.id: q.lastProgress["batchId"] for q in queries}
        sink_before = dict(stats.sink_s)
        rows_before = stats.rows
        t_cycle = time.perf_counter()
        r.attempted += 1
        ok = True
        try:
            with tr.span("batch"):
                path = _land(batch, st["staging"], st["landing"], i)
                for q in queries:
                    with tr.span("stream.process"):
                        q.processAllAvailable()
            batch_ms = (time.perf_counter() - t_cycle) * 1e3
            with tr.span("store.vacuum"):
                store.vacuum()
        except Exception:
            # a batch that never commits is a failed op; the reads still
            # run, and the oracle sees what they miss
            ok = False
            r.failed += 1
            traceback.print_exc(file=sys.stderr)
        reads = []
        for metric, method, span_s in read_plan[i]:
            lo, stop = _read_window(i, span_s)
            t = time.perf_counter()
            r.attempted += 1
            try:
                got = read_measures(ctx, store, metric, method, 60.0, lo, stop)
            except Exception:
                r.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            if not tr.enabled:
                r.lat_ms["read"].append((time.perf_counter() - t) * 1e3)
            reads.append(((metric, method, lo, stop), got))
        cycles[tr.enabled].append((time.perf_counter() - t_cycle) * 1e3)
        if tr.enabled:
            jobs.end(tr.op)
            if ok:
                _ingest_cycle_layers(ctx, st, progress_before, sink_before, rows_before, path, batch,
                                     watch, layer)
        elif ok:
            committed += 1
            r.lat_ms["batch"].append(batch_ms)
            measures += len(batch.rows)
            batch_s += batch_ms / 1e3
        _log(ctx, f"cycle {i}: {f'batch {batch_ms:.0f} ms' if ok else 'batch failed'}, "
                  f"merges {stats.attempts}, lost races {stats.conflicts}")
        # the oracle, outside the timed part of the cycle
        check.ingest(batch)
        for (metric, method, lo, hi), got in reads:
            bad = oracle.mismatched_keys(got, check.expect(metric, method, 60.0, lo, hi))
            r.checked += 1
            if bad:
                r.wrong += 1
                if not all(check.explained(metric, 60.0, b) for b in bad):
                    r.unexplained += 1
                    _log(ctx, f"unexplained mismatch: {metric} {method} {sorted(bad)[:3]}")
        i += 1
    # one client: committed cycles (land, commit, vacuum, reads) over the cycles' wall time
    r.figures["ops_per_s"] = committed / (sum(cycles[False]) / 1e3) if cycles[False] else 0.0
    for q in queries:
        if q.exception() is not None:
            _log(ctx, f"query {q.name} failed: {q.exception()}")
    st["close"]()
    r.figures["ingest_measures_per_s"] = measures / batch_s if batch_s else 0.0
    r.figures["stored_bytes_per_point"], points = _bytes_per_point(store)
    r.lost_races, r.race_attempts = stats.conflicts, stats.attempts
    r.layers["store.conflicts"] = float(stats.conflicts)
    if traced:
        r.layers["tracing.overhead_share"] = median(cycles[True]) / median(cycles[False]) - 1.0
        jobs.report(r)
        _read_layers(tr, r)
        r.layers["store.merge_ms"] = median(tr.durations_ms("store.merge"))
        row_bytes = _live(store)[1] / points
        nbytes, rows = layer.pop("_bytes", []), layer.pop("_rows", [])
        for k, v in layer.items():
            r.layers[k] = median(v)
        # bytes written per byte the cycle's rollup rows occupy once stored
        r.layers["store.write_amp"] = median(b / (n * row_bytes) for b, n in zip(nbytes, rows) if n)
        _backfill_layers(ctx, [st["backfill"]], r)
    return r


def _ingest_cycle_layers(ctx, st, progress_before, sink_before, rows_before, path, batch, watch, layer):
    """Per-layer figures of one traced cycle.  The landed file is also
    parsed in batch mode, so the source layer's output is materialised
    at its boundary."""
    from gnocchi_spark.sources import influxdb

    spark, tr, stats = ctx.spark, ctx.tracer, st["stats"]
    with tr.span("influxdb.parse"):
        n_out = influxdb.parse_lines(spark.read.text(path).withColumnRenamed("value", "line")).count()
    layer["influxdb.parse_ms"].append(tr.durations_ms("influxdb.parse")[-1])
    layer["influxdb.lines_in"].append(len(batch.rows))
    layer["influxdb.measures_out"].append(n_out)
    layer["influxdb.accept_share"].append(n_out / len(batch.rows))
    trigger, micro, dropped, state_rows, state_mb = 0.0, 0, 0, 0, 0.0
    for q in st["queries"]:
        progress = [p for p in q.recentProgress if p["batchId"] > progress_before[q.id]]
        micro += len(progress)
        name = q.name.split("_")[0]
        sink_ms = (stats.sink_s[name] - sink_before.get(name, 0.0)) * 1e3
        trigger += sum(p["durationMs"].get("triggerExecution", 0) for p in progress) - sink_ms
        for p in progress:
            dropped += sum(o.get("numRowsDroppedByWatermark", 0) for o in p.get("stateOperators", []))
        if progress and progress[-1].get("stateOperators"):
            so = progress[-1]["stateOperators"][0]
            state_rows += so.get("numRowsTotal", 0)
            state_mb += so.get("memoryUsedBytes", 0) / 2**20
    layer["stream.trigger_ms"].append(trigger / len(st["queries"]))
    layer["stream.microbatches"].append(micro)
    layer["stream.late_dropped"].append(dropped)
    layer["stream.state_rows"].append(state_rows)
    layer["stream.state_mb"].append(state_mb)
    files, nbytes, sacks = watch.delta()
    live_files, live_bytes = _live(st["store"])
    layer["store.files_written"].append(files)
    layer["store.mb_written"].append(nbytes / 2**20)
    layer["store.sacks_touched_share"].append(sacks)
    layer["store.live_files"].append(live_files)
    layer["store.live_mb"].append(live_bytes / 2**20)
    layer["_bytes"].append(nbytes)
    layer["_rows"].append(stats.rows - rows_before)


WORKLOADS = {
    "backfill": run_backfill,
    "dashboard": run_dashboard,
    "ingest_mixed": run_ingest_mixed,
}
