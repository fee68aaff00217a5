"""Tiny-size smoke runs of each workload in one Spark session, and the
entry point's refusal to run outside a checkout.  From the repository
root (a few minutes; the three-query ingest dominates):

    python -m pytest tsbench/tests/test_smoke.py -q
"""

import os
import shutil
import subprocess
import sys

import pytest

from tsbench import gen, workloads
from tsbench.spans import Tracer
from tsbench.workloads import GRANULARITIES, Sizes

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = {
    "backfill": Sizes(resources=2, history_s=gen.DAY),
    "dashboard": Sizes(resources=4, history_s=gen.DAY),
    # the full recipe: one query per granularity, all merging into one store
    "ingest_mixed": Sizes(resources=2, history_s=6 * gen.HOUR, batches=4,
                          stream_granularities=GRANULARITIES),
}


@pytest.fixture(scope="module")
def spark():
    from gnocchi_spark.session import get_spark

    return get_spark("tsbench-smoke")


def _run(spark, tmp_path, monkeypatch, name, traced):
    monkeypatch.setitem(workloads.SIZES, name, TINY[name])
    ctx = workloads.Context(spark, Tracer(traced), str(tmp_path), seed=5, seconds=2.0)
    return workloads.WORKLOADS[name](ctx), ctx


def test_backfill_smoke(spark, tmp_path, monkeypatch):
    r, _ = _run(spark, tmp_path, monkeypatch, "backfill", traced=False)
    assert r.attempted >= 1 and r.failed == 0
    assert r.checked == r.attempted and r.unexplained == 0
    assert r.figures["ingest_measures_per_s"] > 0


def test_dashboard_smoke_traced(spark, tmp_path, monkeypatch):
    r, ctx = _run(spark, tmp_path, monkeypatch, "dashboard", traced=True)
    assert r.failed == 0 and r.checked >= 1 and r.unexplained == 0
    assert r.lat_ms["read"] and r.figures["ops_per_s"] > 0
    names = {s["name"] for s in ctx.tracer.spans}
    # every op kind ran traced, however few ops the untraced half timed
    assert {"dedup.call", "rollup.call", "store.append", "store.compact", "store.read",
            "read.plan", "read.exec", "align.call", "operations.call", "filters.compile",
            "resources.match", "grouper.call"} <= names
    for layer in ("dedup.ms", "rollup.ms", "spark.jobs_per_op", "tracing.overhead_share"):
        assert layer in r.layers


def test_ingest_mixed_smoke_counts_store_races(spark, tmp_path, monkeypatch):
    from gnocchi_spark.operators.store import SnapshotStore

    r, ctx = _run(spark, tmp_path, monkeypatch, "ingest_mixed", traced=False)
    assert r.failed == 0 and r.checked >= 1
    # duplicates and far-late points may make reads wrong (a seed defect);
    # every wrong bucket must be one the oracle can explain that way
    assert r.unexplained == 0
    # three queries merged at least once each, and every merge attempt
    # either committed one store version or was counted as a lost race
    # (the set-up's append and compact committed versions 1 and 2)
    version = SnapshotStore(os.path.join(ctx.work, "setup", "store")).current().version
    assert r.race_attempts >= 3
    assert version - 2 == r.race_attempts - r.lost_races
    assert r.lat_ms["batch"]


def test_run_refuses_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "tsbench"), tmp_path / "tsbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "tsbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
