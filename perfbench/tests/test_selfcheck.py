"""Determinism self-check of the benchmark, at a tiny size.

    python3 -m pytest perfbench/tests -q

The same seed must give an identical op list and an identical final-table
digest, a different seed a different one, and the metrics the benchmark
emits must carry exactly the names and units in BENCHMARK.json.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import CommitChurn, DedupSearch, table_digest  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("wl", [CommitChurn(), DedupSearch()], ids=lambda w: w.name)
def test_op_list_depends_on_seed_only(wl):
    a = wl.plan(7, 1, wl.TINY).fingerprint()
    assert a == wl.plan(7, 1, wl.TINY).fingerprint()
    assert a != wl.plan(8, 1, wl.TINY).fingerprint()


@pytest.mark.parametrize("wl", [CommitChurn(), DedupSearch()], ids=lambda w: w.name)
def test_op_order_is_the_same_for_every_seed(wl):
    def kinds(seed):
        return [op.kind for op in wl.plan(seed, 2, wl.TINY).ops]

    assert kinds(7) == kinds(8) == [k.split(":")[-1] for k in wl.ROUND * 2]


def test_cpu_per_op_takes_the_median_of_each_kind():
    r = lambda kind, cpu: SimpleNamespace(kind=kind, cpu_s=cpu)  # noqa: E731
    ops = [r("a", 1.0), r("a", 1.0), r("a", 9.0), r("b", 2.0)]
    assert run.cpu_s_per_op(ops) == (3 * 1.0 + 2.0) / 4


def test_workloads_and_command_match_benchmark_json():
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import os

    from parquetranger_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = get_spark("perfbench-selfcheck")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _churn_digest(spark, root: str, seed: int) -> dict:
    wl = CommitChurn()
    plan = wl.plan(seed, 1, wl.TINY)
    p = run.Pass(spark, plan, root, tracing.NullTracer())
    p.measure(plan, tracing.NullTracer(), tracing.NullLayers())
    assert p.warm_failed == 0 and all(r.ok for r in p.results)
    assert p.final["ok"], p.final
    rows = p.runner.table.get_full_df().select("key", "part", "val", "body").collect()
    return table_digest([tuple(r) for r in rows])


def test_final_table_digest_depends_on_seed_only(spark, tmp_path):
    a = _churn_digest(spark, str(tmp_path / "a"), 7)
    assert a == _churn_digest(spark, str(tmp_path / "b"), 7)
    assert a != _churn_digest(spark, str(tmp_path / "c"), 8)


def test_emitted_metric_names_and_units_match(spark, tmp_path):
    wl = DedupSearch()
    plan = wl.plan(7, 1, wl.TINY)
    tracer = tracing.Tracer(spark.sparkContext)
    layers = tracing.StorageLayers()
    with tracer.span("workload"):
        p = run.Pass(spark, plan, str(tmp_path / "d"), tracer)
        p.measure(plan, tracer, layers)
    assert p.final["ok"] and all(r.ok for r in p.results)
    e2e = run.end_to_end(p, 1.0)
    assert run.matches_contract(e2e, "end_to_end")
    extras = run.manifest_extras(p.runner)
    layer = run.per_layer(p, tracer, layers, {}, {"start_s": 1.0, "warmup_s": 1.0}, extras)
    assert run.matches_contract(layer, "per_layer")
