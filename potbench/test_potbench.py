"""Tests of the benchmark itself, on small configurations.

    python3 -m pytest potbench -q
"""

from __future__ import annotations

import sys
from dataclasses import replace
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import kv_workloads as kw  # noqa: E402
from layers import KV_LAYERS  # noqa: E402

SMALL = {
    "kv_mixed": replace(kw.MixedConfig(), n_pots=24, min_docs=10, max_docs=30, ops_per_client=150, setups=1),
    "kv_lease_churn": replace(
        kw.ChurnConfig(), docs_per_pot=100, lease_history=20, ops_per_client=150, setups=1
    ),
}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_counts(workload):
    """Fixed work: two traced runs of one seed commit the same
    generations, get the same 423 replies and make the same calls into
    every layer."""
    first_res, first = kw.run(workload, 7, trace=True, cfg=SMALL[workload])
    second_res, second = kw.run(workload, 7, trace=True, cfg=SMALL[workload])
    for res in (first_res, second_res):
        assert res.failed == 0 and res.checks_ok, res.problems
    assert first == second
    assert sum(first["commits"].values()) > 0
    if workload == "kv_lease_churn":
        assert first["refused"] > 0
    assert set(first_res.metrics) == set(KV_LAYERS)


@pytest.mark.parametrize("fault", ["stale-read", "lost-write"])
@pytest.mark.parametrize("workload", sorted(SMALL))
def test_injected_fault_is_reported(workload, fault):
    """A store that serves a stale read or drops a write is caught."""
    res, _ = kw.run(workload, 3, trace=False, fault=fault, cfg=SMALL[workload])
    assert res.failed > 0, f"{fault} went unnoticed"


def test_clean_run_reports_every_end_to_end_metric():
    res, _ = kw.run("kv_mixed", 3, trace=False, cfg=replace(SMALL["kv_mixed"], ops_per_client=1100, blocks=2))
    assert res.failed == 0 and res.checks_ok, res.problems
    assert set(res.metrics) == {
        "setup_s",
        "ops_per_s",
        "read_p50_ms",
        "read_p90_ms",
        "write_p50_ms",
        "write_p90_ms",
        "cpu_ms_per_op",
        "bytes_per_user_byte",
        "peak_rss_mb",
    }
    assert all(m["value"] > 0 for m in res.metrics.values())


def test_short_list_percentiles_interpolate():
    """spark_pipeline's few samples: p90 lies between the two slowest,
    and a p90 with fewer than ten samples beyond it is flagged."""
    from common import Result

    res = Result()
    res.latency("write", [float(v) for v in range(1, 9)])
    assert res.metrics["write_p50_ms"]["value"] == 4.5
    assert abs(res.metrics["write_p90_ms"]["value"] - 7.3) < 1e-9
    assert res.checks_ok and any("write_p90_ms" in p for p in res.problems)


def test_layer_units_match_benchmark_json():
    """Every per-layer metric a traced run reports is listed, and no other."""
    import json

    from layers import LAYER_UNITS

    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
