"""Every metric BENCHMARK.json names comes out of a run, with its unit."""

from __future__ import annotations

import json
import os

import pytest

import run as bench_run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _finished_run(tmp_path, workload: str) -> workloads.Run:
    """A run whose measurements are made up, finished the way every
    workload finishes: set-up, then the shared gated metrics."""
    r = workloads.Run(workload, 1, 1.0, False, str(tmp_path))
    res = r.result
    res.e2e["setup_s"] = (2.5, "s")
    res.report.append(("setup_s", 2.5, "s", 3))
    res.layers["session.get_spark_s"] = (0.1, "s")
    res.attempted = 4
    r.work_cpu_s = 7.5
    r.finish([0.2, 0.3, 0.4, 0.9], 1.5, 33.5)
    return r


@pytest.mark.parametrize("workload", ["backfill", "trickle"])
def test_untraced_output_carries_every_end_to_end_metric(tmp_path, spec, workload):
    lines, out = bench_run.render(_finished_run(tmp_path, workload).result, traced=False)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert out["correct"] and out["attempted"] == 4 and out["failed"] == 0
    assert any(ln.startswith("failed_ratio") for ln in lines)
    json.dumps(out)


def test_traced_output_carries_every_per_layer_metric(tmp_path, spec):
    _, out = bench_run.render(_finished_run(tmp_path, "trickle").result, traced=True)
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_spec_matches_the_code(spec):
    assert set(bench_run.END_TO_END) == {m["name"] for m in spec["end_to_end"]}
    assert set(workloads.LAYER_UNITS) == {m["name"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_manifest_maps_every_layer_metric(spec):
    with open(os.path.join(ROOT, "perfbench", "manifest.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    layer_names = {m["name"] for m in spec["per_layer"]}
    e2e_names = {m["name"] for m in spec["end_to_end"]}
    assert set(manifest["end_to_end"]) == e2e_names
    assert set(manifest["per_layer"]) == layer_names
    reported = e2e_names | set(manifest["report_only"])
    for name, entry in manifest["per_layer"].items():
        for target in entry["moves"] + entry["still"]:
            assert target["metric"] in reported, name
            assert target["workload"] in workloads.WORKLOADS, name
    assert set(manifest["exact_at_fixed_seed"]) <= layer_names
    assert set(manifest["exact_at_fixed_seed_when_each_burst_is_one_batch"]) <= layer_names


def test_failed_check_makes_the_result_incorrect(tmp_path):
    r = _finished_run(tmp_path, "backfill")
    r.result.fail("planted")
    _, out = bench_run.render(r.result, traced=False)
    assert out["correct"] is False and out["failed"] == 1
