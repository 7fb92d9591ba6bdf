"""Fast self-test of the benchmark: tiny inputs (2,000 generated baskets,
the sf0.001 fixtures), one traced run per workload, a deliberately
corrupted output that must be caught and counted as a failure, and
BENCHMARK.json against the metrics the code reports.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from collections import Counter

import pytest

from perfbench import harness, workloads
from perfbench.inputs import BasketSpec, content_hash, generate, market_dir
from perfbench.layers import LAYER_UNITS

SEED = 7


def _run(workload: str, trace: bool, corrupt: bool = False):
    opts = harness.Options(workload, SEED, seconds=0, trace=trace, scale="tiny", corrupt=corrupt)
    return harness.execute(opts)


def test_generator_is_seeded_and_verified(tmp_path):
    spec = BasketSpec(n_baskets=500)
    assert content_hash(generate(1, spec)) == content_hash(generate(1, spec))
    assert content_hash(generate(1, spec)) != content_hash(generate(2, spec))
    d = market_dir(tmp_path, 1, spec)
    assert market_dir(tmp_path, 1, spec) == d
    with open(d / "lineitem.parquet", "r+b") as f:
        f.seek(-1, 2)
        f.write(b"\0")
    with pytest.raises(RuntimeError, match="bytes differ"):
        market_dir(tmp_path, 1, spec)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_run_is_correct_and_reports_every_layer(workload):
    result, run = _run(workload, trace=True)
    assert result["correct"], run.errors
    assert result["failed"] == 0 and result["attempted"] >= 2 * len(run.ops)
    assert set(result["metrics"]) == set(LAYER_UNITS)
    assert result["metrics"]["spark.jobs"]["value"] > 0
    json.dumps(result)
    # The declared tables behind rows_per_s are the ones the warm pass loads.
    spans = run.tracer.spans
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s["name"] != "op":
            s = by_id[s["parent"]]
        return s["attrs"]["op"]

    loads = Counter()
    for s in spans:
        if s["name"] == "sources.io.load_table" and s["pass"] == "warm0":
            loads[(op_of(s), s["attrs"]["table"])] += 1
    wl = run.workload
    declared = Counter(
        {(q, t): n for q, ts in getattr(wl, "queries", {}).items() for t, n in Counter(ts).items()}
    ) or Counter({("fit", "lineitem"): 1})
    assert loads == declared


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_corrupted_output_is_counted_as_failed(workload):
    result, run = _run(workload, trace=False, corrupt=True)
    # The dropped row is the first itemset (fim_market) or the first row
    # of the first query; on fim_market the rules check, which derives
    # the expected rules from the itemsets, fails with it.
    corrupted = "itemsets" if workload == "fim_market" else run.ops[0].name
    assert any(f"op {corrupted}: output check" in e for e in run.errors), run.errors
    assert not result["correct"]
    assert result["failed"] == len(run.errors) >= 1
    assert result["metrics"]["success_frac"]["value"] == 1 - result["failed"] / result["attempted"]
    doc = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in doc["end_to_end"]
    }


def test_benchmark_json_matches_the_code():
    doc = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in doc["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == LAYER_UNITS
