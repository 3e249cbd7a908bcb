"""BENCHMARK.json names exactly the metrics the benchmark prints."""

import json
import os

from perfbench import gen, run


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {w["name"] for w in b["workloads"]} == set(gen.PARAMS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
