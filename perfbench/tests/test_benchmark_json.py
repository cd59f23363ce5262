import json
import os

from perfbench import inputs, runner

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # every declared workload runs; pip_join runs by hand only (see README)
    assert [w["name"] for w in spec["workloads"]] == [w for w in inputs.WORKLOADS if w != "pip_join"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == runner.PER_LAYER
