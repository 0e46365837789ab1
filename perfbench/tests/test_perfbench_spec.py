"""BENCHMARK.json and the per-layer map agree."""

import json
import os


def test_every_per_layer_metric_names_what_it_should_move():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(here, "layer_map.json")) as f:
        layer_map = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]} | {"failed"}
    workloads = {w["name"] for w in spec["workloads"]}
    assert [m["name"] for m in spec["per_layer"]] == list(layer_map)
    for name, entry in layer_map.items():
        assert set(entry["moves"]) <= e2e, name
        assert entry["on"] and set(entry["on"]) <= workloads, name
