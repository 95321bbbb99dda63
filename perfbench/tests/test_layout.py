"""BENCHMARK.json, the layer map and README.md name the same metrics."""

from __future__ import annotations

import json
import os
import re

from perfbench.harness import unit_of
from perfbench.layers import LAYER_MAP, WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    b = load_benchmark()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        (k, unit_of(k)) for k in LAYER_MAP]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])


def test_readme_table_matches_the_layer_map():
    with open(os.path.join(HERE, "README.md")) as f:
        section = f.read().split("## Per-layer metrics")[1]
    rows = re.findall(r"^\| `([^`]+)` \| (\S+) \| (.+?) \| (.+?) \|$", section, re.M)
    table = {name: (unit, moves, tuple(on.split(", "))) for name, unit, moves, on in rows}
    assert table == {k: (unit_of(k), e2e, wls) for k, (e2e, wls) in LAYER_MAP.items()}
