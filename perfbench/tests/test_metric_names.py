import json
import os
import re

import run
import workloads

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _bench():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_every_metric_name_is_well_formed():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += list(run.END_TO_END) + list(run.PER_LAYER)
    names += [f"mix.{f}_s" for f in workloads.FAMILIES]
    names += ["cycle_s", "delta_p50_s", "delta_p90_s", "mix_pass_s", "failed_op_ratio"]
    for n in names:
        assert NAME.fullmatch(n), n


def test_benchmark_json_matches_what_the_runner_prints():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
