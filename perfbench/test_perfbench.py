"""Session-free checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

- the generator is deterministic: the same seed gives byte-identical
  input files, another seed gives different ones;
- BENCHMARK.json names exactly the workloads and metrics run.py prints.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def digest(out_dir: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(out_dir):
        for fn in files:
            path = os.path.join(root, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    kwargs = {"n_batches": 20} if workload == "lake_ingest" else {}
    a = gen.generate(workload, 7, str(tmp_path / "a"), **kwargs)
    b = gen.generate(workload, 7, str(tmp_path / "b"), **kwargs)
    c = gen.generate(workload, 8, str(tmp_path / "c"), **kwargs)
    da, db, dc = (digest(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert da.keys() == dc.keys() and da != dc
    same_dir = json.loads(json.dumps(b).replace(str(tmp_path / "b"), str(tmp_path / "a")))
    assert json.loads(json.dumps(a)) == same_dir
    assert a["rates"] and c["rates"] == a["rates"]


def test_ingest_expectations_follow_the_batches(tmp_path):
    every = gen.INGEST_UPSERT_EVERY
    m = gen.ingest_inputs(3, str(tmp_path), n_batches=2 * every)
    modes = [b["mode"] for b in m["batches"]]
    assert modes[0] == "history"
    assert [i for i, x in enumerate(modes) if x == "upsert"] == [every, 2 * every]
    rows = [b["expect"]["rows"] for b in m["batches"]]
    assert rows[1] - rows[0] == m["batches"][1]["new_keys"]
    assert rows[every] == rows[every - 1]


def test_benchmark_json_matches_run_py():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
