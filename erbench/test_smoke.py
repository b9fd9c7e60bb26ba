"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest erbench/test_smoke.py -q

The two end-to-end tests start Spark and take a few minutes together.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_metric_tables_match_benchmark_json():
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER


def test_generator_is_seeded():
    a = gen.generate("smoke", 3)
    assert a[:3] == gen.generate("smoke", 3)[:3]
    assert a[0] != gen.generate("smoke", 4)[0]
    rows, person_ids, _, config, props = a
    assert props["rows"] == len(rows) == len(person_ids)
    assert props["unique_rows"] < props["rows"]  # the smoke shape copies records
    assert ["household_id", "first_name"] in config["merge_exact"]


def _write_outputs(tmp_path, umap, emap, n_deduped):
    for name, frame in (("unique_map", umap), ("entity_map", emap)):
        frame.to_parquet(tmp_path / f"{name}.parquet")
    pd.DataFrame({"entry_id": range(n_deduped)}).to_parquet(tmp_path / "deduped.parquet")


def test_checks_score_and_flag(tmp_path):
    inputs = tmp_path / "in"
    inputs.mkdir()
    pd.DataFrame({"entry_id": [1, 2, 3, 4]}).to_parquet(inputs / "entries.parquet")
    pd.DataFrame({"entry_id": [1, 2, 3, 4], "person_id": [7, 7, 8, 9]}).to_parquet(inputs / "truth.parquet")
    out = tmp_path / "out"
    out.mkdir()
    # clusters {1,2,3} and {4}: 3 same-cluster pairs, 1 of them same-person
    umap = pd.DataFrame({"dedupe_id": [1, 1, 1, 4], "entry_id": [1, 2, 3, 4]})
    emap = pd.DataFrame({"_unique_id": [1, 2, 3], "canon_id": [1, 1, 1], "cluster_score": [1.0] * 3})
    _write_outputs(out, umap, emap, 4)
    got = run.check_outputs(str(out), str(inputs))
    assert got["violations"] == []
    assert got["pair_precision"] == pytest.approx(1 / 3)
    assert got["pair_recall"] == 1.0

    emap.loc[0, "canon_id"] = 2  # canon 2's cluster {1} has minimum 1
    _write_outputs(out, umap.iloc[:3], emap, 3)
    bad = run.check_outputs(str(out), str(inputs))["violations"]
    assert len(bad) == 3 and "canon_id" in bad[-1]


def _bench(trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "smoke",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,  # the first run in a checkout builds
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_end_to_end_smoke(trace, kind):
    res = _bench(trace)
    # the untraced run may also start a set-up-only process (RUN_BUDGET_S)
    assert (res["correct"], res["failed"]) == (True, 0)
    assert res["attempted"] in ((1,) if trace else (1, 2))
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared(kind)
    if trace:
        assert res["metrics"]["pairs.candidates"]["value"] > 0
        assert res["metrics"]["exact_merge.relabels"]["value"] > 0
    else:
        assert res["metrics"]["wall_s"]["value"] > 0
