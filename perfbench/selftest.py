"""Self-tests of the benchmark (not part of the repo's tests/ suite).

    python3 -m pytest perfbench/selftest.py -q

The file name keeps pytest's default discovery (``test_*.py``) from
collecting it with the repo's own tests; name it on the command line. The
smoke runs start a Spark JVM each (~40 s apiece at 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    # a log collector that keeps only the last 2,000 bytes must parse it
    kept = p.stdout.encode()[-2000:].decode(errors="replace")
    result = json.loads(kept.strip().splitlines()[-1])
    detail = json.loads(p.stdout.strip().splitlines()[-2])
    return result, detail


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    result, detail = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail
    assert result["attempted"] >= 1
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if trace:
        assert not detail.get("zero_counters")
        assert set(run.DETAIL_LAYER_UNITS) <= set(detail["layers"])
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_gate_fails_on_perturbed_triples(tmp_path):
    """The gold gate passes the gold itself, and fails it after one
    triple's object is changed or one triple is committed twice."""
    import pandas as pd

    saved_env = dict(os.environ)
    run.pin_environment(str(tmp_path / "work"), trace=False)
    from kgpipe.session import get_spark
    from kgpipe.sources.storage import write_triples

    wl = WORKLOADS["bulk"](str(tmp_path / "data"), 5, run.SMOKE_SIZES["bulk"])
    gold_path = os.path.join(wl.data, "fixture", "gold_triples.parquet")
    gold = pd.read_parquet(gold_path)
    spark = get_spark("perfbench-test")
    try:
        exact = str(tmp_path / "exact")
        write_triples(spark.createDataFrame(gold), exact)
        assert wl.check(spark, {"outputs": [(exact, gold_path)]})["ok"]

        bad = gold.copy()
        bad.loc[0, "obj"] = bad.loc[0, "obj"] + "x"
        perturbed = str(tmp_path / "perturbed")
        write_triples(spark.createDataFrame(bad), perturbed)
        res = wl.check(spark, {"outputs": [(perturbed, gold_path)]})
        assert not res["ok"]
        assert res["eval"]["fp"] == 1 and res["eval"]["fn"] == 1

        # P = R = 1.0 over de-duplicated keys, but one row twice
        doubled = str(tmp_path / "doubled")
        write_triples(spark.createDataFrame(
            pd.concat([gold, gold.iloc[:1]], ignore_index=True)), doubled)
        res = wl.check(spark, {"outputs": [(doubled, gold_path)]})
        assert not res["ok"]
        assert res["eval"]["fp"] == 0 and res["eval"]["fn"] == 0
        assert res["eval"]["rows"] == res["eval"]["tp"] + 1
    finally:
        run.stop_session()
        os.environ.clear()
        os.environ.update(saved_env)


def test_benchmark_json_matches_the_code():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    for w in SPEC["workloads"]:
        assert w["name"] in WORKLOADS
        # the why states the input size; keep it in step with SIZES
        size = SIZES[w["name"]]
        assert f"{size['n_convs'] * size['avg_turns'] // 1000}k turns" \
            in w["why"], w
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} \
        == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} \
        == run.PER_LAYER_UNITS
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("text,value", [
    ("2.1 s", 2.1), ("372 ms", 0.372), ("13.1 KiB", 13.1 * 1024),
    ("266", 266.0), ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n4.9 KiB (191.0 B, 512.0 B, "
     "1008.0 B (stage 6.0: task 12))", 4.9 * 1024),
])
def test_sql_metric_strings_parse(text, value):
    assert tracing.metric_value(text) == pytest.approx(value)


def test_bare_directory_fails_without_a_result(tmp_path):
    """Copied without the program, the benchmark exits non-zero and prints
    no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_data", "_work",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
