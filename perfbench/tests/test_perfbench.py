"""Tests of the benchmark harness itself (not the package's tier-1 suite):

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload, traced and untraced, at a tiny size
in one local[2] session."""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402

SMOKE_SIZES = {
    "er_batch": {"n_convs": 40},
    "er_longtail": {"n_words": 40},
    "inc_serve": {"n_base": 8, "n_batches": 6, "n_new": 3, "n_changed": 1},
}


def _tree(d: Path) -> dict:
    return {p.relative_to(d): p.read_bytes()
            for p in sorted(d.rglob("*")) if p.is_file()}


def test_longtail_same_seed_same_files(tmp_path):
    a = gen.er_longtail(tmp_path / "a", 5, 40)
    b = gen.er_longtail(tmp_path / "b", 5, 40)
    c = gen.er_longtail(tmp_path / "c", 6, 40)
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)


def test_inc_serve_same_seed_same_files(tmp_path):
    kw = SMOKE_SIZES["inc_serve"]
    a = gen.inc_serve(tmp_path / "a", 5, **kw)
    b = gen.inc_serve(tmp_path / "b", 5, **kw)
    c = gen.inc_serve(tmp_path / "c", 6, **kw)
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)


def test_longtail_labels_clear_min_sessions():
    turns, truth = gen.longtail_tables(3, 50)
    said = turns[turns.role == "assistant"]
    assert (said.text.str.len() >= 30).all()
    convs: dict[str, set] = {}
    for r in said.itertuples():
        for w in r.text.split():
            convs.setdefault(w, set()).add(r.conv_id)
    labels = set(truth.surface_a) | set(truth.surface_b)
    assert all(len(convs[w]) >= 3 for w in labels)
    # a group is a word with a deletion and a transposition variant
    assert truth.is_match.sum() == 3 * 50


def test_benchmark_lists_every_layer_metric():
    from perfbench import workloads as W

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == list(W.LAYER_METRICS)


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "inc_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import host
    from session_graph_spark.session import get_spark

    host.configure_env(ROOT, tmp_path_factory.mktemp("spark"))
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_fingerprint_rejects_perturbed_clusters(spark):
    from perfbench import checks

    schema = "label string, cluster_id string"
    rows = [("kavori", "kavori"), ("kavroi", "kavori"), ("zumeta", "zumeta")]
    recorded = checks.fingerprint(3, 2, 1, spark.createDataFrame(rows, schema))
    # row order does not matter
    again = checks.fingerprint(3, 2, 1, spark.createDataFrame(rows[::-1], schema))
    assert checks.fingerprint_ok(again, recorded)
    moved = [("kavori", "kavori"), ("kavroi", "kavroi"), ("zumeta", "zumeta")]
    assert not checks.fingerprint_ok(
        checks.fingerprint(3, 2, 1, spark.createDataFrame(moved, schema)), recorded)
    relabelled = [("kavori", "kavori"), ("kavroi", "kavori"), ("zumeta", "kavori")]
    assert not checks.fingerprint_ok(
        checks.fingerprint(3, 2, 1, spark.createDataFrame(relabelled, schema)), recorded)


def test_truth_check_rejects_missing_labels_and_low_f1(spark):
    import pandas as pd

    from perfbench import checks

    truth = pd.DataFrame([("kavori", "kavroi", True), ("kavori", "zumeta", False)],
                         columns=["surface_a", "surface_b", "is_match"])
    schema = "label string, cluster_id string"
    full = spark.createDataFrame(
        [("kavori", "kavori"), ("kavroi", "kavori"), ("zumeta", "zumeta")], schema)
    assert checks.truth_problems(full, truth, 1.0) == []
    assert checks.truth_problems(full, truth, 0.5) == [f"match_f1 0.5000 < {checks.F1_FLOOR}"]
    part = spark.createDataFrame([("kavori", "kavori"), ("zumeta", "zumeta")], schema)
    assert checks.truth_problems(part, truth, 1.0) == [
        "1 planted labels have no cluster, e.g. ['kavroi']"]


def test_state_check_rejects_missing_and_stale_rows(spark):
    from perfbench import checks

    manifest = {
        "base": ["c0"],
        "batches": [{"new": ["c1"], "changed": ["c0"]}],
        "versions": {
            "c0": [{"marker": "mold", "pairs": [["kavori", "kavroi"]], "negatives": []},
                   {"marker": "mnew", "pairs": [["zumeta", "zmeta"]], "negatives": []}],
            "c1": [{"marker": "mone", "pairs": [], "negatives": []}],
        },
    }
    schema = "conv_id string, canon_label string, cluster_id string"
    good = [("c0", "mnew", "mnew"), ("c0", "zumeta", "zmeta"), ("c1", "mone", "mone")]
    assert checks.inc_state_problems(spark.createDataFrame(good, schema), manifest, 1) == []
    stale = good + [("c0", "kavroi", "kavori")]
    assert checks.inc_state_problems(spark.createDataFrame(stale, schema), manifest, 1) \
        == ["c0: rows of version 0 remain"]
    assert checks.inc_state_problems(spark.createDataFrame(good[:2], schema), manifest, 1) \
        == ["c1: missing from state"]


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", ["er_batch", "er_longtail", "inc_serve"])
def test_workload_smoke(spark, tmp_path, monkeypatch, workload, trace):
    from perfbench import workloads as W
    from perfbench.run import measure

    for k, v in SMOKE_SIZES.items():
        monkeypatch.setitem(W.SIZES, k, v)
    monkeypatch.setattr(W, "MIN_OPS", 2)
    run = W.Run(spark, workload, seed=3, seconds=0, work=tmp_path / "work",
                inputs=tmp_path / "inputs", cores=2)
    metrics = measure(run, trace, session_s=0.0)
    assert run.attempted > 0 and run.failed == 0, run.errors
    values = [m["value"] for m in metrics.values()]
    assert all(isinstance(v, (int, float)) and math.isfinite(v) for v in values), metrics
