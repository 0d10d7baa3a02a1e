"""The benchmark's own tests: seeded generators, pinned result schema,
checks that trip on corrupted outputs, and a tiny end-to-end smoke run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, layers  # noqa: E402

CPO = pd.read_parquet(ROOT / "fixtures" / "cpo_raw.parquet")


@pytest.fixture(scope="module")
def complex_prep():
    from geocode_spark.regions import load_prepared

    return load_prepared("complex", ROOT / "fixtures" / "prepared")


# ------------------------------------------------------------ generators

def test_points_deterministic_and_seeded(complex_prep):
    a = gen.make_points(complex_prep.geoms, 2000, seed=3)
    b = gen.make_points(complex_prep.geoms, 2000, seed=3)
    c = gen.make_points(complex_prep.geoms, 2000, seed=4)
    pd.testing.assert_frame_equal(a, b)
    assert not np.allclose(a.latitude, c.latitude)
    assert sorted(a.kind.unique()) == ["beyond", "inside", "near"]


def test_pages_deterministic_and_seeded():
    a, ta = gen.make_pages(CPO, 50, seed=3)
    b, tb = gen.make_pages(CPO, 50, seed=3)
    c, _ = gen.make_pages(CPO, 50, seed=4)
    pd.testing.assert_frame_equal(a, b)
    assert ta == tb
    assert list(a.text) != list(c.text)
    assert sum(ta["counts"].values()) == ta["mentions"]


def test_pages_extractor_finds_exactly_the_planted_mentions():
    import re

    from geocode_spark.functions.udfs import UK_POSTCODE_REGEX

    pages, truth = gen.make_pages(CPO, 100, seed=5)
    found = sum(len(re.findall(UK_POSTCODE_REGEX, t.upper()))
                for t in pages.text)
    assert found == truth["mentions"]


def test_dedup_deterministic_and_seeded():
    a, ta = gen.make_dedup_corpus(400, seed=3)
    b, tb = gen.make_dedup_corpus(400, seed=3)
    c, _ = gen.make_dedup_corpus(400, seed=4)
    pd.testing.assert_frame_equal(a, b)
    assert ta == tb
    assert list(a.text) != list(c.text)
    members = [m for cl in ta["clusters"] for m in cl]
    assert len(members) == len(set(members)) == int(400 * 0.2)


def test_brute_force_keeps_first_region_by_seq():
    square = (np.array([0.0, 1, 1, 0]), np.array([0.0, 0, 1, 1]),
              np.array([0, 4]), (0.0, 0.0, 1.0, 1.0))
    geoms = {"B": square, "A": square}
    got = gen.brute_force_assign(geoms, {"B": 0, "A": 1}, [0.5], [0.5])
    assert list(got) == ["B"]


# --------------------------------------------------------- output schema

def test_benchmark_json_matches_the_metric_tables():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in layers.PER_LAYER.items()}
    assert [w["name"] for w in spec["workloads"]] == ["points", "pages"]
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def _check_result(line: str, names) -> dict:
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert set(res["metrics"]) == set(names)
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == layers.UNITS[name]
        assert isinstance(m["value"], (int, float))
    return res


# ------------------------------------------------ checks trip on corruption

def _assignment():
    out = pd.DataFrame({"row_id": np.arange(5), "region_id":
                        ["A", None, "B", "A", None]})
    return out, np.array([0, 1, 2]), np.array(["A", None, "B"], dtype=object)


def test_assignment_check_passes_and_trips():
    out, ids, want = _assignment()
    assert checks.check_assignment(out, 5, ids, want) == []
    assert checks.check_assignment(out.iloc[1:], 5, ids, want)
    dup = pd.concat([out, out.iloc[:1]])
    assert checks.check_assignment(dup, 5, ids, want)
    wrong = out.assign(region_id=["B", None, "B", "A", None])
    assert checks.check_assignment(wrong, 5, ids, want)


def test_pages_checks_trip():
    truth = {"mentions": 4, "counts": {"exact": 2, "partial": 1, "unknown": 1}}
    out = pd.DataFrame({"match_status": [1, 1, 0, 0]})
    assert checks.check_pages(out, truth) == []
    assert checks.check_pages(out.iloc[1:], truth)
    assert checks.check_pages(out.assign(match_status=[1, 1, 2, 0]), truth)
    full = pd.DataFrame({"url": ["a", "b"], "v": [1.0, None]})
    assert checks.check_resume([1, 3], [3, 1], full, full.iloc[::-1]) == []
    assert checks.check_resume([1], [1, 3], full, full)
    assert checks.check_resume([1, 3], [1, 3], full, full.assign(v=[1.0, 2.0]))


def test_cluster_check_trips():
    planted = [[0, 1], [2, 3, 4]]
    ok = pd.DataFrame({"doc_id": range(6), "cluster_id": [0, 0, 2, 2, 2, 5]})
    assert checks.check_clusters(ok, 6, planted, 1.0) == ([], 1.0)
    merged = ok.assign(cluster_id=[0, 0, 0, 0, 0, 5])
    assert checks.check_clusters(merged, 6, planted, 0.0)[0]
    split = ok.assign(cluster_id=[0, 1, 2, 2, 2, 5])
    errs, share = checks.check_clusters(split, 6, planted, 0.95)
    assert errs and share == 0.5
    assert checks.check_clusters(ok.iloc[1:], 6, planted, 0.0)[0]


def test_raised_operation_counts_as_failed_and_the_run_goes_on():
    from perfbench.workloads import Workload, median

    wl = Workload(1, ROOT, 1, 1.0)
    assert wl.attempt(lambda: 1 / 0) is None
    assert (wl.attempted, wl.failed) == (1, 1)
    assert "ZeroDivisionError" in wl.failures[0]
    assert wl.attempt(lambda x: x, 2.5) == 2.5
    assert median([None, 1.0, 3.0]) == 2.0
    with pytest.raises(RuntimeError):
        median([None])


# ------------------------------------------------------------- smoke run

@pytest.mark.parametrize("workload,trace", [
    ("points", 0), ("pages", 0), ("points", 1), ("pages", 1)])
def test_tiny_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    names = layers.PER_LAYER if trace else layers.END_TO_END
    res = _check_result(proc.stdout.strip().splitlines()[-1], names)
    if trace:
        assert res["metrics"]["trace.self_coverage"]["value"] >= 0.9


def test_refuses_to_run_without_the_library():
    bare = ROOT / ".perfbench_work" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    bench = bare / "perfbench"
    bench.mkdir(parents=True)
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "points",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
