"""The benchmark's own tests: seeded inputs, metric names, output shape.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of these start Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL_STAR = gen.StarScale(
    customers=40, suppliers=10, parts=30, orders=200, lineitems=600,
    events=300, users=20, documents=60, embeddings=40, dim=8, replicas=2,
)  # fmt: skip
SMALL_ETL = gen.EtlScale(voters=150)


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _star(dirname: Path, seed: int) -> dict[str, bytes]:
    gen.star_schema(str(dirname), seed, SMALL_STAR, workloads.QUERY_TABLES)
    return _tree_bytes(dirname)


def _etl(dirname: Path, seed: int) -> dict[str, bytes]:
    gen.ncsbe_cycles(str(dirname), seed, SMALL_ETL)
    return _tree_bytes(dirname)


@pytest.mark.parametrize("make", [_star, _etl], ids=["star_schema", "ncsbe_cycles"])
def test_inputs_are_byte_identical_per_seed_and_change_with_it(tmp_path, make):
    a, b, c = make(tmp_path / "a", 7), make(tmp_path / "b", 7), make(tmp_path / "c", 8)
    assert a == b
    assert a.keys() == c.keys()
    assert a != c


def test_star_schema_replicates_fact_tables_into_part_files(tmp_path):
    info = gen.star_schema(str(tmp_path), 3, SMALL_STAR, ["orders", "lineitem", "customer"])
    assert info["orders"]["rows"] == SMALL_STAR.orders * SMALL_STAR.replicas
    assert info["customer"]["rows"] == SMALL_STAR.customers
    parts = sorted(p.name for p in (tmp_path / "lineitem.parquet").iterdir())
    assert parts == [f"part-{i:05d}.parquet" for i in range(SMALL_STAR.replicas)]


def test_ncsbe_manifests_mix_selected_and_unselected_keys(tmp_path):
    raw = gen.ncsbe_cycles(str(tmp_path), 1, SMALL_ETL)
    assert [c["files"][1:] for c in raw["cycles"]] == [
        ["VR_Snapshot_20240514.zip"],
        ["VR_Snapshot_20240514.zip", "VR_Snapshot_20241105.zip"],
    ]
    versions = json.loads((tmp_path / "cycle2" / "manifest.json").read_text())["Versions"]
    keys = [v["Key"] for v in versions]
    assert any(k.endswith("/") for k in keys)
    assert any(not v["IsLatest"] for v in versions)
    assert "other/readme.md" in keys
    assert raw["files"]["ncvoter_Statewide.zip"]["rows"] == SMALL_ETL.voters


def test_operation_order_is_seeded_permutation():
    ops = workloads.QUERY_OPS
    first = gen.permuted(ops, 5, "query_mix")
    assert first == gen.permuted(ops, 5, "query_mix")
    assert sorted(first) == sorted(ops)
    assert any(gen.permuted(ops, s, "query_mix") != first for s in range(6, 10))


def test_benchmark_json_names_match_the_metrics_printed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(UNIT.match(u) for u in [*run.END_TO_END.values(), *run.PER_LAYER.values()])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [False, True])
def test_report_ends_with_one_parseable_result_line(trace):
    units = run.PER_LAYER if trace else run.END_TO_END
    res = {
        "inputs": {"rows_in": 1},
        "passes": 2,
        "pass_times": [2.0, 1.0],
        "op_times": {"a": [1.5, 0.5]},
        "failures": [],
        "failed": 0,
        "attempted": 4,
        "op_samples": 2,
        "metrics": {name: 1.25 for name in units},
    }
    lines = run.report(res, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["attempted"] == 4
    assert set(result["metrics"]) == set(units)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == units[name]
        assert isinstance(m["value"], float)
    assert any(line.startswith("metric op_p50_s") and "(n=2)" in line for line in lines) == (not trace)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_cycle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )  # fmt: skip
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_fixture_comparison_reads_generated_tables(tmp_path):
    import compare_fixtures

    _star(tmp_path, 2)
    s = compare_fixtures.stats(str(tmp_path))
    assert s["rows orders"] == SMALL_STAR.orders * SMALL_STAR.replicas
    assert s["vector dim"] == SMALL_STAR.dim
    assert s["vocabulary (distinct tokens)"] <= len(gen.WORDS) + 1
