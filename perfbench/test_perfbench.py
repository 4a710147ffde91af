"""Tests for the benchmark's own record.

    python3 -m pytest perfbench -q

The last two tests start Spark (about a minute each on four cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(HERE, "layers.json")) as f:
    LAYERS = json.load(f)
END_TO_END = {m["name"]: m for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m for m in SPEC["per_layer"]}
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_names_are_well_formed_and_unique():
    names = WORKLOAD_NAMES + list(END_TO_END) + list(PER_LAYER)
    assert [n for n in names if not NAME.fullmatch(n)] == []
    assert len(names) == len(set(names))


def test_every_metric_has_a_unit_and_a_direction():
    for m in [*END_TO_END.values(), *PER_LAYER.values()]:
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    for m in END_TO_END.values():
        assert 0 < m["bound"] <= 0.25, m
    assert END_TO_END["setup_s"]["bound"] == max(m["bound"] for m in END_TO_END.values())


def test_workloads_match_the_runner():
    assert sorted(WORKLOAD_NAMES) == sorted(run.WORKLOADS)


def test_every_layer_metric_names_what_it_should_move():
    assert sorted(LAYERS) == sorted(PER_LAYER)
    for name, entry in LAYERS.items():
        assert entry["moves"] and set(entry["moves"]) <= set(END_TO_END), name
        assert entry["workloads"] and set(entry["workloads"]) <= set(WORKLOAD_NAMES), name


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("--workload", "tpch_relational", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def last_record(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_prints_exactly_the_declared_metrics(trace):
    rec = last_record(
        bench("--workload", "tpch_relational", "--seed", "3", "--seconds", "1", "--trace", trace)
    )
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1
    declared = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in rec["metrics"].items()} == {
        k: m["unit"] for k, m in declared.items()
    }
    if trace == "1":
        layer = {k: v["value"] for k, v in rec["metrics"].items()}
        assert layer["memo.gets"] == 0
        assert layer["catalog.load_table.calls"] > 0
        assert layer["construct.s"] >= layer["catalog.load_table.s"] > 0
    else:
        assert all(v["value"] > 0 for v in rec["metrics"].values())
