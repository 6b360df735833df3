"""Tests of the benchmark itself: the erasure verifier must flag a planted
survivor or a skipped rewrite, and the command must print every metric
BENCHMARK.json declares, with its unit.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import lakes  # noqa: E402
import verify  # noqa: E402


def _erase_parquet(lake, ids, skip=None):
    """Reference erasure with pyarrow; ``skip`` leaves one object as is."""
    for f in lakes.data_files(lake):
        t = pq.read_table(f)
        hit = pc.is_in(t["l_orderkey"], pa.array(ids))
        if pc.any(hit).as_py() and f != skip:
            pq.write_table(t.filter(pc.invert(hit)), f)


@pytest.fixture
def parquet_lake(tmp_path):
    lake = str(tmp_path / "lake")
    gen = lakes.lineitem_lake(lake, 7, rows=20_000, objects=83, batches=3,
                              batch_size=5)
    return lake, gen["batches"], verify.Expectation(lake, gen["batches"])


def test_generator_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ga = lakes.lineitem_lake(a, 3, rows=5_000, objects=83, batches=2,
                             batch_size=3)
    gb = lakes.lineitem_lake(b, 3, rows=5_000, objects=83, batches=2,
                             batch_size=3)
    assert ga == gb
    fa, fb = lakes.data_files(a), lakes.data_files(b)
    assert [os.path.relpath(p, a) for p in fa] == [
        os.path.relpath(p, b) for p in fb
    ]
    for x, y in zip(fa, fb):
        assert open(x, "rb").read() == open(y, "rb").read()


def test_verifier_accepts_a_correct_erasure(parquet_lake):
    lake, batches, exp = parquet_lake
    assert verify.check(lake, exp, []) == []
    _erase_parquet(lake, batches[0])
    assert verify.check(lake, exp, [0]) == []


def test_verifier_flags_a_planted_survivor(parquet_lake):
    lake, batches, exp = parquet_lake
    pristine = lake + "-pristine"
    shutil.copytree(lake, pristine)
    _erase_parquet(lake, batches[0])
    # plant one matched row back into a rewritten object
    for f in lakes.data_files(pristine):
        t = pq.read_table(f)
        hit = t.filter(pc.is_in(t["l_orderkey"], pa.array(batches[0])))
        if hit.num_rows:
            target = os.path.join(lake, os.path.relpath(f, pristine))
            pq.write_table(
                pa.concat_tables([pq.read_table(target), hit.slice(0, 1)]),
                target,
            )
            break
    problems = verify.check(lake, exp, [0])
    assert "1 rows still match erased ids" in problems
    assert any("rows survive" in p for p in problems)


def test_verifier_flags_a_skipped_rewrite(parquet_lake):
    lake, batches, exp = parquet_lake
    skip = next(
        f for f in lakes.data_files(lake)
        if pc.any(pc.is_in(pq.read_table(f)["l_orderkey"],
                           pa.array(batches[1]))).as_py()
    )
    _erase_parquet(lake, batches[1], skip=skip)
    assert verify.check(lake, exp, [1])


def test_verifier_flags_a_lost_bystander_row(parquet_lake):
    lake, batches, exp = parquet_lake
    _erase_parquet(lake, batches[0])
    f = lakes.data_files(lake)[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)  # drop one row no batch selected
    assert verify.check(lake, exp, [0]) == [
        f"{exp.expected([0])[0] - 1} rows survive, expected "
        f"{exp.expected([0])[0]}",
        "content checksum differs from expectation",
    ]


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout.strip().splitlines()


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_command_prints_every_metric_with_its_unit(trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)[key]
    lines = _run("needle_parquet", trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert any(
            line.startswith(m["name"] + " ") and line.endswith(
                " " + m["unit"])
            for line in lines
        )
