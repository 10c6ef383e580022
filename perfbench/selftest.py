"""Self-tests of the benchmark. Each smoke run starts a Spark session, so
the file takes a few minutes:

    python3 -m pytest perfbench/selftest.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
SIZES = gen.Sizes(lineitem=500, orders=100, customer=20, part=30, supplier=5,
                  events=200, documents=60, embeddings=30)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _lines(out: str) -> tuple[dict[str, tuple[float, str]], dict]:
    """(the ``name value unit`` lines, the final JSON object)."""
    lines = out.strip().splitlines()
    named = {}
    for line in lines[:-1]:
        parts = line.split(" ")
        if len(parts) == 3 and not line.startswith("FAILED"):
            named[parts[0]] = (float(parts[1]), parts[2])
    return named, json.loads(lines[-1])


def test_same_seed_same_bytes_other_seed_other_inputs(tmp_path):
    gen.write_lake(str(tmp_path / "a"), 7, SIZES)
    gen.write_lake(str(tmp_path / "b"), 7, SIZES)
    gen.write_lake(str(tmp_path / "c"), 8, SIZES)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert (mismatch, errors) == ([], [])
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    # every table but the two fixed dimensions depends on the seed
    assert set(differ) == set(names) - {"region.parquet", "nation.parquet"}

    for feed in (lambda s: gen.VacancyFeed(s, 200).next_week()[1], lambda s: gen.DocFeed(s, 50).next_batch()):
        assert feed(7).equals(feed(7))
        assert not feed(7).equals(feed(8))


def test_events_ts_is_nanos(tmp_path):
    import pyarrow.parquet as pq

    gen.write_lake(str(tmp_path), 1, SIZES)
    col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert col.name == "ts" and "NANOS" in str(col.logical_type).upper()


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_prints_every_metric_with_no_errors(workload):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "0", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    named, result = _lines(p.stdout)
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert named["error_rate"] == (0.0, "share")
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert m["value"] > 0
        assert named[name][1] == m["unit"]
    # nothing left behind by a run that has ended
    work = os.path.join(HERE, ".work")
    left = os.listdir(work) if os.path.isdir(work) else []
    assert not [d for d in left if not run._alive(int(run._OWNED.search(d).group(1)))]


@pytest.mark.parametrize("workload", ["analyst", "lake_maintenance"])
def test_trace_attributes_the_timed_ops_to_layers(workload):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "1", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    _, result = _lines(p.stdout)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.coverage"] >= 0.9
    assert m["execute.jobs"] > 0
    # engine layers plus the benchmark's own share add up to the ops' wall
    assert abs(m["trace.coverage"] * m["trace.wall_s"] + m["bench.self_s"] - m["trace.wall_s"]) <= 0.1 * m["trace.wall_s"]


def test_self_times_subtract_children():
    spans_ = [
        {"layer": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"layer": "b", "start": 1.0, "end": 4.0, "parent": 0},
        {"layer": "c", "start": 3.0, "end": 6.0, "parent": 0},
        {"layer": "d", "start": 1.5, "end": 2.0, "parent": 1},
    ]
    assert spans.self_times(spans_) == [5.0, 2.5, 3.0, 0.5]


def test_fails_without_an_engine_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench("--workload", "analyst", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert "{" not in p.stdout
