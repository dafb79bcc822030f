"""Smoke tests of the benchmark itself: every workload at a tiny seeded
size emits every named metric with its unit and fails no operation.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(a few minutes: each workload starts its own Spark application).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]

sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.oracle import oracle_sql, parquet_edges_sql  # noqa: E402
from perfbench.workloads import count_java_traces  # noqa: E402


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_emits_every_metric(workload: str, trace: str) -> None:
    proc = _run("--workload", workload, "--seed", "1", "--seconds", "0",
                "--trace", trace, "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "failed_frac = 0 ratio" in proc.stdout


def test_refuses_without_the_program(tmp_path: Path) -> None:
    """In a directory with only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_generators_are_byte_identical_per_seed(tmp_path: Path) -> None:
    def make(d: Path, seed: int) -> list[bytes]:
        gen.edge_csv(d / "e.csv", seed, 2000)
        gen.powerlaw_parquet(d / "g.parquet", seed, 2000)
        gen.documents_parquet(d / "d.parquet", d / "v.parquet", seed, 60)
        gen.stream_batches(d / "d.parquet", d / "b", seed, 2)
        return [p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()]

    a, b, c = make(tmp_path / "a", 5), make(tmp_path / "b", 5), make(tmp_path / "c", 6)
    assert a == b
    assert a != c


def test_oracle_substitutes_source_and_cutoff() -> None:
    sql = oracle_sql("social_triangle_rs", parquet_edges_sql("x.parquet"), 777)
    assert "read_parquet('x.parquet')" in sql
    assert "src < 777 AND dst < 777" in sql
    sql = oracle_sql("triangle_replicated", parquet_edges_sql("x.parquet"), 9)
    assert "src <= 9 AND dst <= 9" in sql
    with pytest.raises(ValueError):
        oracle_sql("exact_cardinality", parquet_edges_sql("x.parquet"), 5)


def test_count_java_traces() -> None:
    err = (
        "WARN something\n"
        "java.io.FileNotFoundException: File in/*.csv does not exist\n"
        "\tat org.apache.hadoop.fs.RawLocalFileSystem.getFileStatus(X.java:1)\n"
        "\tat org.apache.hadoop.fs.FileSystem.exists(X.java:2)\n"
        "Caused by: java.lang.RuntimeException: inner\n"
        "\tat a.b.C(C.java:3)\n"
        "\t... 4 more\n"
        "py4j.protocol.Py4JJavaError: outer\n"
        "\tat x.Y(Y.java:5)\n"
    )
    assert count_java_traces(err) == 2
    assert count_java_traces("all fine\n") == 0
