"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test runs every workload once at a tiny input size, so it
starts a Spark JVM per workload and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


def _make(kind: str, seed: int, root: str) -> str:
    rng = np.random.default_rng(seed)
    if kind == "sql_repeat":
        gen.relational_tables(rng, 0.001, root)
    elif kind == "corpus_fresh":
        wl.CorpusFresh(root, 0.2).prepare(rng, 2)
    else:
        wl.EtlIngest(root, 0.2).prepare(rng, 2)
    return gen.tree_hash(root)


def _shape(root: str) -> list:
    """Row count of every parquet file, and file count of every other
    directory (image sizes and names vary with the seed by design)."""
    import pyarrow.parquet as pq

    out = []
    for d, _, fs in os.walk(root):
        rel = os.path.relpath(d, root)
        out += [(rel, f, pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
                for f in fs if f.endswith(".parquet")]
        out.append((rel, "files", sum(not f.endswith(".parquet") for f in fs)))
    return sorted(out)


@pytest.mark.parametrize("kind", sorted(wl.WORKLOADS))
def test_generator_is_deterministic(kind, tmp_path):
    a = _make(kind, 5, str(tmp_path / "a"))
    b = _make(kind, 5, str(tmp_path / "b"))
    c = _make(kind, 6, str(tmp_path / "c"))
    assert a == b
    assert a != c
    assert _shape(str(tmp_path / "a")) == _shape(str(tmp_path / "c"))


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)


def test_canonical_ignores_row_order_and_sees_every_value():
    import datetime as dt

    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    a = pa.table({"k": [2, 1], "x": [0.1, 1 / 3], "t": pa.array([0, 1], ts),
                  "l": [[1], [2, 3]]})
    b = pa.table({"x": [1 / 3, 0.1], "k": [1, 2], "l": [[2, 3], [1]],
                  "t": [dt.datetime(1970, 1, 1, 0, 0, 0, 1), dt.datetime(1970, 1, 1)]})
    assert wl.canonical(a).equals(wl.canonical(b))
    assert wl.digest(wl.canonical(a)) == wl.digest(wl.canonical(b))
    c = a.set_column(1, "x", pa.array([0.1, 0.3333333333333333 + 1e-16]))
    assert not wl.canonical(a).equals(wl.canonical(c))


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("kind", sorted(wl.WORKLOADS))
def test_tiny_smoke_run_is_all_ok(kind):
    out = _run("--workload", kind, "--seed", "3", "--seconds", "1",
               "--trace", "0", "--scale", "0.2")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_frac"]["value"] == 1.0
    assert set(result["metrics"]) == set(run.END_TO_END)


def test_traced_run_prints_every_per_layer_metric():
    out = _run("--workload", "etl_ingest", "--seed", "3", "--seconds", "1",
               "--trace", "1", "--scale", "0.2")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    assert result["metrics"]["streaming.increment_s"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sql_repeat",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
