"""Tests of the benchmark's own parts.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from pbench import oracle
from pbench.inputs import base_tables, write_inputs
from pbench.workloads import HEADLINE, STREAMS, WORKLOADS, per_layer_names

ROOT = Path(__file__).resolve().parents[2]


def _digest(path: str) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def test_seeds_change_layout_not_oracle_results(tmp_path):
    from etl_loading_scripts_spark.queries import REGISTRY

    dirs, layouts = [], []
    for seed in (1, 2):
        d = str(tmp_path / f"seed{seed}")
        layouts.append(write_inputs(d, seed))
        dirs.append(d)
    for name in base_tables():
        if layouts[0][name]["rows"] > 1:
            a, b = (os.path.join(d, f"{name}.parquet") for d in dirs)
            assert _digest(a) != _digest(b), name
    # same seed, same bytes
    again = str(tmp_path / "seed1_again")
    write_inputs(again, 1)
    for name in base_tables():
        assert _digest(os.path.join(again, f"{name}.parquet")) == _digest(
            os.path.join(dirs[0], f"{name}.parquet"))

    queries = [*HEADLINE, "monthly_load_e2e", *STREAMS]
    hashes = []
    for d in dirs:
        con = oracle.connect(d)
        hashes.append({q: oracle.oracle_canon(con, REGISTRY[q].oracle) for q in queries})
        con.close()
    assert hashes[0] == hashes[1]


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_canon_is_the_correctness_tool_hash():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", ROOT / "tools" / "check_correctness.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    pdf = pd.DataFrame({"b": [2.5, None, 0.1 + 0.2], "a": ["x", "y", None],
                        "c": [3, 1, 2]})
    assert oracle.canon(pdf) == tool._canon(pdf)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    session = (
        SparkSession.builder.master("local[2]").appName("pbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .getOrCreate()
    )
    yield session
    session.stop()


def test_status_store_counts_a_shuffle(spark):
    from pbench.counters import SparkCounters

    counters = SparkCounters(spark)
    before = counters.read()
    assert spark.range(0, 10_000, 1, 2).repartition(4).count() == 10_000
    d = counters.read() - before
    # one job: a map stage (2 tasks, writes the shuffle) and a result
    # stage that reads 4 shuffle partitions and counts them (4 tasks),
    # then a final single-task stage that sums the partial counts
    assert (d.jobs, d.stages, d.tasks) == (1, 3, 2 + 4 + 1)
    assert d.shuffle_write_bytes > 0
    assert d.shuffle_read_bytes > 0
    # reading again without new work adds nothing
    assert counters.read() - before == d


def test_tree_cpu_counts_a_child_process():
    from pbench.counters import tree_cpu_s

    before = tree_cpu_s()
    # a child that spins for 0.5 s of CPU, started and reaped in between
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert 0.4 <= tree_cpu_s() - before < 5
