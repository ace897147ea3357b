"""End-to-end checks of ``run.py``: layer isolation on short traced runs, and
refusal to report anything when the program is missing.

The traced runs start Spark twice and take a few minutes:
``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, out.stdout
    with open(os.path.join(HERE, "out", f"trace-{workload}-3.json")) as f:
        counts = json.load(f)["counts"]
    return {**{k: v["value"] for k, v in res["metrics"].items()}, **counts}


@pytest.fixture(scope="module")
def layers():
    return {w: _traced(w) for w in ("ingest_render", "curation_analytics")}


def test_every_layer_metric_is_reported(layers):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    for w, m in layers.items():
        assert set(m) - {"stream_jobs"} == names, w


def test_ingest_render_shuffles_almost_nothing(layers):
    ingest = layers["ingest_render"]["spark.shuffle_write_mb"]
    assert ingest < 0.1 * layers["curation_analytics"]["spark.shuffle_write_mb"]


def test_bases_are_built_only_by_curation(layers):
    assert layers["curation_analytics"]["bucketing.build_s"] > 0
    assert layers["curation_analytics"]["bucketing.tables"] >= 1
    assert layers["ingest_render"]["bucketing.build_s"] == 0
    assert layers["ingest_render"]["bucketing.tables"] == 0


def test_python_workers_and_stream_only_in_ingest_render(layers):
    assert layers["curation_analytics"]["python.rows"] == 0
    assert layers["curation_analytics"]["streaming.batches"] == 0
    assert layers["ingest_render"]["python.rows"] > 0
    assert layers["ingest_render"]["streaming.batches"] >= 1


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_render", "--seed", "1",
         "--seconds", "6", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


def test_stream_batches_count_as_eager_plan_jobs(layers):
    """The availableNow stream runs its micro-batches under its own job
    group; they still count as eager jobs of the plans layer."""
    ingest = layers["ingest_render"]
    assert ingest["stream_jobs"] >= ingest["streaming.batches"] >= 1
    assert ingest["plans.eager_jobs"] >= ingest["stream_jobs"]
    assert layers["curation_analytics"]["stream_jobs"] == 0
