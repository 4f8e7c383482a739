"""Self-tests of the crawl-cycle benchmark.

    python3 -m pytest perfbench -q

The tiny runs start Spark in a subprocess each (a minute or two apiece).
They write only under the checkout's ``.perfbench_work/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from tracer import self_times, Span  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CYCLE_SPANS = {
    "run_cycle": 1, "generate": 1, "fetch": 1, "fetched_content": 1,
    # run_cycle calls mark_generated only with generate.update.crawldb,
    # which the workloads leave at its default (off)
    "mark_generated": 0,
    "parse": 1, "materialize_parse_caches": 1, "updatedb_incremental": 1,
    "SnapshotCatalog.read": 1,
    "SnapshotCatalog.commit": 6,  # crawldb + five segment tables
}
CYCLE_LAYERS = {"cycle", "generate", "fetch", "parse", "updatedb", "catalog"}


def bench(*args: str, root: str = run.ROOT) -> tuple[int, list[str]]:
    # a process the run leaves behind (its JVM, a Python worker) is
    # re-parented to this one, where the check below sees it
    run.become_subreaper()
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    left = run.descendants()
    assert not left, f"the run left processes behind: {left}"
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def detail(lines: list[str]) -> dict:
    path = next(line.split(" ", 1)[1] for line in lines if line.startswith("detail "))
    with open(path) as f:
        return json.load(f)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_self_times_tile_the_parent():
    spans = [Span(1, "run_cycle", "cycle", 0.0, None, 0, None, end=10.0),
             Span(2, "fetch", "fetch", 1.0, 1, 0, None, end=4.0),
             Span(3, "parse", "parse", 5.0, 1, 0, None, end=9.0)]
    selfs = self_times(spans)
    assert selfs == {1: 3.0, 2: 3.0, 3: 4.0}
    assert sum(selfs.values()) == spans[0].wall


@pytest.fixture(scope="module")
def pins_path():
    os.makedirs(run.WORK, exist_ok=True)
    path = os.path.join(run.WORK, "selftest-pins.json")
    if os.path.exists(path):
        os.remove(path)
    yield path
    if os.path.exists(path):
        os.remove(path)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_emits_every_end_to_end_metric(workload, pins_path):
    code, lines = bench("--workload", workload, "--tiny", "--trace", "0", "--seconds", "1",
                        "--pins", pins_path, "--record-pins")
    assert code == 0
    res = result(lines)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for name, unit in run.END_TO_END.items():
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_traced_run_emits_every_layer_metric_and_one_span_per_layer(workload):
    code, lines = bench("--workload", workload, "--tiny", "--trace", "1")
    assert code == 0
    res = result(lines)
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.per_layer_names()
    d = detail(lines)
    traced = [c["index"] for c in d["cycles"] if c["traced"]]
    assert len(traced) == 2
    for i in traced:
        spans = [s for s in d["spans"] if s["cycle"] == i]
        names = [s["name"] for s in spans]
        assert {n: names.count(n) for n in CYCLE_SPANS} == CYCLE_SPANS
        assert {s["layer"] for s in spans} == CYCLE_LAYERS
        layers = d["cycles"][i]["layers"]
        # the spans' self times account for the traced cycle's wall time
        assert layers["cycle"]["self_sum_s"] == pytest.approx(layers["cycle"]["wall_s"])
        assert layers["cycle"]["jobs"] > layers["cycle"]["self_jobs"] > 0


def test_wrong_pinned_hashes_fail(pins_path):
    workload = "fetch_dense"
    label = f"{workload}@tiny"
    if not os.path.exists(pins_path):
        assert bench("--workload", workload, "--tiny", "--seconds", "1",
                     "--pins", pins_path, "--record-pins")[0] == 0
    with open(pins_path) as f:
        pins = json.load(f)
    good = pins[label][str(run.DEFAULT_SEED)]

    pins[label][str(run.DEFAULT_SEED)] = {**good, "crawldb": "0-0-0000000000000000"}
    with open(pins_path, "w") as f:
        json.dump(pins, f)
    code, lines = bench("--workload", workload, "--tiny", "--seconds", "1", "--pins", pins_path)
    assert code == 0
    res = result(lines)
    assert res["correct"] is False and res["failed"] == res["attempted"] >= 1

    pins[label][str(run.DEFAULT_SEED)] = {**good, "inputs": {**good["inputs"], "docs": "x"}}
    with open(pins_path, "w") as f:
        json.dump(pins, f)
    code, lines = bench("--workload", workload, "--tiny", "--seconds", "1", "--pins", pins_path)
    assert code != 0
    assert not lines or not lines[-1].startswith("{")


def test_fails_without_the_program():
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    root = os.path.join(run.WORK, "bare-checkout")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(root, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), root)
    try:
        code, lines = bench("--workload", "fetch_dense", "--seed", "1", "--seconds", "1",
                            "--trace", "0", root=root)
        assert code != 0
        assert not lines
    finally:
        shutil.rmtree(root, ignore_errors=True)
