"""Tests of the benchmark itself (not part of the engine's tier-1 suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests copy the engine and the benchmark into a temporary
checkout, break one thing there, and require the run to fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402

SPEC = W.load_spec()
GOLDEN = W.load_golden()


@pytest.mark.parametrize("name", sorted(SPEC["workloads"]))
def test_golden_digests_rederive_from_reference_model(name):
    """golden.json is exactly what spider1_ref.crawl computes on the
    default seed's frontier; nothing in it came from an engine run."""
    assert oracle.compute(name, int(SPEC["default_seed"])) == GOLDEN[name]


def test_expected_frontier_is_seeded():
    a = W.expected_frontier(500, 10_000, 1)
    assert a == W.expected_frontier(500, 10_000, 1)
    assert a != W.expected_frontier(500, 10_000, 2)
    assert len(a) == 500 and a[0].startswith("http://h")


def test_any_digest_change_is_reported():
    gold = GOLDEN["frontier_waves"]["oracle"]
    for key in ("crawl_log", "seen", "images"):
        tampered = json.loads(json.dumps(gold))
        tampered[key]["sha256"] = "0" * 64
        assert W.compare(gold, tampered, "output") == [
            f"output.{key}: expected {gold[key]!r}, got {tampered[key]!r}"
        ]
    tampered = json.loads(json.dumps(gold))
    tampered["counters"]["deduped"] += 1
    assert W.compare(gold, tampered, "output")


def test_union_of_job_intervals():
    assert eventlog._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog._union_s([]) == 0.0


# ------------------------------------------------------------- end to end

def _checkout(tmp_path, with_engine=True):
    dst = tmp_path / "checkout"
    dst.mkdir()
    ignore = shutil.ignore_patterns("__pycache__", "*.pyc")
    shutil.copytree(HERE, dst / "perfbench", ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst / "BENCHMARK.json")
    if with_engine:
        shutil.copytree(os.path.join(ROOT, "spider_1_spark"), dst / "spider_1_spark",
                        ignore=ignore)
    return dst


def _run(checkout, workload="frontier_waves", seed=None):
    seed = SPEC["default_seed"] if seed is None else seed
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=240,
    )


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    proc = _run(_checkout(tmp_path, with_engine=False))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tampered_golden_digest_fails_the_run(tmp_path):
    checkout = _checkout(tmp_path)
    path = checkout / "perfbench" / "golden.json"
    golden = json.loads(path.read_text())
    golden["frontier_waves"]["oracle"]["crawl_log"]["sha256"] = "0" * 64
    path.write_text(json.dumps(golden))
    proc = _run(checkout)
    res = _result(proc)
    assert proc.returncode == 1
    assert res["correct"] is False and res["failed"] >= 1
    assert "output.crawl_log" in proc.stderr


def test_lighter_synthetic_web_fails_the_input_fingerprint(tmp_path):
    checkout = _checkout(tmp_path)
    webgen = checkout / "spider_1_spark" / "fixtures" / "webgen.py"
    src = webgen.read_text()
    assert "n_links = int(rng.integers(0, 6))" in src
    webgen.write_text(src.replace("n_links = int(rng.integers(0, 6))",
                                  "n_links = int(rng.integers(0, 3))"))
    proc = _run(checkout)
    res = _result(proc)
    assert proc.returncode == 1 and res["correct"] is False
    assert "fingerprint.web_sample" in proc.stderr
