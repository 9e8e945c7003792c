"""Smoke test of the benchmark: every workload at sf0.001 size, one run,
every check on, with and without tracing.

    python3 -m pytest -q perfbench/check_smoke.py

(The file name keeps it out of the repository's default test run: each
case starts its own Spark.)
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
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["flagship", "deploy", "hard_docs"])
def test_smoke(workload, trace):
    r = bench("--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--smoke")
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    got = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        assert got["kernel.trace_identity"] == 1.0
        assert got["scale.resume.reprocessed_buckets"] == 0
        assert got["spark.failed_tasks"] == 0
        assert got["kernel.trace_overhead"] > 0 and got["scaling_eff"] > 0
    else:
        assert got["correct_doc_ratio"] == 1.0
        assert got["docs_per_s"] > 0 and got["setup_s"] > 0


def test_without_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = bench("--workload", "flagship", "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_score_counts_every_wrong_outcome():
    from perfbench.corpus import score

    expected = {0: (3, 11), 1: (2, 22), 2: (1, 33)}
    rejected = {3}
    assert score({0: (3, 11), 1: (2, 22), 2: (1, 33)}, expected, rejected, 4) == 0
    # doc 0 wrong digest, doc 1 missing, noise doc 3 produced spans
    got = {0: (3, 12), 2: (1, 33), 3: (1, 5)}
    assert score(got, expected, rejected, 4) == 3


def test_inputs_follow_the_seed(tmp_path):
    from perfbench.corpus import copies

    assert copies(5, 2, 50) == copies(5, 2, 50)
    assert copies(5, 2, 50) != copies(6, 2, 50)
    a = copies(5, 2, 50)
    # copy 1 is a word shuffle of copy 0: same words, other order
    assert [sorted(t.split()) for t in a[:50]] == [sorted(t.split()) for t in a[50:]]
    assert a[:50] != a[50:]
