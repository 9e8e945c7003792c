"""Same-session cross-round A/B bench (VERDICT r2 item #1).

BENCH_r{N}.json artifacts are NOT comparable across rounds on a shared
host (r2's recorded 2× roundtrip 'regression' was host noise that a
controlled A/B contradicted). This tool makes the comparison
controlled: it checks out the PINNED previous-round commit into a
throwaway git worktree and runs the SAME query subset against the
previous and the current tree in INTERLEAVED subprocesses (prev, cur,
prev, cur, ...), best-of-N per variant, so host drift hits both sides
equally. bench.py embeds the per-query cur/prev ratio as
``vs_prev_ratio`` in the one-line JSON the driver records.

Worker mode (one subprocess = one Spark session running the subset
against ONE tree)::

    python tools/ab_bench.py --run-in <repo-or-worktree> \
        --queries a,b,c --sf /root/testdata/sf0.1 --out /tmp/t.json

Orchestrator: ``ab_compare(prev_commit, queries, sf_dir, reps)``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile


def _worker(run_in: str, names: list[str], sf_dir: str, out_path: str) -> None:
    import time

    os.chdir(run_in)
    sys.path.insert(0, run_in)
    import __spark_entry__ as se  # the TARGET tree's entry module
    from pdfspark.session import get_spark

    spark = get_spark(app_name="pdfspark-ab")
    qs = se.queries()
    # identical warmup on both sides: JVM + Python worker pool
    se.entry(spark).count()
    timings: dict[str, float] = {}
    for name in names:
        if name == "replicated_pipeline":
            # the compute-dominated surface (VERDICT r3 #6): sf0.1
            # queries are scheduler-constant-bound, so kernel-tier
            # claims need the K×-replicated full pipeline in the SAME
            # pinned-commit A/B as everything else
            try:
                from pdfspark.engine import (
                    extract_flat, generate_payloads, load_documents,
                    replicate_docs, synth_spans_df,
                )
                from pdfspark.scale import salt_docs_by_size
            except ImportError:
                continue  # surface absent in this tree
            k = int(os.environ.get("BENCH_AB_REPLICATE", "48"))
            docs = replicate_docs(load_documents(spark, sf_dir), k)
            rows = extract_flat(
                generate_payloads(
                    salt_docs_by_size(synth_spans_df(docs)), "mixed",
                    ensure=False,
                )
            )
            t0 = time.monotonic()
            rows.count()
            timings[name] = round(time.monotonic() - t0, 3)
            continue
        fn = qs.get(name)
        if fn is None:
            continue  # query absent in this tree (new this round)
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(timings, f)


def _run_once(repo_dir: str, names: list[str], sf_dir: str) -> dict[str, float]:
    out = tempfile.mktemp(suffix=".json")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_dir  # never leak the other tree's modules
    try:
        subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--run-in", repo_dir,
                "--queries", ",".join(names),
                "--sf", sf_dir,
                "--out", out,
            ],
            env=env,
            cwd=repo_dir,
            check=True,
            timeout=1800,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        with open(out) as f:
            return json.load(f)
    finally:
        if os.path.exists(out):
            os.unlink(out)


def ab_compare(
    prev_commit: str,
    names: list[str],
    sf_dir: str,
    reps: int = 3,
    repo_dir: str | None = None,
) -> dict:
    """Interleaved best-of-`reps` A/B: returns {"prev_commit", "reps",
    "prev_sec": {q: s}, "cur_sec": {q: s}, "vs_prev_ratio": {q: r}}
    with ratio = cur/prev (<1.0 means this round is faster)."""
    repo_dir = repo_dir or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wt = tempfile.mkdtemp(prefix="pdfspark-ab-")
    os.rmdir(wt)  # git worktree add wants a fresh path
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, prev_commit],
        cwd=repo_dir,
        check=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        prev_best: dict[str, float] = {}
        cur_best: dict[str, float] = {}
        for rep in range(reps):
            # interleave so slow-host windows hit both variants alike,
            # ALTERNATING which side runs first each rep — a fixed
            # order would hand the first slot a systematic cache/load
            # advantage that best-of-N cannot wash out
            order = ((wt, prev_best), (repo_dir, cur_best))
            if rep % 2:
                order = order[::-1]
            for tree, best in order:
                for q, s in _run_once(tree, names, sf_dir).items():
                    if q not in best or s < best[q]:
                        best[q] = s
        ratio = {
            q: round(cur_best[q] / prev_best[q], 3)
            for q in cur_best
            if q in prev_best and prev_best[q] > 0
        }
        return {
            "prev_commit": prev_commit,
            "reps": reps,
            "method": "interleaved-worktree-best-of-n",
            "prev_sec": prev_best,
            "cur_sec": cur_best,
            "vs_prev_ratio": ratio,
        }
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=repo_dir,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--run-in", required=False)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", required=False)
    ap.add_argument("--prev", required=False, help="orchestrate an A/B vs this commit")
    ap.add_argument("--reps", type=int, default=3)
    a = ap.parse_args()
    names = a.queries.split(",")
    if a.prev:
        print(json.dumps(ab_compare(a.prev, names, a.sf, a.reps), indent=2))
        return
    assert a.run_in and a.out, "--run-in/--out required in worker mode"
    _worker(os.path.abspath(a.run_in), names, a.sf, a.out)


if __name__ == "__main__":
    main()
