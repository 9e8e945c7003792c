#!/usr/bin/env python3
"""pdfspark benchmark: documents extracted per second on seeded workloads.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Runs from the root of a pdfspark checkout, in one process, closed loop
(one Spark job at a time) at ``local[<nproc>]``. ``--trace 0`` measures
the end-to-end metrics; ``--trace 1`` makes a separate traced run that
times the calls into each layer from outside the program. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. The run exits non-zero if any output is wrong.
Everything it writes goes under ``.perfbench_out/`` in the checkout.
``--smoke`` shrinks the inputs to sf0.001 size and makes one run with
every check on.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_out")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
SETUPS = 3
MIN_REPS = 3
WARMUP_REPS = 2


def pin_environment() -> dict:
    """Pin what the measured program sees; must run before pyspark
    launches its JVM. Returns the record of what was pinned."""
    for d in ("cache", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = {
        # Python workers import pdfspark from the checkout root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # the kernel's C fast paths compile into $XDG_CACHE_HOME/pdfspark
        "XDG_CACHE_HOME": os.path.join(WORK, "cache"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # (pyspark shlex-splits this)
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in (
            "--conf", f"spark.local.dir={WORK}/spark-local",
            "--conf", f"spark.sql.warehouse.dir={WORK}/warehouse",
            "--driver-java-options", f"-Djava.io.tmpdir={WORK}/tmp", "pyspark-shell",
        )),
    }
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    return {k: env[k] for k in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}


def start_session(cores: int):
    """(Re)start the Spark session at ``local[cores]``; the shuffle
    partition count stays at nproc so both levels run the same plan."""
    from pyspark.sql import SparkSession

    from pdfspark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(
        master=f"local[{cores}]", app_name="perfbench", shuffle_partitions=NPROC
    )


def ctok_in_workers(spark) -> bool:
    """Whether the ``_ctok`` C fast path loaded in every Python worker
    (one task per core). Also spawns and warms the workers."""

    def probe(batches):
        import pandas as pd

        import pdfspark.engine  # noqa: F401  (warms the generator too)
        from pdfspark.kernel.cos import _CTOK

        for b in batches:
            yield pd.DataFrame({"ok": [_CTOK is not None] * len(b)})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInPandas(probe, "ok boolean").collect()
    return all(r.ok for r in rows)


def _descendants() -> set[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def worker_rss_mb() -> float:
    """Largest peak RSS (VmHWM) of any PySpark Python worker."""
    peak = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0", 1)[0]:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def stop_everything() -> None:
    """Stop Spark and its JVM, then wait until every process this run
    started has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = _descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class Run:
    """One benchmark invocation: set-up, measurement, checks."""

    def __init__(self, wl, seed: int, seconds: float, smoke: bool):
        self.wl, self.seed, self.seconds, self.smoke = wl, seed, seconds, smoke
        self.size = "smoke" if smoke else "full"
        self.work = os.path.join(WORK, wl.name)
        self.attempted = 0
        self.failed = 0
        self.record: dict = {}

    def timed(self, spark, inp):
        """One measured job and its check → (wall seconds, wrong docs)."""
        self.wl.prepare(self.work)
        t0 = time.perf_counter()
        out = self.wl.run(spark, inp, self.work)
        wall = time.perf_counter() - t0
        wrong = self.wl.check(spark, inp, out)
        self.attempted += inp.n_docs
        self.failed += wrong
        return wall, wrong

    def setup(self, n: int):
        """Session start, seeded inputs and expected outputs, and the
        worker warm-up (spawn, kernel import), ``n`` times over →
        (spark, inputs, median set-up seconds)."""
        times, phases = [], []
        for i in range(n):
            t = [time.perf_counter()]
            spark = start_session(NPROC)
            t.append(time.perf_counter())
            inp = self.wl.make_inputs(
                self.seed, self.size, os.path.join(self.work, f"input{i}")
            )
            t.append(time.perf_counter())
            ok = ctok_in_workers(spark)
            self.record["ctok_workers"] = self.record.get("ctok_workers", True) and ok
            t.append(time.perf_counter())
            times.append(t[-1] - t[0])
            phases.append([b - a for a, b in zip(t, t[1:])])
        # per set-up: session, inputs, worker warm-up
        self.record["setup_phases_s"] = phases
        return spark, inp, statistics.median(times)

    def loop(self, spark, budget: float, min_reps: int) -> list:
        """Measured jobs, each on fresh inputs from a seed derived from
        the run's seed, so no job can reuse another's work."""
        reps, t0 = [], time.perf_counter()
        while len(reps) < min_reps or time.perf_counter() - t0 < budget:
            r = len(reps) + 1
            inp = self.wl.make_inputs(
                self.seed * 1_000_003 + r, self.size, os.path.join(self.work, f"rep{r}")
            )
            reps.append((inp.n_docs, *self.timed(spark, inp)))
        return reps

    @staticmethod
    def docs_per_s(reps) -> float:
        """Median over (docs in, wall, wrong docs) jobs."""
        return statistics.median((n - wrong) / wall for n, wall, wrong in reps)

    def end_to_end(self) -> dict:
        from perfbench import layers

        spark, inp, setup_s = self.setup(1 if self.smoke else SETUPS)
        for _ in range(0 if self.smoke else WARMUP_REPS):
            # the first jobs after set-up run cold (JIT): checked, not
            # measured; the median of three then skips one still-slow job
            self.timed(spark, inp)
        steal0, total0 = cpu_ticks()
        reps = self.loop(spark, self.seconds, 1 if self.smoke else MIN_REPS)
        steal1, total1 = cpu_ticks()
        # context for reading the figures: the share of CPU time the
        # hypervisor gave to others, and a JVM-only job that moves only
        # with the host's speed
        self.record.update(
            walls=[t for _, t, _ in reps],
            steal_share=(steal1 - steal0) / max(total1 - total0, 1),
            host_control_s=layers.host_control(spark),
        )
        return {
            "docs_per_s": (self.docs_per_s(reps), "docs/s"),
            "setup_s": (setup_s, "s"),
            "correct_doc_ratio": (
                1.0 - sum(w for _, _, w in reps) / sum(n for n, _, _ in reps), "ratio"
            ),
            "worker_rss_mb": (worker_rss_mb(), "MB"),
        }

    def traced(self) -> dict:
        from perfbench import layers

        spark, inp, _ = self.setup(1)
        metrics = layers.measure(self, spark, inp)
        # scaling: the same input at local[nproc] and at local[1]
        dps_n = self.docs_per_s(self.record["e2e_reps"])
        spark = start_session(1)
        ctok_in_workers(spark)
        dps_1 = self.docs_per_s([(inp.n_docs, *self.timed(spark, inp))])
        metrics["scaling_eff"] = (dps_n / (NPROC * dps_1), "ratio")
        return metrics


def env_record(pinned: dict) -> dict:
    import pyarrow
    import pyspark

    from pdfspark.kernel import crypt
    from pdfspark.kernel.cos import _CTOK

    return {
        "nproc": NPROC,
        "master": f"local[{NPROC}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "ctok_driver": _CTOK is not None,
        "chash_driver": getattr(crypt, "_CHASH", None) is not None,
        **pinned,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdfspark", "engine.py")):
        print(f"perfbench: no pdfspark package under {ROOT}", file=sys.stderr)
        return 2
    pinned = pin_environment()
    from perfbench.workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, args.smoke)
    run.record.update(env_record(pinned), workload=args.workload, seed=args.seed,
                      trace=args.trace, smoke=args.smoke)
    fault = None
    try:
        metrics = run.traced() if args.trace else run.end_to_end()
    except CheckFailed as e:
        fault, metrics = str(e), {}
    finally:
        stop_everything()
    correct = fault is None and run.failed == 0
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if fault is None else max(run.failed, 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    run.record.update(fault=fault, result=result)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, f"{tag}.json"), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    print("perfbench-env " + json.dumps(
        {k: run.record.get(k) for k in ("nproc", "spark", "pyarrow", "ctok_driver",
                                        "ctok_workers", "chash_driver")}))
    if fault:
        print(f"perfbench: check failed: {fault}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
