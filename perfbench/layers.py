"""The traced run: per-layer metrics, timed from outside the program.

Spark tier: the measured plan cut after each stage and written to the
``noop`` sink; a stage's self time is its prefix minus the previous
prefix. ``scale``: ``run_checkpointed`` with the null sink, the parquet
sink and a resume rerun. Kernel tier: a serial walk over a seeded
sample of the workload's documents that repeats the steps of
``kernel.extract_spans_doc`` with a clock around each layer; it must
reproduce ``kernel.extract_spans`` on every document.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pyspark.sql.functions as F

from .workloads import STAGES, CheckFailed

PREFIX_REPS = 2
E2E_REPS = 2
KERNEL_REPS = 5
KERNEL_SAMPLE = 300  # documents; hard_docs samples per slice
CONTROL_ROWS = 20_000_000


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_counts(text: str) -> tuple[int, int]:
    """(Exchange nodes, Python UDF nodes) in a formatted plan."""
    ops = re.findall(r"^\(\d+\) (\w+)", text, re.M)
    return (
        sum(1 for o in ops if o == "Exchange"),
        sum(1 for o in ops if re.search(r"Python|Pandas|Arrow", o)),
    )


def capture_checkpointed_plan(spark, wl, inp, out_dir) -> str:
    """The plan of one bucket group of ``run_checkpointed``, taken
    before its write by wrapping the sink it calls."""
    from pdfspark import scale

    seen: list[str] = []
    orig = scale.overwrite_partitions

    def wrapped(df, *a, **kw):
        if not seen:
            seen.append(plan_text(df))
        return orig(df, *a, **kw)

    scale.overwrite_partitions = wrapped
    try:
        wl.checkpointed(spark, inp, out_dir)
    finally:
        scale.overwrite_partitions = orig
    if not seen:
        raise CheckFailed("run_checkpointed wrote nothing through overwrite_partitions")
    return seen[0]


def task_counts(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    done = failed = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si:
                done += si.numCompletedTasks
                failed += si.numFailedTasks
    return done, failed


def salt_balance(spark, wl, inp) -> float:
    """max / mean over partitions of the size estimate the salt uses
    (closed form of the synthesized spans' bytes), after salting."""
    k = F.expr("CAST(ceil(length(text) / 80.0) AS BIGINT)")
    est = F.length("text") + 64 * k + 96 * F.floor(k / 3)
    salted = wl.plan(spark, inp, "salt")
    n = salted.rdd.getNumPartitions()
    per = [
        r.b
        for r in salted.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(est).alias("b")).collect()
    ]
    return max(per) / (sum(per) / n)


def host_control(spark) -> float:
    """A fixed JVM-only job: moves only with the host's speed."""
    df = spark.range(0, CONTROL_ROWS, 1, spark.sparkContext.defaultParallelism)
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.select(F.bit_xor(F.xxhash64("id"))).collect()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


# ---------------------------------------------------------------------------
# Kernel tier
# ---------------------------------------------------------------------------

KERNEL_LAYERS = ("xref", "crypt", "docmodel", "filters", "textops")


def _traced_spans(payload, settings, reading_order, infer_spaces, acc):
    """``extract_spans_doc`` step by step, adding ns per layer to acc."""
    from pdfspark.kernel import EParseError, Parser
    from pdfspark.kernel.docmodel import Document
    from pdfspark.kernel.filters import decode_stream
    from pdfspark.kernel.textops import interpret_content, split_marked_sections

    clk = time.perf_counter_ns
    t = clk()
    p = Parser(payload, settings)
    p.parse()
    acc["xref"] += clk() - t
    if p.is_encrypted:
        t = clk()
        p.unlock(b"")
        acc["crypt"] += clk() - t
    t = clk()
    doc = Document(p)
    acc["docmodel"] += clk() - t
    if p.is_encrypted and p.security.key is None:
        raise EParseError("encrypted document: password required")
    resolver = p._resolve
    t = clk()
    order = doc.struct_order() if reading_order else None
    pages = doc.pages()
    acc["docmodel"] += clk() - t
    font_cache: dict = {}
    tagged: dict = {}
    seq: list = []
    for pidx, page in enumerate(pages):
        if not page.contents:
            continue
        t = clk()
        data = b"\n".join(
            decode_stream(c.data, c.dict, resolver) for c in page.contents
        )
        acc["filters"] += clk() - t
        acc["content_bytes"] += len(data)
        t = clk()
        if order is not None:
            for mcid, seg in split_marked_sections(data):
                sps = interpret_content(
                    seg, page.resources, resolver, doc_font_cache=font_cache,
                    infer_spaces=infer_spaces,
                )
                if mcid is None:
                    seq.extend(sps)
                else:
                    tagged.setdefault((pidx, mcid), []).extend(sps)
        else:
            seq.extend(
                interpret_content(
                    data, page.resources, resolver, doc_font_cache=font_cache,
                    infer_spaces=infer_spaces,
                )
            )
        acc["textops"] += clk() - t
    if order is not None:
        ordered, emitted = [], set()
        for key in order:
            if key in tagged and key not in emitted:
                ordered.extend(tagged[key])
                emitted.add(key)
        for key in sorted(tagged):
            if key not in emitted:
                ordered.extend(tagged[key])
        seq = ordered + seq
    return [(sp[0], sp[1], sp[2], i) for i, sp in enumerate(seq)]


def traced_extract(payload, settings, reading_order, infer_spaces, acc):
    """The traced twin of ``kernel.extract_spans`` (same return)."""
    try:
        return ("ok", None, _traced_spans(
            payload, settings, reading_order, infer_spaces, acc))
    except Exception as e:  # mirrors extract_spans' per-document policy
        return ("error", f"{type(e).__name__}: {e}", [])


def kernel_sample(wl, inp, seed) -> list[int]:
    rng = np.random.default_rng([seed, 7])
    by_slice: dict = {}
    for did, s in enumerate(inp.slice_of):
        by_slice.setdefault(s, []).append(did)
    per = KERNEL_SAMPLE if len(by_slice) == 1 else max(KERNEL_SAMPLE // len(by_slice), 1)
    out = []
    for s in sorted(by_slice):
        ids = by_slice[s]
        out.extend(sorted(rng.choice(ids, size=min(per, len(ids)), replace=False).tolist()))
    return out


def kernel_walk(wl, inp, seed) -> dict:
    from pdfspark.codec import build_pdf, synth_spans_py, variant_for
    from pdfspark.kernel import ParserSettings, extract_spans

    ids = kernel_sample(wl, inp, seed)
    lenient = ParserSettings(allow_reconstruction=True)
    docs = []
    clk = time.perf_counter_ns
    synth = build = 0
    for did in ids:
        s = wl.slices[inp.slice_of[did]]
        t = clk()
        spans = synth_spans_py(str(did), inp.texts[did])
        t1 = clk()
        payload = build_pdf(str(did), spans, variant_for(did, s.variant))
        build += clk() - t1
        synth += t1 - t
        docs.append((payload, lenient if s.lenient else None, s.reading_order,
                     s.infer_spaces))
    plain, traced, layer_ns, same = [], [], [], 0
    for _ in range(KERNEL_REPS):
        t = clk()
        ref = [extract_spans(p, st, reading_order=ro, infer_spaces=sp)
               for p, st, ro, sp in docs]
        plain.append(clk() - t)
        acc: Counter = Counter()
        t = clk()
        got = [traced_extract(p, st, ro, sp, acc) for p, st, ro, sp in docs]
        traced.append(clk() - t)
        layer_ns.append(acc)
        same += sum(1 for a, b in zip(ref, got) if a == b)
    n = len(docs)
    identity = same / (n * KERNEL_REPS)
    if identity != 1.0:
        raise CheckFailed(f"traced kernel walk differs from extract_spans on "
                          f"{n * KERNEL_REPS - same} of {n * KERNEL_REPS} documents")
    ms = lambda ns: ns / 1e6 / n  # noqa: E731
    out = {
        "codec.synth.ms": (ms(synth), "ms/doc"),
        "codec.build_pdf.ms": (ms(build), "ms/doc"),
    }
    for layer in KERNEL_LAYERS:
        out[f"kernel.{layer}.ms"] = (
            ms(statistics.median(a[layer] for a in layer_ns)), "ms/doc")
    out.update({
        "kernel.payload_bytes": (sum(len(d[0]) for d in docs) / n, "B/doc"),
        "kernel.content_bytes": (layer_ns[0]["content_bytes"] / n, "B/doc"),
        "kernel.spans": (sum(len(r[2]) for r in ref) / n, "spans/doc"),
        "kernel.trace_identity": (identity, "ratio"),
        "kernel.trace_overhead": (
            statistics.median(t / p for t, p in zip(traced, plain)), "ratio"),
    })
    return out


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------


def measure(run, spark, inp) -> dict:
    wl, work = run.wl, run.work
    out_dir = os.path.join(work, "trace_out")
    # plan shape first: explain before any action on the plan
    jf = wl.job_frame(spark, inp)
    if jf is not None:
        plan = plan_text(jf)
    else:
        shutil.rmtree(out_dir, ignore_errors=True)
        plan = capture_checkpointed_plan(spark, wl, inp, out_dir)
    with open(os.path.join(os.path.dirname(work), f"{wl.name}-seed{run.seed}.plan.txt"),
              "w") as f:
        f.write(plan)
    exchanges, udfs = plan_counts(plan)

    prefix = {s: [] for s in STAGES}
    for _ in range(PREFIX_REPS):
        for s in STAGES:
            prefix[s].append(_noop(wl.plan(spark, inp, s)))
    p = {s: statistics.median(v) for s, v in prefix.items()}

    sc = spark.sparkContext
    reps = []
    for i in range(E2E_REPS):
        sc.setJobGroup(f"perfbench-e2e-{i}", "end-to-end job")
        reps.append((inp.n_docs, *run.timed(spark, inp)))
    sc.setJobGroup("perfbench-other", "")
    run.record["e2e_reps"] = reps
    walls = [w for _, w, _ in reps]
    tasks, failed_tasks = task_counts(spark, f"perfbench-e2e-{E2E_REPS - 1}")

    payload_bytes = (
        wl.plan(spark, inp, "generate")
        .agg(F.sum(F.length("payload")).alias("b")).collect()[0].b
    )

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    wl.checkpointed(spark, inp, out_dir, sink="null")
    null_s = time.perf_counter() - t0
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    wl.checkpointed(spark, inp, out_dir)
    parquet_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    reprocessed = wl.checkpointed(spark, inp, out_dir)
    resume_s = time.perf_counter() - t0
    if reprocessed != 0:
        raise CheckFailed(f"resume rerun reprocessed {reprocessed} buckets")
    lineage_rows = spark.read.parquet(os.path.join(out_dir, "lineage")).count()
    wl.check_lineage(spark, out_dir)

    metrics = {
        "engine.load.s": (p["load"], "s"),
        "scale.salt.s": (p["salt"] - p["load"], "s"),
        "arrow.boundary.s": (p["arrow"] - p["salt"], "s"),
        "engine.generate.s": (p["generate"] - p["arrow"], "s"),
        "engine.extract.s": (p["extract"] - p["generate"], "s"),
        "spark.unattributed_s": (statistics.median(walls) - p["extract"], "s"),
        "scale.salt.max_over_mean": (salt_balance(spark, wl, inp), "ratio"),
        "plan.exchanges": (exchanges, "count"),
        "plan.python_udfs": (udfs, "count"),
        "spark.tasks": (tasks, "count"),
        "spark.failed_tasks": (failed_tasks, "count"),
        "engine.payload_bytes": (int(payload_bytes), "bytes"),
        "engine.span_rows": (sum(n for n, _ in inp.expected.values()), "count"),
        "scale.null_sink.s": (null_s, "s"),
        "scale.sink.s": (parquet_s - null_s, "s"),
        "scale.resume.s": (resume_s, "s"),
        "scale.lineage_rows": (lineage_rows, "count"),
        "scale.resume.reprocessed_buckets": (reprocessed, "count"),
        "host.control_s": (host_control(spark), "s"),
    }
    metrics.update(kernel_walk(wl, inp, run.seed))
    run.record["prefix_s"] = prefix
    return metrics
