"""The three workloads: their inputs, the measured job, and the check.

Every job is composed only of pdfspark's public functions
(``engine.load_documents/generate_payloads/extract_flat``,
``scale.salt_docs_by_size/run_checkpointed``). A *slice* is one group
of documents that shares a generator variant and extraction flags;
flagship and deploy have one slice, hard_docs has seven.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from . import corpus

NPROC = len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class Slice:
    name: str
    variant: str
    lenient: bool = False
    reading_order: bool = False
    infer_spaces: bool = False
    reject: bool = False  # every payload must be rejected (no spans)
    partitions: int | None = None  # salt partitions; None: the program's default

    @property
    def flags(self) -> tuple[bool, bool, bool]:
        return (self.lenient, self.reading_order, self.infer_spaces)


@dataclass
class Inputs:
    sf_dir: str
    n_docs: int
    expected: dict  # doc_id -> (n_spans, digest)
    rejected: set = field(default_factory=set)
    texts: list = field(default_factory=list)
    slice_of: list = field(default_factory=list)  # per doc_id, index into slices


PASS_SCHEMA = "doc_id bigint, text string"


def passthrough(batches):
    """Identity ``mapInPandas`` body: the cost of crossing the Arrow
    boundary with (doc_id, text) and nothing else."""
    yield from batches


def pipeline(spark, inp: Inputs, slices, upto: str = "extract"):
    """The extraction plan, cut after stage ``upto`` (one of
    ``STAGES``). Slices run their own salt and generation; slices with
    equal extraction flags share one ``extract_flat``."""
    from pdfspark.engine import extract_flat, generate_payloads, load_documents
    from pdfspark.scale import salt_docs_by_size

    docs = load_documents(spark, inp.sf_dir)
    parts: list = []
    by_flags: dict = {}
    for s in slices:
        d = docs if len(slices) == 1 else docs.where(F.col("slice") == s.name)
        d = d.select("doc_id", "text")
        if upto == "load":
            parts.append(d)
            continue
        d = salt_docs_by_size(d, num_partitions=s.partitions)
        if upto == "salt":
            parts.append(d)
            continue
        if upto == "arrow":
            parts.append(d.mapInPandas(passthrough, schema=PASS_SCHEMA))
            continue
        p = generate_payloads(d, s.variant, ensure=False)
        if upto == "generate":
            parts.append(p)
            continue
        by_flags.setdefault(s.flags, []).append(p)
    for (lenient, ro, sp), ps in by_flags.items():
        p = ps[0]
        for q in ps[1:]:
            p = p.unionByName(q)
        parts.append(
            extract_flat(p, lenient=lenient, reading_order=ro, infer_spaces=sp)
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


STAGES = ("load", "salt", "arrow", "generate", "extract")


class CheckFailed(Exception):
    """A run-level correctness fault (not attributable to one doc)."""


class Workload:
    name = ""
    slices: tuple = ()
    # the deployment surface: bucket(doc_id) groups committed in turn
    n_buckets = 8
    buckets_per_commit = 4

    def plan(self, spark, inp: Inputs, upto: str = "extract"):
        return pipeline(spark, inp, self.slices, upto)

    def make_inputs(self, seed: int, size: str, path: str) -> Inputs:
        """Seeded inputs written under ``path``; ``size`` is "full"
        (measured) or "smoke" (sf0.001-sized)."""
        raise NotImplementedError

    def prepare(self, work: str) -> None:
        """Untimed per-run preparation."""

    def run(self, spark, inp: Inputs, work: str):
        """The measured job; returns what :meth:`check` needs."""
        raise NotImplementedError

    def check(self, spark, inp: Inputs, out) -> int:
        """Number of input documents with a wrong outcome; raises
        ``CheckFailed`` for a fault of the whole run."""
        raise NotImplementedError

    def job_frame(self, spark, inp: Inputs):
        """The DataFrame whose plan is recorded (before any action)."""
        return corpus.digest_columns(self.plan(spark, inp))

    def checkpointed(self, spark, inp: Inputs, out: str, sink: str = "parquet") -> int:
        """The deployment surface over this workload's documents."""
        from pdfspark.scale import run_checkpointed

        return run_checkpointed(
            spark, inp.sf_dir, out, n_buckets=self.n_buckets, variant="mixed",
            buckets_per_commit=self.buckets_per_commit, sink=sink,
        )

    def check_lineage(self, spark, out: str) -> None:
        """Every bucket must have a ``done`` lineage row."""
        done = {
            int(r.bucket)
            for r in spark.read.parquet(os.path.join(out, "lineage"))
            .where(F.col("status") == "done").select("bucket").distinct().collect()
        }
        missing = sorted(set(range(self.n_buckets)) - done)
        if missing:
            raise CheckFailed(f"buckets without a done lineage row: {missing}")


def _collect_digests(df) -> dict:
    return {int(r.doc_id): (int(r.n), int(r.h)) for r in df.collect()}


class Flagship(Workload):
    """Seeded k× corpus, ``mixed`` layouts, salt → generate → extract
    → per-doc digest collect. Kernel-bound, read-only."""

    name = "flagship"
    slices = (Slice("mixed", "mixed"),)

    # (copies, base documents) per size
    sizes = {"full": (2, corpus.BASE_DOCS), "smoke": (1, 500)}

    def make_inputs(self, seed, size, path):
        k, n = self.sizes[size]
        texts = corpus.copies(seed, k, n)
        corpus.write_documents(path, texts, seed)
        return Inputs(path, len(texts), corpus.expected_digests(texts), texts=texts,
                      slice_of=[0] * len(texts))

    def run(self, spark, inp, work):
        return _collect_digests(self.job_frame(spark, inp))

    def check(self, spark, inp, out):
        return corpus.score(out, inp.expected, inp.rejected, inp.n_docs)


class Deploy(Flagship):
    """``scale.run_checkpointed`` with the parquet sink into a fresh
    directory (several bucket groups), then a resume rerun that must
    process nothing. Checked by reading the committed spans back and
    by a ``done`` lineage row for every bucket."""

    name = "deploy"

    sizes = {"full": (1, corpus.BASE_DOCS), "smoke": (1, 500)}

    def out_dir(self, work):
        return os.path.join(work, "deploy_out")

    def prepare(self, work):
        shutil.rmtree(self.out_dir(work), ignore_errors=True)

    def run(self, spark, inp, work):
        out = self.out_dir(work)
        first = self.checkpointed(spark, inp, out)
        resumed = self.checkpointed(spark, inp, out)
        return out, first, resumed

    def check(self, spark, inp, out):
        out_dir, first, resumed = out
        if first != self.n_buckets or resumed != 0:
            raise CheckFailed(
                f"run_checkpointed processed {first} then {resumed} buckets, "
                f"expected {self.n_buckets} then 0"
            )
        self.check_lineage(spark, out_dir)
        rows = (
            spark.read.parquet(os.path.join(out_dir, "spans"))
            .where(F.col("status") == "ok")
            .select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref")
        )
        got = _collect_digests(corpus.digest_columns(rows))
        return corpus.score(got, inp.expected, inp.rejected, inp.n_docs)

    def job_frame(self, spark, inp):
        return None  # the plan is captured from inside run_checkpointed


class HardDocs(Workload):
    """Variant slices that drive other kernel layers than ``mixed``,
    must-reject noise, and clustered giants at the head of the input."""

    name = "hard_docs"
    # One salt partition per slice, so the slices together fill the
    # cores (at the default count, seven slices would mostly measure
    # per-task overhead). The first slice carries the giants, salted
    # across the cores.
    slices = (
        Slice("filters", "filters_rotate", partitions=NPROC),
        Slice("encrypted", "encrypted", partitions=1),
        Slice("salvage", "malformed:no_startxref", lenient=True, partitions=1),
        Slice("cjk", "cjk:embedded", partitions=1),
        Slice("nospace", "nospace", infer_spaces=True, partitions=1),
        Slice("tagged", "tagged", reading_order=True, partitions=1),
        Slice("noise", "malformed:noise", reject=True, partitions=1),
    )
    GIANT_WORDS = 500 * 55  # 500x the median document (55 words)
    # (giants, then documents per slice in slice order) per size
    sizes = {
        "full": (4, (400, 150, 250, 250, 250, 250, 30)),
        "smoke": (2, (40, 20, 20, 20, 20, 20, 5)),
    }

    def make_inputs(self, seed, size, path):
        giants, per_slice = self.sizes[size]
        base = corpus.base_texts(seed, sum(per_slice))
        texts = corpus.giant_texts(seed, giants, self.GIANT_WORDS) + base[giants:]
        slice_of = [si for si, n in enumerate(per_slice) for _ in range(n)]
        names = [self.slices[si].name for si in slice_of]
        corpus.write_documents(path, texts, seed, {"slice": names})
        keep = [d for d, si in enumerate(slice_of) if not self.slices[si].reject]
        rejected = {d for d, si in enumerate(slice_of) if self.slices[si].reject}
        return Inputs(path, len(texts), corpus.expected_digests(texts, keep),
                      rejected, texts=texts, slice_of=slice_of)

    def run(self, spark, inp, work):
        return _collect_digests(self.job_frame(spark, inp))

    def check(self, spark, inp, out):
        return corpus.score(out, inp.expected, inp.rejected, inp.n_docs)


WORKLOADS = {w.name: w for w in (Flagship(), Deploy(), HardDocs())}
