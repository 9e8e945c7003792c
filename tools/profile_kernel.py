"""Serial kernel profiler: generation, extraction and per-layer ms/doc.

Reads the first ``--docs`` rows of ``<sf-dir>/documents.parquet`` and
builds each payload with ``codec.variant_for(doc_id, --variant)``. The
extraction flags follow from the variant, as in the perfbench slices:
``tagged`` extracts in reading order, ``nospace`` infers spaces and
``malformed:no_startxref*`` parses leniently. No Spark.

Prints one JSON line: GEN and EXT ms/doc (best of ``--reps``) and the
kernel layers' ms/doc (best of ``--reps``) from
``perfbench.layers.traced_extract``, the traced twin the benchmark uses.
Exits 1 when that traced walk differs from ``kernel.extract_spans`` on
any document. ``--profile`` then appends a cProfile top-25 (cumulative)
of one extraction pass.

Usage:
  python tools/profile_kernel.py --sf-dir <dir> --variant nospace [--docs 500] [--reps 5] [--profile]
"""

from __future__ import annotations

import argparse
import cProfile
import json
import os
import pstats
import sys
import time
from collections import Counter

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdfspark.codec import build_pdf, synth_spans_py, variant_for  # noqa: E402
from pdfspark.kernel import ParserSettings, extract_spans  # noqa: E402
from perfbench.layers import KERNEL_LAYERS, traced_extract  # noqa: E402


def extraction_flags(variant: str):
    """(settings, reading_order, infer_spaces) for a variant's documents."""
    lenient = variant.startswith("malformed:no_startxref")
    return (
        ParserSettings(allow_reconstruction=True) if lenient else None,
        variant == "tagged",
        variant == "nospace",
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True, help="directory with documents.parquet")
    ap.add_argument("--variant", default="mixed", help="any codec.variant_for mode")
    ap.add_argument("--docs", type=int, default=500)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--profile", action="store_true")
    args = ap.parse_args()

    tbl = pq.read_table(os.path.join(args.sf_dir, "documents.parquet"),
                        columns=["doc_id", "text"]).slice(0, args.docs)
    ids = tbl["doc_id"].to_pylist()
    spans = [synth_spans_py(str(d), t) for d, t in zip(ids, tbl["text"].to_pylist())]
    variants = [variant_for(d, args.variant) for d in ids]
    settings, ro, isp = extraction_flags(args.variant)
    n = len(ids)

    def gen():
        return [build_pdf(str(d), s, v) for d, s, v in zip(ids, spans, variants)]

    def ext():
        return [extract_spans(p, settings, reading_order=ro, infer_spaces=isp)
                for p in payloads]

    payloads = gen()
    ext()  # warm: imports, regex and font caches
    gen_s, ext_s, layers, mismatched = [], [], [], 0
    for _ in range(args.reps):
        t0 = time.perf_counter()
        gen()
        gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        ref = ext()
        ext_s.append(time.perf_counter() - t0)
        acc: Counter = Counter()
        got = [traced_extract(p, settings, ro, isp, acc) for p in payloads]
        layers.append(acc)
        mismatched += sum(1 for a, b in zip(ref, got) if a != b)

    ms = lambda v: round(v * 1e3 / n, 4)  # noqa: E731  seconds total -> ms/doc
    out = {
        "variant": args.variant,
        "docs": n,
        "reps": args.reps,
        "ok_docs": sum(1 for r in ref if r[0] == "ok"),
        "spans_per_doc": round(sum(len(r[2]) for r in ref) / n, 2),
        "gen.ms": ms(min(gen_s)),
        "ext.ms": ms(min(ext_s)),
    }
    for layer in KERNEL_LAYERS:
        out[f"kernel.{layer}.ms"] = ms(min(a[layer] for a in layers) / 1e9)
    out["trace_mismatches"] = mismatched
    print(json.dumps(out))

    if mismatched:
        print(f"traced walk differs from extract_spans on {mismatched} of "
              f"{n * args.reps} documents", file=sys.stderr)
        return 1
    if args.profile:
        pr = cProfile.Profile()
        pr.enable()
        ext()
        pr.disable()
        pstats.Stats(pr, stream=sys.stdout).sort_stats("cumulative").print_stats(25)
    return 0


if __name__ == "__main__":
    sys.exit(main())
