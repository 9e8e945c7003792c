"""Optimization-round measurement harness (r9) — NOT the driver
contract (bench.py is frozen; this file exists so guide §1.4 noop-sink
isolation numbers have a reproducible source).

Usage:
  python bench_extra.py q <name> [<name> ...]   # noop-time queries
  python bench_extra.py stages                  # PDF pipeline stage probes
  python bench_extra.py all                     # every bench.py HEADLINE query

Reads $SPARK_GRAFT_SF_DIR (default sf1.0 — the driver's r8 measurement
scale) and $SPARK_GRAFT_CPUS like bench.py; each query is consumed with
a noop sink (computes every column, discards) and labeled via
setJobDescription. Prints one JSON line {name: best_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
REPS = int(os.environ.get("BENCH_REPS", "2"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timeit(spark, name, fn, reps=REPS):
    best = None
    for _ in range(reps):
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None or dt < best else best
        spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def stage_probes(spark):
    """Decompose the flagship roundtrip pipeline cost stage by stage."""
    import pyspark.sql.functions as F

    from pdfspark.engine import (
        extract_flat, generate_payloads, load_documents, synth_spans_df,
    )
    from pdfspark.scale import salt_docs_by_size

    out = {}
    docs = load_documents(spark, SF_DIR)
    out["scan_count"] = timeit(spark, "scan", lambda: docs.count())
    out["scan_noop"] = timeit(spark, "scan_noop", lambda: noop(docs))
    spans = synth_spans_df(docs)
    out["synth_noop"] = timeit(spark, "synth", lambda: noop(spans))
    salted = salt_docs_by_size(spans)
    out["synth_salt_noop"] = timeit(spark, "synth+salt", lambda: noop(salted))

    # Python boundary floor: ship the salted spans through a
    # mapInPandas that just counts rows (pays Arrow transfer + pandas
    # conversion, no kernel work)
    def passthrough(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    pt = salted.mapInPandas(passthrough, schema="n long")
    out["salt_boundary_noop"] = timeit(spark, "boundary", lambda: noop(pt))

    gen = generate_payloads(salt_docs_by_size(synth_spans_df(docs)),
                            "mixed", ensure=False)
    out["gen_noop"] = timeit(spark, "gen", lambda: noop(gen))
    full = extract_flat(
        generate_payloads(salt_docs_by_size(synth_spans_df(docs)),
                          "mixed", ensure=False))
    out["gen_extract_noop"] = timeit(spark, "gen+extract", lambda: noop(full))
    out["gen_extract_count"] = timeit(spark, "gen+extract cnt",
                                      lambda: full.count())
    return out


def main() -> None:
    import __spark_entry__ as se
    from pdfspark.session import get_spark

    spark = get_spark(app_name="pdfspark-bench-extra")
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    qs = se.queries()
    se.entry(spark).count()  # warm JVM + worker pool
    out = {}
    if mode == "stages":
        out = stage_probes(spark)
    else:
        if mode == "all":
            import bench
            names = bench.HEADLINE
        else:
            names = sys.argv[2:]
        for name in names:
            fn = qs[name]
            out[name] = timeit(spark, name, lambda f=fn: noop(f(spark, SF_DIR)))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
