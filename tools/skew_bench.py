"""Skew-handling evidence: wall-clock of the extraction pipeline over
a corpus with clustered giant documents, WITH vs WITHOUT the explicit
size-class salt.

The failure mode at 100 TB: large documents arrive clustered (crawls
group by site; dumps sort by size), so input splits inherit the skew
and AQE cannot rebalance a UDF stage. The salt is the fix this engine
carries (scale.salt_docs_by_size). This tool plants clustered giants
(~500× the span count) CLUSTERED at the head of the input order and
measures both paths. Appends the result to BENCH/BASELINE.md.

Usage: python tools/skew_bench.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def build_skewed_docs(spark, sf_dir: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    giants = (
        docs.limit(20)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.expr("repeat(text, 500)"))
    )
    # giants first + coalesce(1)→repartitionByRange keeps them
    # CLUSTERED in the leading partition(s), like a size-sorted dump
    return giants.unionByName(docs).coalesce(8)


def run(spark, docs, salted: bool) -> float:
    from pdfspark.engine import extract_flat, generate_payloads
    from pdfspark.engine import synth_spans_df
    from pdfspark.scale import salt_docs_by_size

    spans = synth_spans_df(docs)
    if salted:
        spans = salt_docs_by_size(spans, num_partitions=32)
        payloads = generate_payloads(spans, "classic", ensure=False)
    else:
        payloads = generate_payloads(spans, "classic", ensure=False)
    t0 = time.monotonic()
    extract_flat(payloads).count()
    return time.monotonic() - t0


def main() -> None:
    from pdfspark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="skew-bench")
    docs = build_skewed_docs(spark, sf_dir)
    n = docs.count()
    # warm
    run(spark, docs.limit(50), True)
    unsalted = min(run(spark, docs, False) for _ in range(2))
    salted = min(run(spark, docs, True) for _ in range(2))
    speedup = unsalted / salted
    md = f"""
### Skew evidence (clustered giants)

Corpus: `{sf_dir}` ({n} docs) + 20 giants (500× span count) CLUSTERED
at the head of the input order — the size-sorted-dump failure mode.
Identical pipeline, with vs without the explicit size-class salt
(`scale.salt_docs_by_size`; AQE cannot rebalance UDF stages):

| path | wall (s) |
|---|---|
| input partitioning as-is (skew-blind) | {unsalted:.2f} |
| size-class salted | {salted:.2f} |

Salting speedup on the skewed corpus: **{speedup:.2f}×** (giants fan
out across tasks instead of serializing the straggler partition).
"""
    print(md)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"), "a") as f:
        f.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
