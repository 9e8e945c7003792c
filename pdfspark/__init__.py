"""pdfspark — a PySpark-native document extraction + training-data
analytics engine.

Reproduces WHAT agolinko/pdfparse computes (PDF object-layer
resolution + per-document extraction; see SURVEY.md) re-expressed as
an idiomatic Spark pipeline over interleaved text+media span tables,
plus the large-scale training-data operators (dedup, similarity,
text stats, multimodal plumbing) such a corpus pipeline needs.

Layout:
    kernel/   pure-Python per-document parse kernel (no Spark imports)
    codec.py  deterministic spans→PDF generator (all layout variants)
    engine.py Spark pipeline stages (synthesis → generate → extract)
    scale.py  skew salting + lineage/checkpoint + resumable runs
    ops/      dedup / ann / textstats / multimodal / relational /
              streaming operators over the corpus tables
"""

__version__ = "0.1.0"
