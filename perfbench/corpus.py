"""Seeded input corpora and their expected outputs.

The base corpus has the shape of the sf0.1 ``documents`` table: 5000
documents of 10-100 words drawn uniformly from the same 30-word
vocabulary, with the same ``lang``/``source`` columns. Each workload
takes k copies of it, and every copy gets an independent word shuffle
per document (the scheme of ``tools/gen_sf.py``), so copies have the
same lengths and unigram statistics but are not duplicates. Everything
derives from the seed: the same seed writes the same parquet bytes.

Expected outputs come from ``pdfspark.codec.synth_spans_py``, the
pure-Python twin of the engine's span synthesis. They are reduced to
one ``(n_spans, digest)`` pair per document; ``digest_columns`` computes
the same pair in Spark from extracted span rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
BASE_DOCS = 5000
SEP = "\x1f"
NULL = "\x00"


def base_texts(seed: int, n: int = BASE_DOCS) -> list[str]:
    rng = np.random.default_rng([seed, 0])
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def giant_texts(seed: int, n: int, words: int) -> list[str]:
    """``n`` documents of exactly ``words`` words each."""
    rng = np.random.default_rng([seed, 1 << 21])
    return [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), size=words))
            for _ in range(n)]


def shuffled(text: str, rng: np.random.Generator) -> str:
    words = text.split(" ")
    return " ".join(words[i] for i in rng.permutation(len(words)))


def copies(seed: int, k: int, n: int = BASE_DOCS) -> list[str]:
    """k word-shuffled copies of the seeded base corpus (copy 0 is the
    base itself), in copy-major order."""
    base = base_texts(seed, n)
    out = list(base)
    for c in range(1, k):
        rng = np.random.default_rng([seed, c])
        out.extend(shuffled(t, rng) for t in base)
    return out


def write_documents(path: str, texts: list[str], seed: int, extra=None) -> str:
    """Write ``<path>/documents.parquet`` (doc_id = row index) and
    return ``path``. ``extra`` maps column name → list of values."""
    n = len(texts)
    rng = np.random.default_rng([seed, 1 << 20])
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    cols = {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }
    for name, vals in (extra or {}).items():
        cols[name] = pa.array(vals)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "documents.parquet"))
    return path


def span_digest(spans) -> tuple[int, int]:
    """(n_spans, digest) of one document's span tuples
    ``(kind, text, media_ref, offset)``. The digest is the XOR over
    spans of the first 60 bits of md5(offset SEP kind SEP text SEP
    media_ref), with NULL standing in for a missing value — the offset
    makes it order-sensitive."""
    h = 0
    for kind, text, ref, off in spans:
        s = SEP.join(
            (str(off), kind, NULL if text is None else text, NULL if ref is None else ref)
        )
        h ^= int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    return len(spans), h


def expected_digests(texts: list[str], ids=None) -> dict[int, tuple[int, int]]:
    from pdfspark.codec import synth_spans_py

    ids = range(len(texts)) if ids is None else ids
    return {int(i): span_digest(synth_spans_py(str(i), texts[i])) for i in ids}


def digest_columns(rows):
    """Spark twin of :func:`span_digest` over flat span rows
    ``(doc_id, offset, kind, text, media_ref)`` → ``(doc_id, n, h)``."""
    import pyspark.sql.functions as F

    line = F.concat_ws(
        SEP,
        F.col("offset").cast("string"),
        F.col("kind"),
        F.coalesce(F.col("text"), F.lit(NULL)),
        F.coalesce(F.col("media_ref"), F.lit(NULL)),
    )
    h = F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("bigint")
    return rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("h")
    )


def score(got: dict, expected: dict, rejected: set, n_in: int) -> int:
    """Number of documents with a wrong outcome: an expected document
    that is missing or differs, a must-reject document that produced
    spans, or an id that was never an input."""
    wrong = sum(1 for d, v in expected.items() if got.get(d) != v)
    wrong += sum(1 for d in rejected if d in got)
    wrong += sum(1 for d in got if d not in expected and d not in rejected)
    return min(wrong, n_in)
