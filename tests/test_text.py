"""Text-analysis column builders vs pure-Python/NumPy references.

The SQL-expressible ones (langid, token_count, quality, md5 and
rolling fingerprints) are DuckDB-oracle-checked through the driver
contract; here the rolling fingerprint is pinned on the properties
that make it a fingerprint: word order and partitioning.
"""

from __future__ import annotations

import re

import pytest

import pandas as pd
from pyspark.sql import functions as F

from gelos_spark.functions import text as tx

TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",  # case-normalized == above
    "dog lazy the over jumps fox brown quick The",  # same bag, different order
    " leading whitespace token",
    "trailing whitespace token ",
    "",
    "single",
    "unicode façade naïve — ünïcödé tokens",
    " ".join(f"w{i}" for i in range(100)),  # > 128 chars: only the prefix counts
    " ".join(f"w{i}" for i in range(100))[:128],  # exactly that prefix
    "tabs\tand\nnewlines   collapse",
]


def _fingerprints(df) -> dict:
    return {
        r["doc_id"]: r["rfp"]
        for r in df.select(
            "doc_id", tx.rolling_fingerprint_ascii_col("text").alias("rfp")
        ).collect()
    }


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    )


def test_rolling_fingerprint_is_order_sensitive(spark):
    got = _fingerprints(_docs(spark))
    # same characters, different word order -> different fingerprint
    # (the property that distinguishes it from the md5 bag fingerprint)
    assert got[1] != got[2]
    assert got[0] == got[1]  # case-folded
    # a doc longer than n_chars fingerprints only its prefix
    assert got[8] == got[9]
    assert len(set(got.values())) == len(TEXTS) - 2


def test_rolling_fingerprint_partitioning_invariant(spark):
    df = _docs(spark)
    a = _fingerprints(df.coalesce(1))
    b = _fingerprints(df.repartition(7))
    assert a == b and len(a) == len(TEXTS)


def test_top_terms_brute_force_and_grouped(spark):
    """top_terms vs a pandas Counter oracle, globally and per group;
    the (n DESC, term ASC) contract makes ranks deterministic."""
    from collections import Counter

    from gelos_spark.functions.text import top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = top_terms(docs, k=10).collect()
    pdf = docs.select("text").toPandas()
    # explicit class == Java \s (the words() contract), NOT str.split()
    # whose Unicode whitespace rules differ on \xa0 and U+2028
    cnt = Counter(
        w
        for t in pdf.text.fillna("")
        for w in re.split(r"[ \t\n\x0b\f\r]+", t.lower())
        if len(w) >= 1
    )
    exp = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.term, r.n) for r in got] == exp
    assert [r.rank for r in got] == list(range(1, len(exp) + 1))

    # grouped: one independent ranking per lang bucket
    docs2 = docs.withColumn("bucket", (F.col("doc_id") % 2).cast("long"))
    grouped = top_terms(docs2, k=3, by="bucket").collect()
    by_bucket = {}
    for r in grouped:
        by_bucket.setdefault(r.bucket, []).append((r.term, r.n, r.rank))
    pdf2 = docs2.select("bucket", "text").toPandas()
    for b, rows in by_bucket.items():
        c = Counter(
            w
            for t in pdf2[pdf2.bucket == b].text.fillna("")
            for w in re.split(r"[ \t\n\x0b\f\r]+", t.lower())
            if len(w) >= 1
        )
        e = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [(t, n) for t, n, _ in rows] == e
        assert [r for _, _, r in rows] == [1, 2, 3][: len(e)]


def test_tf_idf_brute_force_and_topk(spark):
    """tf_idf vs a pure-Python reference (same explicit Java-\\s
    tokenizer), plus the per-doc top-k rank contract and the lazy
    n_docs passthrough."""
    import math
    from collections import Counter

    from gelos_spark.functions.text import tf_idf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.doc_id, r.term): (r.tf, r.df_docs, r.tfidf)
        for r in tf_idf(docs, min_len=2).collect()
    }

    pdf = docs.select("doc_id", "text").toPandas()
    tf = {
        row.doc_id: Counter(
            w
            for w in re.split(r"[ \t\n\x0b\f\r]+", (row.text or "").lower())
            if len(w) >= 2
        )
        for row in pdf.itertuples()
    }
    dfreq = Counter(t for c in tf.values() for t in c)
    n = len(pdf)
    assert len(got) == sum(len(c) for c in tf.values())
    for (d, t), (tfv, dfv, w) in got.items():
        assert tfv == tf[d][t] and dfv == dfreq[t]
        assert w == pytest.approx(
            tfv * (math.log((n + 1.0) / (dfv + 1.0)) + 1.0), abs=1e-9
        )

    # top-k: rank 1..k per doc, ordered by (tfidf DESC, term ASC)
    topk = tf_idf(docs, min_len=2, k=3).collect()
    per_doc = {}
    for r in sorted(topk, key=lambda r: (r.doc_id, r.rank)):
        per_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in per_doc.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        full = sorted(
            ((got[(d, t)][2], t) for t in tf[d]),
            key=lambda x: (-x[0], x[1]),
        )[: len(rows)]
        assert [(pytest.approx(w, abs=1e-9), t) for w, t in full] == [
            (r.tfidf, r.term) for r in rows
        ]

    # caller-supplied corpus size keeps the plan lazy and must agree
    lazy = {
        (r.doc_id, r.term): r.tfidf
        for r in tf_idf(docs, min_len=2, n_docs=n).collect()
    }
    assert lazy == {k: v[2] for k, v in got.items()}
