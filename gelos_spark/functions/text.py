"""Text-analysis column builders for training-data pipelines:
language ID, quality scoring, token counting, document
fingerprinting. Everything is pure `pyspark.sql.functions` column
expressions (JVM, whole-stage codegen) so they run at scan speed with
the filter pushed into the parquet read; each has a matching ANSI-SQL
oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that"],
    "de": ["der", "und", "die", "das", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "es", "una", "que"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# a BPE-ish token pattern: word pieces, numbers, or single punctuation
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    """Lowercased whitespace tokens. The split class is Java's ``\\s``
    == ``[ \\t\\n\\x0b\\f\\r]`` (ASCII-only — \\xa0/U+2028 do NOT
    split); oracles must use that explicit class, not their own
    engine's ``\\s`` (RE2 omits \\x0b, Python adds Unicode)."""
    return F.split(F.lower(text), r"\s+")


def _marker_hits(text: Column, markers: list[str]) -> Column:
    w = words(text)
    hits = None
    for m in markers:
        h = F.size(F.filter(w, lambda x: x == F.lit(m)))
        hits = h if hits is None else hits + h
    return hits


def langid_col(text: Column) -> Column:
    """Heuristic language ID: the language whose marker-word hit count
    is highest; ties and zero-hit rows -> 'und'. Deterministic tie
    order = lexicographic language code."""
    scored = None
    best = None
    for code in sorted(LANG_MARKERS):
        hits = _marker_hits(text, LANG_MARKERS[code])
        if scored is None:
            scored, best = hits, F.lit(code)
        else:
            take = hits > scored
            scored = F.when(take, hits).otherwise(scored)
            best = F.when(take, F.lit(code)).otherwise(best)
    return F.when(scored > 0, best).otherwise(F.lit("und"))


def token_count_col(text: Column) -> Column:
    """Count of BPE-ish tokens (letters runs, digit runs, single
    punctuation) — regexp_count stays JVM-side."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN))


def word_count_col(text: Column) -> Column:
    return F.size(F.filter(words(text), lambda x: x != F.lit("")))


def quality_score_col(text: Column) -> Column:
    """Quality heuristic in [0,1]: blends length band, punctuation
    ratio, stopword ratio, mean word length band — the standard
    pre-training quality gates, as column math."""
    n_chars = F.length(text)
    n_words = word_count_col(text)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    stop_hits = _marker_hits(text, STOPWORDS_EN)
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), 1.0).otherwise(0.25)
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.3)
    stop_ratio = stop_hits.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    stop_ok = F.when(stop_ratio >= 0.02, 1.0).otherwise(0.5)
    mean_wlen = n_chars.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.4)
    return F.round((len_ok + punct_ok + stop_ok + wlen_ok) / 4.0, 6)


def fingerprint_col(text: Column) -> Column:
    """Normalized-prefix document fingerprint: md5 of the first 32
    lowercased whitespace-split words. Engine-portable (DuckDB
    computes the identical value), used for cheap exact/near-exact
    grouping before the rolling-hash/minhash passes."""
    prefix = F.concat_ws(" ", F.slice(words(text), 1, 32))
    return F.md5(F.encode(prefix, "utf-8"))


def rolling_fingerprint_ascii_col(
    text_col_name: str, n_chars: int = 128, modulus: int = (1 << 61) - 1, base: int = 257
) -> Column:
    """Character-level rolling hash over the first ``n_chars`` code
    points of the lowercased text: fold(h = (h*base + codepoint) % p),
    as pure column math via aggregate() — order-sensitive, unlike a
    bag-of-words hash. ascii() code points are identical in Spark and
    DuckDB, so the fingerprint carries an exact DuckDB oracle.
    Fold-from-0 equals reduce-from-first-element because
    0*base + c0 = c0, which is what the DuckDB list_reduce oracle
    computes."""
    return F.expr(
        f"aggregate(slice(split(substring(lower({text_col_name}), 1, {n_chars}), ''), 1, {n_chars}), "
        f"CAST(0 AS DECIMAL(38, 0)), "
        f"(acc, c) -> CAST((acc * {base} + ascii(c)) % {modulus} AS DECIMAL(38, 0)))"
    ).cast("long")


def top_terms(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 100,
    by: list[str] | str | None = None,
    min_len: int = 1,
) -> DataFrame:
    """Corpus vocabulary analysis: the k most frequent whitespace
    terms (lowercased), globally or per ``by`` group — the
    vocab-building / stopword-discovery primitive of a training-data
    pipeline. Returns (``by``..., term, n, rank) with the
    deterministic (n DESC, term ASC) order contract.

    Scale shape: explode + one hash aggregation (map-side partial
    combine collapses each partition to its distinct terms before the
    shuffle). The global top-k then goes through orderBy().limit(k) —
    Spark's distributed TakeOrdered, never a single-reducer window —
    while grouped top-k uses the per-group row_number window (one
    shuffle on the group key)."""
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by or [])
    toks = docs.select(
        *by, F.explode(words(F.col(text_col))).alias("term")
    ).where(F.length("term") >= int(min_len))
    counts = toks.groupBy(*by, "term").agg(F.count("*").alias("n"))
    if by:
        w = Window.partitionBy(*by).orderBy(F.desc("n"), F.asc("term"))
        return (
            counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .orderBy(*by, "rank")
        )
    topk = counts.orderBy(F.desc("n"), F.asc("term")).limit(int(k))
    w = Window.orderBy(F.desc("n"), F.asc("term"))  # k rows only
    return topk.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
    k: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document TF-IDF term weights — the relevance/keyword
    primitive of a training-data pipeline (quality filtering by
    distinctive terms, near-dup feature vectors, BM25-ish retrieval
    seeds). Returns (id, term, tf, df_docs, tfidf[, rank]):
    ``tf`` = term count in the document, ``df_docs`` = documents
    containing the term, smoothed sklearn-style
    ``tfidf = tf * (ln((N+1)/(df+1)) + 1)`` (never negative or zero,
    so rare-term rows survive).

    Scale shape: explode + (id, term) hash aggregation (map-side
    partial combine), a second aggregation of those rows to term
    document-frequencies, then one term-keyed equi-join — stopword
    terms are the hot keys; AQE's skew split handles them, and the
    df side is vocabulary-sized (<< corpus) so Catalyst broadcasts it
    when it fits. ``n_docs`` (corpus size) is one scalar pre-pass
    ``count()`` unless the caller passes it (resume/composition path:
    thread the known corpus size in to keep the plan fully lazy).

    ``k``: keep only each document's k highest-tfidf terms
    (tfidf DESC, term ASC — one id-keyed row_number window).
    """
    from pyspark.sql import Window

    toks = docs.select(
        id_col, F.explode(words(F.col(text_col))).alias("term")
    ).where(F.length("term") >= int(min_len))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    if n_docs is None:
        n_docs = docs.count()
    out = tf.join(dfreq, "term").select(
        id_col,
        "term",
        "tf",
        "df_docs",
        (
            F.col("tf")
            * (
                F.log(F.lit(float(n_docs) + 1.0) / (F.col("df_docs") + F.lit(1.0)))
                + F.lit(1.0)
            )
        ).alias("tfidf"),
    )
    if k is not None:
        w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
        )
    return out
