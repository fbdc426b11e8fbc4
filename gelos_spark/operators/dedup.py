"""Deduplication family for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

These are first-class engine operators (driver brief): each has a
``queries()`` entry over the testdata ``documents``/``embeddings``
tables, SQL-expressible variants carry DuckDB oracles, and the
hash-heavy ones are verified against pure-NumPy references in
pytest.

Design notes for 100 TB scale:
  - Exact dedup is one hash-keyed groupBy (map-side combine).
  - MinHash signatures are computed in a single vectorized pandas
    UDF pass (shingles x permutations as one NumPy min-reduce); LSH
    banding turns near-dup search into an equi-join on
    (band_id, band_hash) — no O(n^2) pair generation; each band set
    is one array expression posexploded with the position as band
    id, so the plan's size does not grow with the band count; candidate
    pairs then verify exact Jaccard. The only shuffle is on band
    buckets (skew-safe: a crowded bucket means true duplicates).
  - SimHash reduces each doc to one int64; near-dup = self-join on
    bit-field bands (pigeonhole over 4 bands of 16 bits for Hamming
    distance <= 3).
  - Embedding near-dup uses the similarity operator's LSH path.
  - Every operator returns its plan and leaves no cache for the
    caller to release: a per-row frame that a self-join reads twice
    is a ``localCheckpoint(eager=False)``, computed by the first
    action on the result and freed by the context cleaner once the
    caller drops it. It is lazy only above its last shuffle: under
    AQE, making the checkpoint's RDD runs every shuffle stage beneath
    it. So ``minhash_lsh_pairs`` and ``simhash_pairs``, whose
    signature frames sit over ``_spread``'s repartition, launch one
    Spark job while the plan is built (plans/shapes.json pins the
    count). A caller that needs durability writes the result (a
    ``Pipeline.stage`` commit) or calls ``df.checkpoint()``.

The text kernels hash UTF-8 shingle and token bytes with seeded 64-bit
FNV-1a (``_fnv_ragged``) — platform-independent, reproducible. The
``portable`` twins swap it for polynomial mixes mod 2^31-1 that SQL
recomputes exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelos_spark.operators.similarity import _norm_expr

_MERSENNE = (1 << 61) - 1


def _minhash_coeffs(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-shift family coefficients: odd multipliers + offsets.
    (a*x + b) over uint64 wraparound — a bijection of Z_2^64 per hash,
    so min-over-shingles is a valid MinHash permutation, and it
    vectorizes as pure multiply+add (uint64 modulo has no SIMD path
    on x86 and was the kernel's bottleneck)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, num_hashes, dtype=np.uint64)
    return a, b


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _concat_bytes(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate byte strings -> (flat uint8 array, start offsets
    [len(chunks)+1])."""
    lens = np.fromiter((len(c) for c in chunks), dtype=np.int64, count=len(chunks))
    flat = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    starts = np.concatenate([[0], np.cumsum(lens)])
    return flat, starts


def _fnv_ragged(flat: np.ndarray, starts: np.ndarray, seed: int) -> np.ndarray:
    """FNV-1a hash of each variable-length byte span — vectorized
    across spans (the loop is over byte POSITIONS, max span length
    iterations, each step a whole-array op). Bit-identical to the
    scalar per-token FNV oracle in tests/oracles.py."""
    n = len(starts) - 1
    lens = starts[1:] - starts[:-1]
    maxlen = int(lens.max()) if n else 0
    h = np.full(n, np.uint64(_FNV_OFFSET) ^ np.uint64(seed), dtype=np.uint64)
    if maxlen == 0:
        return h
    safe = np.minimum(starts[:-1, None] + np.arange(maxlen)[None, :], len(flat) - 1)
    mat = flat[safe]  # [n, maxlen]
    mask = np.arange(maxlen)[None, :] < lens[:, None]
    with np.errstate(over="ignore"):
        for p in range(maxlen):
            m = mask[:, p]
            nh = (h ^ mat[:, p].astype(np.uint64)) * np.uint64(_FNV_PRIME)
            h = np.where(m, nh, h)
    return h


def _shingle_hashes_batch(
    texts: list[str], k: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """All k-byte-shingle FNV hashes for a batch of documents:
    (hashes, doc start offsets). Whole-doc shingle for docs shorter
    than k. The shingle FNV runs as k
    whole-batch vector steps — no per-shingle Python."""
    enc = [t.encode("utf-8", "ignore") for t in texts]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    n_sh = np.where(lens > k, lens - k + 1, 1)
    doc_starts = np.concatenate([[0], np.cumsum(n_sh)])

    flat, starts = _concat_bytes(enc)
    long_mask = lens > k
    out = np.empty(int(doc_starts[-1]), dtype=np.uint64)

    # long docs: sliding windows, FNV as k vectorized steps
    if long_mask.any():
        win_starts = [
            np.arange(starts[i], starts[i] + lens[i] - k + 1)
            for i in np.flatnonzero(long_mask)
        ]
        ws = np.concatenate(win_starts)
        h = np.full(len(ws), np.uint64(_FNV_OFFSET) ^ np.uint64(seed), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for p in range(k):
                h = (h ^ flat[ws + p].astype(np.uint64)) * np.uint64(_FNV_PRIME)
        pos = 0
        for i in np.flatnonzero(long_mask):
            c = int(n_sh[i])
            out[doc_starts[i] : doc_starts[i] + c] = h[pos : pos + c]
            pos += c
    # short docs: one whole-doc shingle each, masked-position FNV
    if (~long_mask).any():
        idx = np.flatnonzero(~long_mask)
        sub_flat, sub_starts = _concat_bytes([enc[i] for i in idx])
        hs = _fnv_ragged(sub_flat, sub_starts, seed)
        out[doc_starts[idx]] = hs
    return out, doc_starts


def minhash_batch(texts: list[str], num_hashes: int, k: int = 5, seed: int = 42) -> np.ndarray:
    """[D, num_hashes] MinHash signatures for a document batch —
    the whole batch is one shingle-hash pass + a segment-min reduce
    per permutation chunk (np.minimum.reduceat). Identical values to
    the scalar per-document oracle in tests/oracles.py."""
    sh, doc_starts = _shingle_hashes_batch(texts, k, seed)
    a, b = _minhash_coeffs(num_hashes, seed)
    d = len(texts)
    out = np.empty((d, num_hashes), dtype=np.uint64)
    seg = doc_starts[:-1]
    # small reused scratch (~4MB) computed with out= : fresh multi-MB
    # allocations page-fault pathologically slowly on virtualized
    # hosts (measured ~20MB/s here), so never allocate [H, S] at once
    chunk = max(1, min(num_hashes, int(4e6 // max(len(sh) * 8, 1)) or 1))
    buf = np.empty((chunk, len(sh)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c0 in range(0, num_hashes, chunk):
            c1 = min(c0 + chunk, num_hashes)
            v = buf[: c1 - c0]
            np.multiply(a[c0:c1, None], sh[None, :], out=v)
            np.add(v, b[c0:c1, None], out=v)
            out[:, c0:c1] = np.minimum.reduceat(v, seg, axis=1).T
    return out.astype(np.int64)


def minhash_udf(num_hashes: int = 128, k: int = 5, seed: int = 42):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        texts = text.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        sigs = minhash_batch(texts, num_hashes, k, seed)
        return pd.Series(list(sigs))

    return _sig


# ---- portable MinHash twin: every operation exact in BOTH NumPy and
# ANSI-SQL BIGINT arithmetic, so the WHOLE LSH pipeline (shingling,
# permutation mins, banding, estimate, threshold, dedup) carries a
# DuckDB oracle. Same pluggable-hash trick as sampling.hash_split's
# contract query: swap the engine-only hash (FNV/xxhash64) for a
# portable arithmetic mix and the oracle verifies the surrounding
# algorithm end to end. All values stay < 2^31 (prime modulus
# M = 2^31 - 1), so products fit BIGINT/uint64 exactly.

_PORTABLE_M = 2147483647  # 2^31 - 1 (prime -> (a*h + b) % M permutes)
_PORTABLE_B = 1000003


def _portable_coeffs(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic arithmetic coefficient sequence (NOT an RNG — the
    SQL oracle must reproduce it with plain column math)."""
    i = np.arange(num_hashes, dtype=np.uint64)
    a = ((2 * i + 1) * np.uint64(2654435761)) % np.uint64(_PORTABLE_M)
    b = (i * np.uint64(40503) + np.uint64(2654435769)) % np.uint64(_PORTABLE_M)
    return a, b


def minhash_batch_portable(
    texts: list[str], num_hashes: int, k: int = 5, seed: int = 42
) -> np.ndarray:
    """[D, num_hashes] portable MinHash signatures: k-CODE-POINT
    shingles (whole-doc shingle when shorter) hashed by the seeded
    polynomial ``h = (h*B + cp) % M``, then ``min((a_i*h + b_i) % M)``
    per permutation. Verification path only — the production kernel
    (minhash_batch: FNV shingles, multiply-shift over uint64 wrap)
    is ~an order of magnitude faster and stays the default."""
    a, b = _portable_coeffs(num_hashes)
    M, B = np.uint64(_PORTABLE_M), np.uint64(_PORTABLE_B)
    out = np.empty((len(texts), num_hashes), dtype=np.int64)
    for d, t in enumerate(texts):
        cp = np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32).astype(
            np.uint64
        )
        n = len(cp)
        if n > k:
            idx = np.arange(n - k + 1)
            h = np.full(n - k + 1, seed % _PORTABLE_M, dtype=np.uint64)
            for p in range(k):
                h = (h * B + cp[idx + p]) % M
        else:
            hv = seed % _PORTABLE_M
            for c in cp.tolist():
                hv = (hv * _PORTABLE_B + c) % _PORTABLE_M
            h = np.array([hv], dtype=np.uint64)
        out[d] = ((a[:, None] * h[None, :] + b[:, None]) % M).min(axis=1).astype(
            np.int64
        )
    return out


def minhash_udf_portable(num_hashes: int = 16, k: int = 5, seed: int = 42):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        texts = text.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        sigs = minhash_batch_portable(texts, num_hashes, k, seed)
        return pd.Series(list(sigs))

    return _sig


def simhash_batch(texts: list[str], seed: int = 42) -> np.ndarray:
    """[D] int64 SimHash values for a document batch. Tokenization is
    one str.split per doc (string prep, not hashing); token hashing is
    the masked-position FNV over the whole batch's tokens at once and
    bit votes reduce per document with np.add.reduceat — identical
    values to the scalar per-document oracle in tests/oracles.py."""
    toks_per_doc = [(t or "").lower().split() for t in texts]
    n_toks = np.fromiter((len(ts) for ts in toks_per_doc), dtype=np.int64, count=len(texts))
    all_toks = [w.encode("utf-8", "ignore") for ts in toks_per_doc for w in ts]
    out = np.zeros(len(texts), dtype=np.int64)
    if not all_toks:
        return out
    flat, starts = _concat_bytes(all_toks)
    h = _fnv_ragged(flat, starts, seed)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    votes_all = 2 * bits - 1  # [T, 64]
    nonempty = np.flatnonzero(n_toks > 0)
    doc_starts = np.concatenate([[0], np.cumsum(n_toks)])[:-1][nonempty]
    votes = np.add.reduceat(votes_all, doc_starts, axis=0)  # [D_nonempty, 64]
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)
    vals = ((votes > 0).astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nonempty] = vals.astype(np.int64)
    return out


def simhash_batch_portable(texts: list[str], seed: int = 42) -> np.ndarray:
    """[D] int64 62-bit portable SimHash: tokens by the explicit
    Java-``\\s`` class (words() contract — NOT str.split, whose
    Unicode whitespace diverges from SQL), each token hashed by TWO
    seeded code-point polynomials mod 2^31-1 (31 bits each,
    concatenated to 62 so the pigeonhole banding keeps its spread),
    majority bit-vote per position. Every intermediate < 2^62 —
    exact in BIGINT, so DuckDB recomputes identical values (contract
    query ``simhash_portable``). Verification path only; the
    production FNV kernel (simhash_batch) stays the default."""
    import re

    M, B1, B2 = _PORTABLE_M, _PORTABLE_B, 1000033
    out = np.zeros(len(texts), dtype=np.int64)
    j = np.arange(31, dtype=np.int64)
    w62 = 1 << np.arange(62, dtype=np.int64)
    for d, t in enumerate(texts):
        toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", (t or "").lower()) if w]
        if not toks:
            continue
        votes = np.zeros(62, dtype=np.int64)
        for w in toks:
            h1, h2 = seed % M, (seed + 1) % M
            for c in w:
                cp = ord(c)
                h1 = (h1 * B1 + cp) % M
                h2 = (h2 * B2 + cp) % M
            bits = np.concatenate([(h1 >> j) & 1, (h2 >> j) & 1])
            votes += 2 * bits - 1
        out[d] = int(((votes > 0) * w62).sum())
    return out


def simhash_udf_portable(seed: int = 42):
    @F.pandas_udf(T.LongType())
    def _sh(text: pd.Series) -> pd.Series:
        texts = text.fillna("").tolist()
        return pd.Series(simhash_batch_portable(texts, seed))

    return _sh


def simhash_udf(seed: int = 42):
    @F.pandas_udf(T.LongType())
    def _sh(text: pd.Series) -> pd.Series:
        texts = text.fillna("").tolist()
        return pd.Series(simhash_batch(texts, seed))

    return _sh


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow-source frame so CPU-heavy signature UDFs
    use every core: small-on-disk text tables often arrive as one scan
    split. The split-count probe uses file-listing metadata only
    (``inputFiles``) — probing ``df.rdd`` would force an RDD
    conversion plan. Non-file sources report 0 files and are spread
    too (safe: the stage is compute-bound)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    return df.repartition(par) if n_files < par else df


# ------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lexicographically-first id per exact key group —
    one shuffle on the content hash, deterministic survivor choice."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "dup_count", *key_cols)
    )


# ----------------------------------------------------------- minhash

def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    seed: int = 42,
    min_jaccard: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    fraction of matching signature positions, filtered to
    >= min_jaccard, deduped across bands, ordered.

    ``portable=True`` swaps the signature kernel for the
    SQL-reproducible modular-arithmetic twin
    (``minhash_batch_portable``) and the xxhash64 band key for the
    band's value string — the DuckDB-oracle verification path
    (contract query ``minhash_portable``); identical pipeline shape,
    slower kernel. ``bands`` must be in 1..num_hashes
    (``ValueError`` otherwise).

    The signature frame is a ``localCheckpoint(eager=False)`` read
    by both aliases of the banded self-join, so the first action on
    the returned plan hashes the corpus once. Building the plan runs
    ``_spread``'s repartition shuffle (one Spark job): the checkpoint
    is lazy only above it.
    """
    if not 1 <= bands <= num_hashes:
        # bands=0 divides by zero; bands > num_hashes makes every band
        # an empty slice, so every doc pair would collide
        raise ValueError(f"bands must be in 1..num_hashes={num_hashes}, got {bands}")
    rows_per_band = num_hashes // bands
    # signature hashing is the CPU-heavy stage: spread it across the
    # cluster even when the (small on disk, heavy to process) text
    # table arrives as a single scan split
    src = _spread(docs)
    make_udf = minhash_udf_portable if portable else minhash_udf
    sigs = src.select(
        F.col(id_col).alias("id"), make_udf(num_hashes, shingle_k, seed)(F.col(text_col)).alias("sig")
    ).localCheckpoint(eager=False)

    # one array of band keys, exploded with its position as the band
    # id: the plan (and its driver-side build) is the same size at any
    # band count. The key is xxhash64 of the band's slice (production)
    # or the slice's value string (portable/oracle path — collision-
    # free, reproducible in SQL via string_agg). A lambda over the band
    # index, not an explicit array of `bands` keys: the per-band body is
    # heavy, and the lambda measured faster per row.
    sl = f"slice(sig, b * {rows_per_band} + 1, {rows_per_band})"
    key = (
        f"concat_ws('_', cast({sl} AS array<string>))"
        if portable
        else f"xxhash64(cast({sl} AS string))"
    )
    banded = sigs.select(
        "id", "sig",
        F.posexplode(F.expr(f"transform(sequence(0, {bands - 1}), b -> {key})")).alias("band", "bh"),
    )

    left = banded.alias("l")
    right = banded.alias("r")
    # est_jaccard is computed map-side, BEFORE the pair dedup: a pair
    # colliding in several bands recomputes the (identical) estimate
    # up to `bands` times, but the dedup shuffle then carries 3
    # scalars per candidate instead of two num_hashes-int64 signature
    # arrays — at corpus scale the shuffle is the bottleneck, not the
    # zip_with. Sub-threshold candidates are filtered before the
    # shuffle for the same reason.
    est = F.expr(
        "aggregate(zip_with(l.sig, r.sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_hashes))
    return (
        left.join(right, (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh")))
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= min_jaccard)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------ banded hamming (simhash,
# phash, any 64-bit fingerprint)

def hamming_hash_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with Hamming(hash) <= max_hamming over ANY int64
    fingerprint column, via the pigeonhole band trick: split 64 bits
    into max_hamming+1 bands; a qualifying pair differs in at most
    max_hamming bits, so it collides on at least one FULL band ->
    equi-join on (band, band_bits), then exact Hamming verify with
    JVM ``bit_count``. No all-pairs path: candidate volume is bounded
    by band-bucket occupancy, the same scale shape as MinHash banding.
    Returns (id_a, id_b, hamming) with id_a < id_b, ordered; a negative
    max_hamming raises ``ValueError``."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    nb = max_hamming + 1
    width = 64 // nb
    sh = df.select(F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("sh"))
    # one explicit array of band bits, exploded with its position as
    # the band id: one expression at any band count, codegen'd (the
    # per-band body is tiny, so an explicit array beats a lambda per
    # row). A single 64-bit band is the hash itself.
    if nb == 1:
        bits = "sh"
    else:
        mask = (1 << width) - 1
        bits = ", ".join(f"shiftrightunsigned(sh, {b * width}) & {mask}" for b in range(nb))
    banded = sh.select("id", "sh", F.posexplode(F.expr(f"array({bits})")).alias("band", "bits"))
    l, r = banded.alias("l"), banded.alias("r")
    # the exact-Hamming verify runs MAP-SIDE, before the pair-dedup
    # shuffle: hamming is a pure function of the two hashes, so
    # filtering candidates first changes nothing about the surviving
    # set but the dedup exchange then carries only qualifying
    # collisions (<= bands x true pairs) instead of every band
    # collision — measured 3.2M -> ~0.5M rows on the sf0.1 simhash
    # corpus, where hot 9-bit buckets make candidates ~39x the result
    # (guide §2.3 "aggregate/filter before you shuffle").
    return (
        l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.bits") == F.col("r.bits")))
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash(text)) <= max_hamming: the
    vectorized simhash kernel feeds the generic banded join.
    ``portable=True`` swaps in the SQL-reproducible 62-bit kernel
    (``simhash_batch_portable``) — the DuckDB-oracle verification
    path (contract query ``simhash_portable``); the 64-bit pigeonhole
    banding stays valid (top bits constant-equal).

    The (id, simhash) signature frame is a
    ``localCheckpoint(eager=False)`` read by both aliases of the
    banded self-join — without it Catalyst plans two scans and the
    simhash pandas-UDF hashes the full corpus twice (the same
    signature-frame shape as ``minhash_lsh_pairs``). As there,
    building the plan runs ``_spread``'s repartition shuffle (one
    Spark job); the hashing waits for the first action."""
    src = _spread(docs)
    sh_udf = simhash_udf_portable(seed) if portable else simhash_udf(seed)
    sh = src.select(
        F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=False)
    return hamming_hash_pairs(sh, "id", "sh", max_hamming)


def phash_dup_pairs(
    images: DataFrame,
    max_hamming: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Image near-dup pairs by PERCEPTUAL hash (the images table's
    ``phash`` column — input_hint schema `(image_id, bytes, w, h,
    fmt, caption, phash)`): two tiles whose 64-bit DCT phashes differ
    in <= max_hamming bits are visual near-duplicates. Runs the same
    banded pigeonhole join as simhash — the pixel payload is never
    touched, so dedup over 10^12 images scans only (id, phash)."""
    return hamming_hash_pairs(images, id_col, phash_col, max_hamming)


# ---------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs —
    pure column expressions (no UDF): split -> sliding n-grams via
    transform over an index sequence -> array_distinct ->
    intersect/union cardinality. ``block_col`` (e.g. lang, or an LSH
    band key) bounds the self-join to pairs within one block. The
    gram-set frame is a lazy ``localCheckpoint`` read by both aliases
    of the self-join (computed once, not once per alias)."""
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(size(split(lower({text_col}), '\\\\s+')) - {n}, 0)), "
            f"i -> concat_ws(' ', slice(split(lower({text_col}), '\\\\s+'), i + 1, {n})))"
        )
    )
    # checkpoint the per-doc gram sets for the self-join's two aliases:
    # the tokenize/slice/distinct transform is the heavy stage and
    # would otherwise run over the corpus twice (the simhash/minhash
    # signature-frame shape)
    g = docs.select(
        F.col(id_col).alias("id"), grams.alias("grams"), F.col(block_col).alias("blk")
    ).localCheckpoint(eager=False)
    l, r = g.alias("l"), g.alias("r")
    joined = l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
    inter = F.size(F.array_intersect(F.col("l.grams"), F.col("r.grams")))
    union = F.size(F.array_union(F.col("l.grams"), F.col("r.grams")))
    return (
        joined.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------- embedding cosine

def embedding_dup_pairs(
    emb: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity — pure
    column math (zip_with dot product / aggregate norms). ``block_col``
    bounds the pair space to pairs within one block (the LSH-bucketed
    scale variant lives in operators/similarity.py). The (id, vec,
    norm) frame is a lazy ``localCheckpoint`` read by both aliases of
    the self-join (norms computed once)."""
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm_expr(vec_col).alias("nrm"),
        F.col(block_col).alias("blk"),
    ).localCheckpoint(eager=False)
    l, r = e.alias("l"), e.alias("r")
    joined = l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
    dot = F.expr("aggregate(zip_with(l.v, r.v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, p) -> a + p)")
    return (
        joined.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(dot / (F.col("l.nrm") * F.col("r.nrm")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------- pairs -> components -> survivors

# canonical edges at or below which connected_components collects the
# edge set and finds components on the driver. A 1M-edge collect is at
# most tens of MB of Arrow, and the union-find over it takes under 1 s;
# above it, star contraction keeps the edges distributed.
DRIVER_CC_EDGES = 1_000_000


def _driver_components(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Union-find over ``n`` node codes joined by edges ``a[i] -- b[i]``:
    returns ``lab`` with ``lab[x]`` the smallest code in x's component.

    Hooks ROOTS, not nodes: each round every root takes the min of the
    roots it shares an edge with, then pointer jumping flattens every
    tree back to depth one. Each tree with an edge to another tree
    merges every round, so rounds are O(log n). Hooking node labels
    instead moves a label one hop per round, O(diameter): a long chain
    with shuffled labels takes as many rounds as it has nodes."""
    lab = np.arange(n)
    while True:
        ra, rb = lab[a], lab[b]
        if np.array_equal(ra, rb):
            return lab
        m = np.minimum(ra, rb)
        np.minimum.at(lab, ra, m)
        np.minimum.at(lab, rb, m)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Near-dup pairs -> ``(id, component)`` for every id appearing in
    ``pairs``; ``component`` is the MIN id of the connected component.
    The missing half of near-dedup: every pair operator in this module
    emits edges, and transitive grouping (a~b, b~c => {a,b,c}) is what
    lets a pipeline keep one survivor per duplicate CLUSTER rather
    than per pair (``dedup_near`` below composes the two).

    Two engines, chosen by edge count. The first action is one bounded
    Arrow collect of the canonical edges, ``limit(DRIVER_CC_EDGES+1)``
    (the same guard as ``knn_join``'s query collect):

      - at or below ``DRIVER_CC_EDGES`` edges, a NumPy union-find over
        ``np.unique`` codes finds the components on the driver, and the
        result is a local relation (a broadcast side in any join) that
        keeps the pairs' id type. A request-sized edge set costs this
        one job instead of star contraction's per-round stage jobs.
      - above it, alternating large-star / small-star contraction (the
        public MapReduce connected-components algorithm of Kiveris et
        al., "Connected Components in MapReduce and Beyond", SoCC'14)
        instead of min-label propagation — propagation needs O(graph
        diameter) rounds, so a 10k-document duplication CHAIN would
        take 10k shuffles, while star contraction converges in
        O(log^2 n) rounds on any graph (2-3 rounds for typical near-dup
        clusters). 100 TB shape: every round is groupBy/join/distinct
        over SCALAR id pairs (payloads never enter), the edge frame is
        localCheckpoint'ed per round so iterative lineage never
        compounds, and the only driver action per round is one
        (count, xor-hash) fixpoint probe — the same convergence-probe
        pattern as ``ivf_train``'s Lloyd loop. Superseded rounds'
        checkpoint blocks are freed by the context cleaner when their
        frames go out of scope — transient peak storage is
        O(rounds x |edges|) of SCALAR pairs between GCs, a few id-pair
        copies, not payload data. The result is a plan over the last
        round's checkpointed edges.

    Both engines order ids the same way: Spark's ``least``/``min`` and
    ``np.unique`` agree on numbers, and on strings Python's code-point
    order equals Spark's UTF-8 byte order.

    No reference analog (the reference's dedup is exact-path only —
    SURVEY §2 training-data family)."""
    # canonical "down" edges (u > v); self-pairs dropped
    canon = pairs.select(
        F.greatest(F.col(left), F.col(right)).alias("u"),
        F.least(F.col(left), F.col(right)).alias("v"),
    ).where(F.col("u") != F.col("v"))
    # no dedup before the collect: duplicate edges never change a
    # union-find, they only use up some of the slack under the bound
    tbl = canon.limit(DRIVER_CC_EDGES + 1).toArrow()
    if tbl.num_rows <= DRIVER_CC_EDGES:
        col = pa.concat_arrays([tbl.column("u").combine_chunks(), tbl.column("v").combine_chunks()])
        _, first, inv = np.unique(
            col.to_numpy(zero_copy_only=False), return_index=True, return_inverse=True
        )
        lab = _driver_components(inv[: tbl.num_rows], inv[tbl.num_rows :], len(first))
        ids = col.take(first)
        return pairs.sparkSession.createDataFrame(
            pa.table({"id": ids, "component": ids.take(lab)})
        )

    edges = (
        canon.dropDuplicates(["u", "v"])
        # lazy: the fixpoint probe right below is its first action, so
        # the checkpoint materializes inside the probe's job — one
        # fewer driver-scheduled job per round (measured: 96 -> 87
        # jobs on a 64-chain; wall-clock neutral at test scale where
        # AQE stage jobs dominate, but on a busy cluster scheduler
        # every saved job is queue latency)
        .localCheckpoint(eager=False)
    )

    def probe(e: DataFrame) -> tuple:
        row = e.select(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        return (row["n"], row["h"])

    from pyspark.sql import Window

    # no pre-loop probe: round 1's fixpoint probe is the first action
    # on the edges (it materializes the initial checkpoint on the
    # way) — one fewer driver action per call.
    prev = None
    for _ in range(max_rounds):
        # large-star: for each node u, link every LARGER neighbor v to
        # m(u) = min(neighbors(u) + {u}); needs full neighborhoods.
        # m(u) attaches via an unordered window min over the SAME
        # exchange that clusters the neighborhoods — the previous
        # groupBy + self-join spent two exchanges per star on what one
        # WindowExec computes in place (guide §2.4), and the
        # intermediate dropDuplicates is gone: duplicate (v, m) rows
        # never change a min and the round-end dedup removes them, so
        # a round is 3 exchanges (2 window hashes + dedup) instead
        # of ~6. Identical contraction semantics, identical fixpoint.
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wu = Window.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # v > u >= m
        )
        # small-star: for each node u of the (canonical, all v < u)
        # large output, link u and every down-neighbor to the minimum
        j = large.withColumn("m", F.min("v").over(wu))
        nxt = (
            j.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))  # v >= m; drop the root self-link
            .union(j.select("u", F.col("m").alias("v")))  # u > m always
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=False)  # materialized by the probe
        )
        edges = nxt
        cur = probe(edges)
        if cur == prev:  # fixpoint: every edge is (node, component-min)
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            "(star contraction needs ~log^2 n; raise max_rounds)"
        )

    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return (
        edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(roots)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
        .orderBy("id")
    )


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "id_a",
    right: str = "id_b",
    keep: str = "all",
) -> DataFrame:
    """Corpus + near-dup pairs -> the corpus annotated with
    ``component`` (min id of the duplicate cluster; own id when
    unpaired) and ``is_canonical``; ``keep="canonical"`` instead
    returns ONE deterministic survivor per cluster (the min id) —
    the near-dup twin of ``dedup_exact``'s survivor choice. The
    component map covers only paired ids, so the join's small side is
    the duplicate set, not the corpus: up to ``DRIVER_CC_EDGES`` edges
    it is a driver-built local relation, which the join broadcasts;
    above that AQE broadcasts the star-contraction map when it fits."""
    if keep not in ("all", "canonical"):
        raise ValueError(f"keep must be 'all' or 'canonical', got {keep!r}")
    # the component map is a local relation or reads the per-round
    # checkpointed edges (lineage already truncated), so it composes
    # lazily; Catalyst's EliminateSorts drops its internal orderBy
    # under the join
    comp = connected_components(pairs, left, right)
    out = (
        df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("is_canonical", F.col("component") == F.col(id_col))
    )
    if keep == "canonical":
        out = out.where("is_canonical").drop("is_canonical")
    return out.orderBy(id_col)
