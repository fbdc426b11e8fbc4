"""Batch (vectorized) MinHash/SimHash kernels must be value-identical
to the scalar reference implementations (tests/oracles.py
``minhash_signature`` / ``simhash64``)."""

from __future__ import annotations

import importlib.util
import pathlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from gelos_spark.operators import dedup

import oracles

_spec = importlib.util.spec_from_file_location(
    "plan_shapes", pathlib.Path(__file__).resolve().parents[1] / "scripts" / "plan_shapes.py"
)
plan_shapes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_shapes)

CASES = [
    "",
    "a",
    "tiny",
    "exact",
    "hello world hello world",
    "the quick brown fox jumps over the lazy dog " * 8,
    "naïve café über straße — unicode ¡señor! " * 3,
    "word",
    "  leading and   trailing   whitespace  ",
    "x" * 4,
    "y" * 5,
    "z" * 6,
]


def test_minhash_batch_matches_scalar():
    got = dedup.minhash_batch(CASES, num_hashes=32, k=5, seed=42)
    for i, t in enumerate(CASES):
        want = oracles.minhash_signature(t, 32, 5, 42).astype(np.int64)
        assert (got[i] == want).all(), f"minhash mismatch for case {i}: {t!r}"


def test_minhash_batch_other_seed_and_k():
    got = dedup.minhash_batch(CASES, num_hashes=16, k=3, seed=7)
    for i, t in enumerate(CASES):
        want = oracles.minhash_signature(t, 16, 3, 7).astype(np.int64)
        assert (got[i] == want).all()


def test_simhash_batch_matches_scalar():
    got = dedup.simhash_batch(CASES, seed=42)
    for i, t in enumerate(CASES):
        assert got[i] == oracles.simhash64(t, 42), f"simhash mismatch for case {i}: {t!r}"


def test_simhash_batch_random_docs():
    rng = np.random.default_rng(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = [
        " ".join(rng.choice(words, size=rng.integers(0, 40)).tolist()) for _ in range(50)
    ]
    got = dedup.simhash_batch(docs, seed=42)
    for i, t in enumerate(docs):
        assert got[i] == oracles.simhash64(t, 42)


def test_minhash_lsh_pairs_matches_bruteforce_lsh(spark):
    """The distributed banded join equals a driver-side brute-force
    LSH: pairs whose signatures collide in >= 1 band, with
    est_jaccard = matching-position fraction, filtered and deduped."""
    texts = [
        ("d%03d" % i, ("the quick brown fox %d " % (i % 7)) * 6 + "tail %d" % (i % 3))
        for i in range(80)
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    num_hashes, bands, k, seed, min_j = 32, 8, 5, 42, 0.2
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=num_hashes, bands=bands, shingle_k=k,
            seed=seed, min_jaccard=min_j,
        ).collect()
    }

    sigs = {d: oracles.minhash_signature(t, num_hashes, k, seed) for d, t in texts}
    rpb = num_hashes // bands
    exp = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            collide = any(
                (sa[j * rpb:(j + 1) * rpb] == sb[j * rpb:(j + 1) * rpb]).all()
                for j in range(bands)
            )
            if not collide:
                continue
            est = float((sa == sb).sum()) / num_hashes
            if est >= min_j:
                exp[(a, b)] = round(est, 6)
    assert got == exp
    assert len(exp) > 0  # the fixture must actually produce near-dups


def test_simhash_pairs_matches_bruteforce(spark):
    """The pigeonhole-banded distributed join equals the driver-side
    brute force: every pair with Hamming(simhash) <= max_hamming, and
    ONLY those (the band trick guarantees recall; the bit_count verify
    guarantees precision)."""
    texts = [
        ("s%03d" % i, ("alpha beta gamma %d " % (i % 5)) * 4 + "delta %d" % (i % 2))
        for i in range(90)
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    max_h, seed = 6, 42
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=max_h, seed=seed).collect()
    }
    exp = oracles.hamming_pairs([(d, oracles.simhash64(t, seed)) for d, t in texts], max_h)
    assert got == exp
    assert len(exp) > 0


def test_hamming_hash_pairs_matches_bruteforce(spark):
    """Generic banded hamming join == O(n^2) brute force for planted
    64-bit fingerprints (incl. negative int64 hashes — phash values
    use the full signed range)."""
    rng = np.random.default_rng(5)
    base = rng.integers(-(2**63), 2**63 - 1, size=30, dtype=np.int64)
    rows = []
    for i, b in enumerate(base):
        rows.append((f"i{i:03d}_0", int(b)))
        # plant a near-dup: flip `i % 6` bits
        flipped = int(b)
        for j in range(i % 6):
            flipped ^= 1 << ((j * 11 + i) % 64)
        rows.append((f"i{i:03d}_1", np.int64(np.uint64(flipped) & np.uint64(2**64 - 1)).item()
                     if flipped > 2**63 - 1 or flipped < -(2**63) else flipped))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    k = 4
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.phash_dup_pairs(df, max_hamming=k).collect()
    }
    assert got == oracles.hamming_pairs(rows, k)


def test_hamming_hash_pairs_max_hamming_zero_is_equal_hashes(spark):
    """max_hamming=0 is one 64-bit band, the hash itself: exactly the
    equal-hash pairs, across the full signed range."""
    vals = [0, -1, 1, -(2**63), 2**63 - 1, 0x5555555555555555, -0x5555555555555556]
    rows = [(f"i{i:02d}_{c}", v) for i, v in enumerate(vals) for c in range(i % 3 + 1)]
    rows += [("x_near", 1 ^ (1 << 40))]  # one bit from a planted hash
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_hash_pairs(df, "image_id", "phash", max_hamming=0).collect()
    }
    exp = oracles.hamming_pairs(rows, 0)
    assert got == exp
    assert len(exp) == 8  # 2 hashes planted twice (1 pair each), 2 thrice (3 each)


def test_banded_joins_reject_bad_band_args(spark):
    df = spark.createDataFrame([("a", 1)], "doc_id string, h long")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_hash_pairs(df, "doc_id", "h", max_hamming=-1)
    docs = spark.createDataFrame([("a", "some text")], "doc_id string, text string")
    # 0 divides by zero; more bands than hashes makes every band an
    # empty slice that every pair collides on
    for bands in (0, -2, 129):
        with pytest.raises(ValueError, match="bands"):
            dedup.minhash_lsh_pairs(docs, num_hashes=128, bands=bands)


def test_phash_dup_pairs_on_synth_images(spark):
    """Integration over the actual images table: a resized copy keeps
    a near-identical phash, so every (original, near-copy) pair with
    Hamming <= 6 found by brute force is found by the banded join."""
    from gelos_spark.operators import images as imops
    from gelos_spark.sources import synth

    imgs = synth.images_df(spark, 48, w=32, seed=11, parts=4)
    # perturbing one band barely moves the DCT phash -> planted near-dups
    near = imops.perturb_bands(imgs, bands=(2,), alpha=0.1, seed=3).select(
        F.concat(F.col("image_id"), F.lit("_p")).alias("image_id"), "phash"
    )
    both = imgs.select("image_id", "phash").unionByName(near)
    rows = [(r.image_id, r.phash) for r in both.collect()]
    k = 6
    exp = {
        tuple(sorted((ia, ib)))
        for ia, ha in rows
        for ib, hb in rows
        if ia < ib and bin((ha ^ hb) & (2**64 - 1)).count("1") <= k
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.phash_dup_pairs(both, max_hamming=k).collect()
    }
    assert got == exp
    # sanity: the planted pairs actually exist (phash is perturbation-stable)
    assert any(a + "_p" == b for a, b in got)


def test_simhash_signature_cached_across_self_join(spark):
    """The simhash pandas-UDF must hash the corpus ONCE: the signature
    frame is checkpointed, so both aliases of the banded self-join
    scan the same checkpoint RDD (the minhash plan shape) and the
    returned plan holds no UDF eval node. Without the checkpoint each
    join side would plan its own UDF scan."""
    texts = [
        ("c%03d" % i, ("kappa lambda mu %d " % (i % 4)) * 3) for i in range(60)
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    out = dedup.simhash_pairs(docs, max_hamming=6)
    nodes = plan_shapes.node_counts(out)
    assert nodes.get("Scan ExistingRDD", 0) >= 2, nodes
    assert "ArrowEvalPython" not in nodes and "BatchEvalPython" not in nodes, nodes
    assert out.count() > 0


def test_pair_operators_cache_their_signature_frames(spark):
    """ngram_jaccard_pairs and embedding_dup_pairs must compute their
    per-row frame (gram sets / vec norms) ONCE across the self-join's
    two aliases: both sides scan the one checkpointed frame, so the
    returned plan holds neither the gram transform nor the norm."""
    docs = spark.createDataFrame(
        [("d%02d" % i, "alpha beta gamma delta %d epsilon" % (i % 3), 0) for i in range(30)],
        "doc_id string, text string, blk int",
    )
    out = dedup.ngram_jaccard_pairs(docs, "blk", n=2)
    assert plan_shapes.node_counts(out).get("Scan ExistingRDD", 0) >= 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "transform(" not in plan, plan
    assert out.count() > 0

    emb = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 2)], 0) for i in range(24)],
        "vec_id long, embedding array<double>, blk int",
    )
    out_e = dedup.embedding_dup_pairs(emb, "blk")
    assert plan_shapes.node_counts(out_e).get("Scan ExistingRDD", 0) >= 2
    plan_e = out_e._jdf.queryExecution().executedPlan().toString()
    assert "SQRT(" not in plan_e.upper(), plan_e
    assert out_e.count() > 0


def test_minhash_portable_kernel_matches_scalar_reference():
    """minhash_batch_portable vs a from-first-principles pure-Python
    reference (code-point shingles, seeded polynomial mod 2^31-1,
    arithmetic-sequence permutations) — the same arithmetic the
    DuckDB oracle of `minhash_portable` runs in SQL."""
    M, B, seed, k, H = 2147483647, 1000003, 42, 5, 16

    def ref_sig(text):
        cps = [ord(c) for c in text]
        if len(cps) > k:
            windows = [cps[i : i + k] for i in range(len(cps) - k + 1)]
        else:
            windows = [cps]
        hs = []
        for w in windows:
            h = seed % M
            for c in w:
                h = (h * B + c) % M
            hs.append(h)
        sig = []
        for i in range(H):
            a = ((2 * i + 1) * 2654435761) % M
            b = (i * 40503 + 2654435769) % M
            sig.append(min((a * h + b) % M for h in hs))
        return sig

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",
        "",
        "ab",
        "unicode façade — ünïcödé £5 ¥3",
        "x" * 200,
        "the quick brown fox jumps over the lazy cat",
    ]
    got = dedup.minhash_batch_portable(texts, H, k, seed)
    for d, t in enumerate(texts):
        assert got[d].tolist() == ref_sig(t), f"doc {d}: {t!r}"


def test_minhash_portable_pipeline_matches_bruteforce(spark):
    """portable=True through the full Spark pipeline == brute-force
    banded LSH on the portable signatures (same guarantee the fast
    path has in test_minhash_lsh_pairs_matches_bruteforce_lsh), and
    near-identical docs are found with estimate 1.0."""
    base = "the quick brown fox jumps over the lazy dog %d tail"
    rows = [(i, base % (i % 7)) for i in range(40)]
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    H, bands, k, seed, thr = 16, 4, 5, 42, 0.5

    out = dedup.minhash_lsh_pairs(
        docs, num_hashes=H, bands=bands, shingle_k=k, seed=seed,
        min_jaccard=thr, portable=True,
    ).collect()
    got = sorted((r.id_a, r.id_b, r.est_jaccard) for r in out)

    sigs = dedup.minhash_batch_portable([t for _, t in rows], H, k, seed)
    ids = [i for i, _ in rows]
    r = H // bands
    exp = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sorted((ids[x], ids[y]))
            sx, sy = sigs[x], sigs[y]
            banded = any(
                (sx[i * r : (i + 1) * r] == sy[i * r : (i + 1) * r]).all()
                for i in range(bands)
            )
            est = round(float((sx == sy).sum()) / H, 6)
            if banded and est >= thr:
                exp.add((a, b, est))
    assert got == sorted(exp)
    assert (0, 100, 1.0) in exp


def test_simhash_portable_kernel_and_pipeline(spark):
    """simhash_batch_portable vs a from-first-principles reference
    (two code-point polynomials mod 2^31-1, 62-bit majority vote) and
    portable=True through the banded pipeline == O(n^2) brute force —
    the pigeonhole guarantee must hold for the 62-bit value."""
    M, B1, B2, seed = 2147483647, 1000003, 1000033, 42

    def ref(text):
        import re as _re

        toks = [w for w in _re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower()) if w]
        votes = [0] * 62
        for w in toks:
            h1, h2 = seed % M, (seed + 1) % M
            for c in w:
                h1 = (h1 * B1 + ord(c)) % M
                h2 = (h2 * B2 + ord(c)) % M
            for j in range(31):
                votes[j] += 1 if (h1 >> j) & 1 else -1
                votes[31 + j] += 1 if (h2 >> j) & 1 else -1
        return sum(1 << j for j in range(62) if votes[j] > 0)

    texts = [
        "the quick brown fox", "the quick brown fox", "the quick brown cat",
        "", "   ", "unicode façade £5", "w " * 40,
    ]
    got = dedup.simhash_batch_portable(texts, seed)
    for d, t in enumerate(texts):
        assert int(got[d]) == ref(t), f"doc {d}: {t!r}"
    assert got[0] == got[1] and got[3] == got[4] == 0

    rows = [(i, "token%d alpha beta gamma delta" % (i % 5)) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.simhash_pairs(docs, max_hamming=3, portable=True).collect()
    gotp = sorted((r.id_a, r.id_b, r.hamming) for r in out)
    sh = {i: ref(t) for i, t in rows}
    exp = sorted(
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a in sh for b in sh if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    assert gotp == exp and len(exp) > 0
