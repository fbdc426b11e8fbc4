"""The north rule's per-row payload invariant, asserted explicitly:
decoded-pixel allclose (exact for lossless formats, PSNR >= 40 dB for
lossy), caption STRING EQUALITY through every payload-touching
operator, and phash stability for payload-preserving paths.
"""

from __future__ import annotations

import numpy as np

from gelos_spark.functions import codec
from gelos_spark.operators import images as imops
from gelos_spark.sources import synth


def _src(spark, n=48, w=16, seed=42):
    df = synth.images_df(spark, n, w=w, seed=seed, parts=4)
    return df, {r.image_id: r for r in df.collect()}


def test_codec_roundtrip_invariant(spark):
    """Every format round-trips under the invariant: raw/png bit-exact,
    qdct within PSNR >= 40 dB; captions never change (they ride
    metadata columns, outside the payload path entirely)."""
    _, rows = _src(spark)
    for r in rows.values():
        px = codec.decode(r.bytes, r.fmt, r.w, r.h)
        for fmt in ("raw", "png", "qdct"):
            rt = codec.decode(codec.encode(px, fmt), fmt, r.w, r.h)
            if fmt == "qdct":
                assert codec.psnr(px, rt) >= 40.0
            else:
                assert (rt == px).all()


def test_resize_keeps_caption_and_id(spark):
    df, rows = _src(spark)
    out = imops.resize(df, 8, 8).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r.caption == rows[r.image_id].caption


def test_perturb_keeps_caption_and_untouched_bands(spark):
    df, rows = _src(spark)
    out = imops.perturb_bands(df, bands=(1,), seed=7).collect()
    for r in out:
        src = rows[r.image_id]
        assert r.caption == src.caption
        a = codec.decode(src.bytes, src.fmt, src.w, src.h)
        b = codec.decode(r.bytes, r.fmt, r.w, r.h)
        # untouched channels bit-identical; perturbed channel close
        assert (b[:, :, 0] == a[:, :, 0]).all()
        assert (b[:, :, 2] == a[:, :, 2]).all()
        assert codec.psnr(a[:, :, 1], b[:, :, 1]) > 10.0  # changed but sane


def test_psnr_roundtrip_operator_enforces_40db(spark):
    df, _ = _src(spark, n=32, w=32)
    out = imops.psnr_roundtrip(df, fmt="qdct").collect()
    assert len(out) == 32
    assert all(r.pass_40db for r in out)
    assert all(r.psnr >= 40.0 for r in out)


def test_phash_stable_under_lossless_recode(spark):
    _, rows = _src(spark, n=24)
    for r in rows.values():
        px = codec.decode(r.bytes, r.fmt, r.w, r.h)
        png = codec.decode(codec.encode(px, "png"), "png", r.w, r.h)
        assert codec.phash64(png) == codec.phash64(px) == r.phash


def test_images_df_rows_equal_image_row(spark):
    """images_df's batched generator reproduces the per-row reference
    ``image_row`` exactly, including the caption's lulc (both take the
    hash modulo in float64, whatever NumPy's promotion rules)."""
    w, seed = 16, 42
    rows = synth.images_df(spark, 40, w=w, seed=seed, parts=4).collect()
    assert len(rows) == 40
    for r in rows:
        exp = synth.image_row(int(r.image_id[3:]), w, w, seed)
        got = {k: r[k] for k in exp}
        got["bytes"] = bytes(got["bytes"])
        assert got == exp
