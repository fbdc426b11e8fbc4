"""Property-based tests (hypothesis) over the pure NumPy kernels —
no Spark session, so the whole file runs in seconds.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gelos_spark.functions import cells
from gelos_spark.functions.geometry import points_in_rings
from gelos_spark.operators import masking

import oracles

lon_st = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
lat_st = st.floats(min_value=-90.0, max_value=89.999999, allow_nan=False)
res_st = st.integers(min_value=1, max_value=cells.MAX_RES)


@given(lon=lon_st, lat=lat_st, res=res_st)
@settings(max_examples=200, deadline=None)
def test_cell_encode_bounds_roundtrip(lon, lat, res):
    """Every cell id is non-negative, fits in 2*res bits, and the
    cell's rect actually contains the encoded point."""
    c = cells.cell_encode(np.array([lon]), np.array([lat]), res)[0]
    assert 0 <= c < (1 << (2 * res))
    lon0, lat0, lon1, lat1 = oracles.cell_bounds(np.array([c]), res)
    # epsilon for float quantization at bin edges: (x + 180.0) absorbs
    # sub-ulp offsets near bin boundaries; the encode stays globally
    # CONSISTENT (same double -> same cell in Spark/DuckDB/NumPy),
    # which is the property the engine needs — containment holds to
    # within one representability ulp of the boundary
    eps = 1e-9 * max(1.0, abs(lon), abs(lat))
    assert lon0[0] - eps <= lon <= lon1[0] + eps
    assert lat0[0] - eps <= lat <= lat1[0] + eps


@given(lon=lon_st, lat=lat_st, res=st.integers(min_value=2, max_value=cells.MAX_RES))
@settings(max_examples=200, deadline=None)
def test_parent_is_prefix(lon, lat, res):
    """Encoding at a coarser res equals the prefix-shift of the finer
    cell — the property every cover/rollup join key relies on."""
    fine = cells.cell_encode(np.array([lon]), np.array([lat]), res)
    for pr in range(res - 1, max(res - 4, 0) - 1, -1):
        coarse = cells.cell_encode(np.array([lon]), np.array([lat]), pr)[0]
        assert oracles.cell_parent(fine, res, pr)[0] == coarse


@given(
    x=st.integers(min_value=0, max_value=(1 << 26) - 1),
    y=st.integers(min_value=0, max_value=(1 << 26) - 1),
)
@settings(max_examples=200, deadline=None)
def test_morton_xy_roundtrip(x, y):
    c = cells.xy_to_cell(np.array([x]), np.array([y]))
    rx, ry = cells.cell_to_xy(c)
    assert (rx[0], ry[0]) == (x, y)


@given(
    px=st.lists(st.floats(min_value=-20, max_value=20, allow_nan=False), min_size=1, max_size=40),
    py=st.lists(st.floats(min_value=-20, max_value=20, allow_nan=False), min_size=1, max_size=40),
)
@settings(max_examples=100, deadline=None)
def test_hole_parity_is_xor(px, py):
    """For a hole fully inside the outer ring, multi-ring containment
    equals (in outer) XOR (in hole) — the even-odd law."""
    n = min(len(px), len(py))
    pxa, pya = np.asarray(px[:n]), np.asarray(py[:n])
    outer = np.asarray([(-15.0, -15.0), (15.0, -15.0), (15.0, 15.0), (-15.0, 15.0)])
    hole = np.asarray([(-5.0, -5.0), (5.0, -5.0), (5.0, 5.0), (-5.0, 5.0)])
    combined = points_in_rings(pxa, pya, [outer, hole])
    expect = oracles.points_in_polygon(pxa, pya, outer) ^ oracles.points_in_polygon(
        pxa, pya, hole
    )
    assert (combined == expect).all()


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=16, unique=True),
    length=st.integers(min_value=1, max_value=48),
    data=st.data(),
)
@settings(max_examples=100, deadline=None)
def test_mask_block_invariants(ids, length, data):
    """The mask kernel's core block: kept set = prefix of the stable
    argsort, mask complements it, restore inverts the shuffle — for
    arbitrary ids, lengths and keep counts."""
    k = data.draw(st.integers(min_value=0, max_value=length))
    ids_arr = np.asarray(ids, dtype=np.int64)
    noise = masking.noise_matrix(ids_arr, length)
    order = np.argsort(noise, axis=1, kind="stable")
    restore = np.argsort(order, axis=1, kind="stable")
    keep = order[:, :k]
    for r in range(len(ids_arr)):
        # restore inverts order
        assert (restore[r][order[r]] == np.arange(length)).all()
        # kept positions are exactly the k smallest noise values
        # (ties broken by position, which stable argsort guarantees)
        kept_noise = noise[r][keep[r]]
        rest = np.delete(noise[r], keep[r])
        if k and len(rest):
            assert kept_noise.max() <= rest.min() or (
                kept_noise.max() == rest.min()
            )


@given(
    lon_jump=st.floats(min_value=150.0, max_value=179.0, allow_nan=False),
    width=st.floats(min_value=2.0, max_value=20.0, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_unwrap_ring_properties(lon_jump, width):
    """Any box straddling +-180 unwraps to a contiguous ring whose
    lon span equals the true geodesic width."""
    w = min(width, (180.0 - lon_jump) * 2)
    ring = np.asarray(
        [
            (lon_jump, -5.0),
            (-(360.0 - lon_jump - w) % 360.0 - 0.0, -5.0),
        ]
    )
    east = lon_jump
    west = lon_jump + w - 360.0  # in [-180, 0)
    ring = np.asarray([(east, -5.0), (west, -5.0), (west, 5.0), (east, 5.0)])
    out, wrapped = cells.unwrap_ring(ring)
    assert wrapped
    span = out[:, 0].max() - out[:, 0].min()
    assert np.isclose(span, w)
    assert (out[:, 0] >= 0.0).all()


@settings(max_examples=60, deadline=None)
@given(
    res=st.integers(min_value=3, max_value=8),
    cx=st.integers(min_value=0, max_value=255),
    cy=st.integers(min_value=0, max_value=255),
    r1=st.integers(min_value=1, max_value=20),
    dr=st.integers(min_value=1, max_value=10),
)
def test_shell_batches_disjoint_below_wrap(res, cx, cy, r1, dr):
    """knn_join_distributed's no-dedup argument: while the larger
    disk still satisfies 2*r+1 <= n (the terminal pass excludes the
    wrap regime), successive (r0, r1] shells of the same cell are
    DISJOINT and their union is exactly the (r0_prev, r2] shell."""
    n = 1 << res
    r2 = r1 + dr
    if 2 * r2 + 1 > n:
        return  # wrap regime — excluded by the operator's terminal pass
    cell = np.array([cells.xy_to_cell(np.array([cx % n]), np.array([cy % n]))[0]])
    _, s1 = cells.cell_shell_batch(cell, res, -1, r1)
    _, s2 = cells.cell_shell_batch(cell, res, r1, r2)
    set1, set2 = set(s1.tolist()), set(s2.tolist())
    assert not (set1 & set2), "successive shells must be disjoint below wrap"
    _, s_all = cells.cell_shell_batch(cell, res, -1, r2)
    assert set1 | set2 == set(s_all.tolist())
    # and within one shell no cell appears twice (no wrap aliasing)
    assert len(s2) == len(set2)


# ---- portable dedup kernels (round 6 cont.): the SQL-reproducible
# MinHash/SimHash twins vs from-first-principles references, over
# arbitrary unicode (incl. the \x0b/\xa0 whitespace edge cases that
# motivated the explicit Java-\s tokenizer class)

_PM, _PB1, _PB2 = 2147483647, 1000003, 1000033
text_st = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
    max_size=40,
)


def _ref_minhash(text, num_hashes=8, k=5, seed=42):
    cps = [ord(c) for c in text]
    windows = (
        [cps[i : i + k] for i in range(len(cps) - k + 1)] if len(cps) > k else [cps]
    )
    hs = []
    for w in windows:
        h = seed % _PM
        for c in w:
            h = (h * _PB1 + c) % _PM
        hs.append(h)
    sig = []
    for i in range(num_hashes):
        a = ((2 * i + 1) * 2654435761) % _PM
        b = (i * 40503 + 2654435769) % _PM
        sig.append(min((a * h + b) % _PM for h in hs))
    return sig


@given(texts=st.lists(text_st, min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_minhash_portable_property(texts):
    from gelos_spark.operators import dedup

    got = dedup.minhash_batch_portable(texts, 8, 5, 42)
    for d, t in enumerate(texts):
        assert got[d].tolist() == _ref_minhash(t)


@given(texts=st.lists(text_st, min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_simhash_portable_property(texts):
    import re as _re

    from gelos_spark.operators import dedup

    def ref(text):
        toks = [w for w in _re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower()) if w]
        votes = [0] * 62
        for w in toks:
            h1, h2 = 42 % _PM, 43 % _PM
            for c in w:
                h1 = (h1 * _PB1 + ord(c)) % _PM
                h2 = (h2 * _PB2 + ord(c)) % _PM
            for j in range(31):
                votes[j] += 1 if (h1 >> j) & 1 else -1
                votes[31 + j] += 1 if (h2 >> j) & 1 else -1
        return sum(1 << j for j in range(62) if votes[j] > 0)

    got = dedup.simhash_batch_portable(texts, 42)
    for d, t in enumerate(texts):
        assert int(got[d]) == ref(t)


# ---- declarative-surface fuzz: validate_config must either accept or
# raise ValueError — never leak a KeyError/TypeError from malformed
# user YAML (the reference's validation discipline, SURVEY §2.8)

_stage_st = st.fixed_dictionaries(
    {},
    optional={
        "name": st.one_of(st.none(), st.text(max_size=8), st.integers(),
                          st.lists(st.text(max_size=3), max_size=2)),
        "op": st.one_of(
            st.none(),
            st.sampled_from(
                ["read_parquet", "sql", "asof_join", "range_join",
                 "quantile_filter", "union_stages", "dedup_near", "nonsense_op"]
            ),
            st.integers(),
        ),
        "input": st.one_of(st.none(), st.text(max_size=8),
                           st.lists(st.text(max_size=3), max_size=2)),
        "args": st.one_of(
            st.none(),
            st.integers(),  # non-dict args must ValueError, not crash
            st.dictionaries(
                st.one_of(
                    st.sampled_from(
                        ["path", "query", "right", "intervals", "others", "pairs",
                         "score_col", "keep_frac", "by", "id_col", "nope"]
                    ),
                    st.integers(),  # a non-string key is an unknown arg
                ),
                st.one_of(st.none(), st.text(max_size=8), st.integers(),
                          st.lists(st.text(max_size=4), max_size=3)),
                max_size=4,
            ),
        ),
    },
)


_base_stage = st.just(
    {"name": "base", "op": "read_parquet", "args": {"path": "/x"}}
)


@given(conf=st.one_of(
    st.dictionaries(st.text(max_size=6), st.integers(), max_size=2),
    # non-dict stage entries must ValueError, not AttributeError
    st.fixed_dictionaries(
        {"stages": st.lists(st.one_of(_stage_st, st.text(max_size=4), st.integers()), max_size=4)}
    ),
    # a VALID first stage so later stages reach the deep branches
    # (ref checks, required args) instead of failing on input wiring
    st.builds(
        lambda base, rest: {"stages": [base] + rest},
        _base_stage,
        st.lists(
            _stage_st.map(
                lambda d: {**d, "input": "base"} if d.get("op") else d
            ),
            max_size=3,
        ),
    ),
))
@settings(max_examples=200, deadline=None)
def test_validate_config_never_crashes(conf):
    from gelos_spark.plans import config as cfg

    try:
        cfg.validate_config(conf)
    except ValueError:
        pass  # the only permitted failure mode
