"""IVF approximate-nearest-neighbor path: deterministic training,
inverted-list probing, recall vs the brute-force oracle, and the
nprobe=n_centroids exactness degeneration."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelos_spark.operators import similarity as sim

import oracles


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(17)
    # 8 well-separated gaussian clusters in 16-d
    centers = rng.standard_normal((8, 16)) * 6.0
    rows = []
    for i in range(600):
        c = i % 8
        rows.append(
            {"vec_id": i, "embedding": (centers[c] + rng.standard_normal(16)).tolist()}
        )
    return spark.createDataFrame(pd.DataFrame(rows)).persist()


def test_list_matrix_validates_per_row_lengths():
    """The batch input kernel under the whole ANN family. Per-row
    lengths are validated from the list OFFSETS — an aggregate-size
    check alone would let deviations cancel (rows of len 3 and 5 with
    dim 4 flatten to 8 == 2*4) and reshape silently into wrong rows
    (round-5 advice). Ragged/null batches must fail loudly via the
    per-row fallback, never silently."""
    import pyarrow as pa

    good = pa.array([[1.0, 2.0, 3.0, 4.0], [5.0, 6.0, 7.0, 8.0]])
    m = sim._list_matrix(good, 2, 4)
    assert m.shape == (2, 4) and m[1, 0] == 5.0 and m.dtype == np.float64

    # a sliced ListArray's offsets don't start at 0 — still exact
    sl = pa.array([[9.0, 9.0, 9.0, 9.0], [1.0, 2.0, 3.0, 4.0]]).slice(1, 1)
    assert np.array_equal(sim._list_matrix(sl, 1, 4), [[1.0, 2.0, 3.0, 4.0]])

    ragged = pa.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]])  # 3+5 == 2*4
    with pytest.raises(ValueError):
        sim._list_matrix(ragged, 2, 4)

    nulls = pa.array([[1.0, 2.0, 3.0, 4.0], None])
    with pytest.raises((TypeError, ValueError)):
        sim._list_matrix(nulls, 2, 4)


def test_fold_dot_bit_equals_jvm(spark):
    """The in-task pair kernel (`_fold_dot`, the request scorer's pass
    over the pairs outside dense blocks) carries BIT-identity with the
    JVM `aggregate(zip_with(...))` left fold — not closeness. Pin the
    two against each other on adversarial float data (9 orders of
    magnitude, sign flips: any summation-order deviation shows up in
    the low bits here), at a dim (37) that exercises the
    odd/non-power-of-two path, over a gather that repeats and permutes
    the rows of both sides as the scorer's member index does."""
    rng = np.random.default_rng(99)
    n, dim = 64, 37
    scale = 10.0 ** rng.integers(-4, 5, size=(n, dim))
    qv = rng.standard_normal((n, dim)) * scale
    cv = rng.standard_normal((n, dim)) * scale
    ci = rng.integers(0, n, size=3 * n)
    qi = rng.integers(0, n, size=3 * n)
    got = sim._fold_dot(
        np.ascontiguousarray(cv.T), ci, np.ascontiguousarray(qv.T), qi
    )
    pdf = pd.DataFrame(
        {
            "p": range(ci.size),
            "qv": [qv[i].tolist() for i in qi],
            "cv": [cv[i].tolist() for i in ci],
        }
    )
    jvm = {
        r["p"]: r["d"]
        for r in spark.createDataFrame(pdf)
        .select("p", oracles._dot_expr("cv", "qv").alias("d"))
        .collect()
    }
    assert len(jvm) == ci.size
    for p in range(ci.size):
        assert jvm[p] == got[p], f"bit mismatch at pair {p}: {jvm[p]!r} != {got[p]!r}"


def test_block_cosine_bit_equals_jvm_fold(spark):
    """The request scorer's dense lists and the cogroup scorer score
    whole blocks through `_block_cosine_batches` (one outer-product
    add per dimension). Its contract is the same BIT-identity with the JVM
    fold that `_fold_dot` carries — the self-search equality test
    can't prove it alone because both sides of that comparison share
    this kernel. Pin the block kernel's full nc x nq cross (with
    query chunking forced via a tiny max_cells, so the chunk seams
    are exercised) against the JVM `_dot_expr`/`_norm_expr` cosine on
    adversarial floats spanning 9 orders of magnitude."""
    import pyarrow as pa

    rng = np.random.default_rng(101)
    nc, nq, dim = 23, 11, 37
    C = rng.standard_normal((nc, dim)) * 10.0 ** rng.integers(-4, 5, size=(nc, dim))
    Q = rng.standard_normal((nq, dim)) * 10.0 ** rng.integers(-4, 5, size=(nq, dim))
    schema = pa.schema(
        [("query_id", pa.int64()), ("vec_id", pa.int64()), ("cosine", pa.float64())]
    )
    got = {}
    for b in sim._block_cosine_batches(
        pa.array(np.arange(nc)), C, sim._fold_norms(C),
        pa.array(np.arange(nq)), Q, sim._fold_norms(Q),
        schema, max_cells=64,  # step=2 queries per chunk at nc=23
    ):
        qs, vs, cs = (col.to_pylist() for col in b.columns)
        got.update(zip(zip(qs, vs), cs))
    assert len(got) == nc * nq
    j = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(nc), "cv": [r.tolist() for r in C]})
    ).crossJoin(
        spark.createDataFrame(
            pd.DataFrame({"query_id": range(nq), "qv": [r.tolist() for r in Q]})
        )
    )
    jvm = {
        (r["query_id"], r["vec_id"]): r["c"]
        for r in j.select(
            "query_id",
            "vec_id",
            (
                oracles._dot_expr("cv", "qv")
                / (sim._norm_expr("cv") * sim._norm_expr("qv"))
            ).alias("c"),
        ).collect()
    }
    for key, val in jvm.items():
        assert got[key] == val, f"bit mismatch at {key}: {got[key]!r} != {val!r}"


def test_lsh_topk_infers_dim_and_rejects_ragged(spark):
    """lsh_topk reads the vector width from its bounded query collect
    and validates every row against it: the query matrix on the
    driver, each index batch in its task. A ragged query side, a
    ragged corpus or a corpus of another width fails loudly instead of
    reshaping into wrong rows."""
    schema = "vec_id long, embedding array<double>"
    qschema = "query_id long, embedding array<double>"
    corpus = spark.createDataFrame([(10, [1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0])], schema)
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0]), (1, [0.0, 2.0, 0.0])], qschema)
    got = sim.lsh_topk(spark, corpus, q, k=1, nbits=4, ntables=4).collect()
    assert [tuple(r) for r in got] == [(0, 1, 10, 1.0), (1, 1, 11, 1.0)]

    ragged_q = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 2.0, 0.0, 1.0])], qschema)
    with pytest.raises(ValueError, match="shape"):
        sim.lsh_topk(spark, corpus, ragged_q, k=1, nbits=4, ntables=4)

    q2 = spark.createDataFrame([(0, [1.0, 0.0])], qschema)
    ragged = spark.createDataFrame([(10, [1.0, 0.0]), (11, [0.0, 1.0, 0.0, 5.0])], schema)
    for bad in (ragged.coalesce(1), corpus):  # ragged rows; every row of width 3
        with pytest.raises(Exception, match="shape"):  # the executor-side error
            sim.lsh_topk(spark, bad, q2, k=1, nbits=4, ntables=4).collect()


def test_ivf_train_deterministic(spark, emb):
    c1 = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
    c2 = sim.ivf_train(emb.repartition(13), n_centroids=8, iters=2, seed=7)
    assert np.allclose(c1, c2)


def test_ivf_recall_and_exact_degeneration(spark, emb):
    cents = sim.ivf_train(emb, n_centroids=8, iters=3, seed=7)
    index = sim.ivf_index(emb, cents).persist()
    q = emb.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.brute_force_topk(emb, q, k=10)
    ann = sim.ivf_topk(spark, index, cents, q, k=10, nprobe=2)
    r = oracles.recall_at_k(ann, exact, 10)
    assert r >= 0.9, f"recall@10 too low: {r}"
    # probing every list == exact search
    full = sim.ivf_topk(spark, index, cents, q, k=10, nprobe=8)
    a = [(x.query_id, x.rank, x.vec_id) for x in full.collect()]
    b = [(x.query_id, x.rank, x.vec_id) for x in exact.collect()]
    assert a == b
    # an empty request-sized query set is an empty result, not an error
    assert sim.ivf_topk(spark, index, cents, q.limit(0), k=10).count() == 0


def test_ivf_distributed_probe_identical_to_driver_path(spark):
    """collect_queries=False (the corpus-sized cogroup scorer) returns
    exactly the rows of the request-sized broadcast scorer, full and
    partial probe, for Lloyd centroids and for the quantized portable
    probe."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
    qcents = sim.portable_centroids(emb, 8, "vec_id", "embedding")
    q = emb.where("vec_id < 12").selectExpr("vec_id AS query_id", "embedding")
    for c, quantize in ((cents, False), (qcents, True)):
        index = sim.ivf_index(emb, c, quantize=quantize)
        for nprobe in (8, 2):
            a = sim.ivf_topk(spark, index, c, q, k=10, nprobe=nprobe, quantize=quantize)
            b = sim.ivf_topk(
                spark, index, c, q, k=10, nprobe=nprobe, collect_queries=False,
                quantize=quantize,
            )
            assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_ivf_quantize_rejects_all_zero_centroid(spark, emb):
    """A centroid that quantizes to all zeros would score NaN against
    every row and swallow the corpus into one list; the quantized
    scorer raises before any Spark job, at index build and at probe."""
    cents = np.ones((4, 16), dtype=np.int64)
    cents[2] = 0
    q = emb.where("vec_id < 4").selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="all-zero"):
        sim.ivf_index(emb, cents, quantize=True)
    index = sim.ivf_index(emb, np.ones((4, 16), dtype=np.int64), quantize=True)
    for collect_queries in (True, False):
        with pytest.raises(ValueError, match="all-zero"):
            sim.ivf_topk(
                spark, index, cents, q, k=3, nprobe=2, quantize=True,
                collect_queries=collect_queries,
            )


def test_ivf_topk_request_sized_driver_action_budget(spark, emb, jobs_launched):
    """A request-sized ivf_topk call plus its result collect launches
    at most 6 Spark jobs: the bounded query collect, then the ranked
    result's stages. 6 is what the pair-join probe this path replaced
    took; the broadcast block scorer takes 5. An added count() or
    collect() in the operator fails here."""
    cents = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
    index = sim.ivf_index(emb, cents)
    q = emb.where("vec_id < 12").selectExpr("vec_id AS query_id", "embedding")
    rows = []
    jobs = jobs_launched(
        "ivf_budget",
        lambda: rows.extend(sim.ivf_topk(spark, index, cents, q, k=10, nprobe=2).collect()),
    )
    assert len(rows) == 120
    assert jobs <= 6, jobs


def test_ivf_corpus_self_search_stays_distributed(spark):
    """The ann_topk no-query_ids path at engine level: corpus x corpus
    self-search with collect_queries=False must keep the query side
    distributed (the executed plan's join inputs are both parquet
    scans + MapInArrow — no LocalTableScan / Scan ExistingRDD from a
    driver-collected probe table), and with a full probe it equals
    brute force row for row."""
    import io
    from contextlib import redirect_stdout

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
    index = sim.ivf_index(emb, cents)
    self_q = emb.selectExpr("vec_id AS query_id", "embedding")
    out = sim.ivf_topk(spark, index, cents, self_q, k=5, nprobe=8,
                       collect_queries=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "LocalTableScan" not in plan and "Scan ExistingRDD" not in plan
    assert plan.count("Scan parquet") >= 2  # index side AND query side
    exact = sim.brute_force_topk(emb, self_q, k=5, qid_col="query_id")
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in exact.collect()]


def test_brute_force_topk_guards_corpus_sized_query_side(spark, monkeypatch, collect_sizes):
    """The query side broadcasts, so a query table past MAX_QUERIES
    must raise with a pointer to the bucketed paths, after a collect
    of at most MAX_QUERIES+1 rows. A query frame without the query id
    column fails at analysis, before any collect."""
    from pyspark.errors import AnalysisException

    monkeypatch.setattr(sim, "MAX_QUERIES", 32)
    rows = [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="lsh_topk"):
        sim.brute_force_topk(emb, emb, k=3, qid_col="vec_id")
    assert collect_sizes == [33]
    with pytest.raises(AnalysisException):
        sim.brute_force_topk(emb, emb, k=3)
    assert collect_sizes == [33]
    # under the bound it runs
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert sim.brute_force_topk(emb, q, k=3).count() == 12


@pytest.mark.parametrize("dense", [0, sim.DENSE_BLOCK_PAIRS])
def test_brute_force_topk_equals_jvm_cross_join(spark, monkeypatch, dense):
    """brute_force_topk against an independent JVM reference: a
    crossJoin scored by the `_dot_expr`/`_norm_expr` fold, ranked by
    row_number over (cosine desc, vec_id asc). Ids, ranks and cosines
    are equal on adversarial floats spanning 9 orders of magnitude,
    through the block kernel (every list dense) and the pair kernel
    (this small a list is below the default DENSE_BLOCK_PAIRS)."""
    from pyspark.sql import Window

    monkeypatch.setattr(sim, "DENSE_BLOCK_PAIRS", dense)
    rng = np.random.default_rng(101)
    nc, nq, dim, k = 23, 11, 37, 8
    C = rng.standard_normal((nc, dim)) * 10.0 ** rng.integers(-4, 5, size=(nc, dim))
    Q = rng.standard_normal((nq, dim)) * 10.0 ** rng.integers(-4, 5, size=(nq, dim))
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(nc), "embedding": [r.tolist() for r in C]})
    ).repartition(3)
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": range(nq), "embedding": [r.tolist() for r in Q]})
    )
    got = _rows(sim.brute_force_topk(corpus, q, k=k))
    w = Window.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("vec_id").asc())
    ref = (
        corpus.selectExpr("vec_id", "embedding AS cv")
        .crossJoin(q.selectExpr("query_id", "embedding AS qv"))
        .select(
            "query_id",
            "vec_id",
            (
                oracles._dot_expr("cv", "qv")
                / (sim._norm_expr("cv") * sim._norm_expr("qv"))
            ).alias("c"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("c", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )
    assert len(got) == nq * k
    assert got == _rows(ref)


def test_brute_force_topk_request_sized_driver_action_budget(spark, emb, jobs_launched):
    """A request-sized brute_force_topk call plus its result collect
    launches at most 5 Spark jobs, the count of the broadcast block
    loop this path replaced: the bounded query collect, then the
    ranked result's stages. An added count() or collect() in the
    operator fails here."""
    q = emb.where("vec_id < 12").selectExpr("vec_id AS query_id", "embedding")
    rows = []
    jobs = jobs_launched(
        "brute_budget", lambda: rows.extend(sim.brute_force_topk(emb, q, k=10).collect())
    )
    assert len(rows) == 120
    assert jobs <= 5, jobs


def test_lsh_topk_recall_vs_brute_force(spark):
    """Random-hyperplane LSH with enough tables recovers most of the
    exact top-k; returned scores are true cosines (exact re-rank), so
    every (query, vec) pair the ANN finds must carry the same cosine
    the brute-force path assigns it. Pins the vectorized (posexplode
    of array<long> codes) bucket emission to the pre-vectorized
    semantics."""
    rng = np.random.default_rng(17)
    base = rng.standard_normal((8, 16))
    rows = []
    for i in range(400):
        v = base[i % 8] + 0.15 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.brute_force_topk(emb, q, k=10)
    ann = sim.lsh_topk(spark, emb, q, k=10, nbits=8, ntables=12, seed=42)
    r = oracles.recall_at_k(ann, exact, 10)
    assert r >= 0.85, f"LSH recall@10 too low: {r}"
    ex = {(x.query_id, x.vec_id): x.cosine for x in exact.collect()}
    for row in ann.collect():
        key = (row.query_id, row.vec_id)
        if key in ex:
            assert abs(row.cosine - ex[key]) < 1e-9
    # determinism: same seed, same buckets, same rows
    again = sim.lsh_topk(spark, emb, q, k=10, nbits=8, ntables=12, seed=42)
    assert sorted(map(tuple, ann.collect())) == sorted(map(tuple, again.collect()))


def test_lsh_topk_sparse_partitions(spark):
    """The Arrow bucketizer must survive empty input batches: a
    3-vector corpus spread over 16 partitions leaves most mapInArrow
    batches empty, and the result still matches brute force exactly
    (3 vectors -> every bucket join is also the exact candidate set)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]]}
    )
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<double>").repartition(16)
    q = emb.where("vec_id = 0")
    ann = sim.lsh_topk(spark, emb, q, k=3, nbits=4, ntables=16, seed=1,
                       qid_col="vec_id").toPandas()
    exact = sim.brute_force_topk(emb, q, k=3, qid_col="vec_id").toPandas()
    got = ann.merge(exact, on=["query_id", "vec_id", "cosine"])
    # with 16 tables on 3 vectors the union of buckets is the full set
    assert len(exact) == 3 and len(got) == len(ann) == 3


def test_brute_force_topk_rejects_dim_mismatch(spark):
    """Corpus and query embeddings of different dimensionality must
    fail loudly — uniform rows of the WRONG length pass the ragged
    offsets check and would otherwise score only the overlapping
    prefix into plausible-but-wrong cosines (round-6 review)."""
    corpus = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, [1.0, 2.0])], "query_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dimensionality|shape"):
        sim.brute_force_topk(corpus, q, k=2).collect()


def test_brute_force_topk_keeps_narrow_id_types(spark):
    """int32 and string query ids must survive the broadcast
    round-trip of brute_force_topk and of request-sized ivf_topk: the
    query side is collected via toArrow (type-faithful), so the
    emitted batches match the declared mapInArrow schema."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    cents = np.array([[1.0, 1.0], [5.0, 1.0]])
    index = sim.ivf_index(corpus, cents)
    for qid, qidt in (("CAST(id AS INT)", "int"), ("CONCAT('q', id)", "string")):
        q = spark.range(2).selectExpr(
            f"{qid} AS query_id", "array(CAST(id AS DOUBLE), 1.0D) AS embedding"
        )
        out = sim.brute_force_topk(corpus, q, k=3)
        assert out.schema["query_id"].dataType.simpleString() == qidt
        assert out.count() == 6
        ivf = sim.ivf_topk(spark, index, cents, q, k=3, nprobe=2)
        assert ivf.schema["query_id"].dataType.simpleString() == qidt
        assert [tuple(r) for r in ivf.collect()] == [tuple(r) for r in out.collect()]


def test_lsh_portable_matches_numpy_reference(spark):
    """lsh_topk(portable=True) vs a from-first-principles NumPy
    reference of the whole pipeline: integer planes, quantized int64
    bucket codes, (table, code) candidate collisions, exact cosine
    re-rank — the same arithmetic the lsh_portable DuckDB oracle runs
    in SQL."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nt, nb = 4, 8
    out = sim.lsh_topk(spark, emb, q, k=5, nbits=nb, ntables=nt, portable=True)
    got = [(r.query_id, r.rank, r.vec_id, r.cosine) for r in out.collect()]

    pdf = emb.toPandas().sort_values("vec_id")
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy()
    dim = V.shape[1]
    P = sim._portable_planes(dim, nb, nt)
    Vq = np.floor(V * 1000.0 + 0.5).astype(np.int64)
    dots = np.einsum("tbd,nd->ntb", P, Vq)
    codes = ((dots > 0) * (1 << np.arange(nb, dtype=np.int64))).sum(axis=2)
    norm = np.sqrt((V * V).sum(axis=1))
    exp = []
    for qi in np.flatnonzero(ids < 4):
        cand = set()
        for t in range(nt):
            cand.update(np.flatnonzero(codes[:, t] == codes[qi, t]).tolist())
        # sequential per-dimension fold, matching the Arrow scorer
        scored = []
        for ci in sorted(cand):
            acc = 0.0
            for d in range(dim):
                acc += V[ci, d] * V[qi, d]
            scored.append((acc / (norm[ci] * norm[qi]), int(ids[ci])))
        ranked = sorted(scored, key=lambda cv: (-cv[0], cv[1]))[:5]
        for r, (cos, v) in enumerate(ranked, 1):
            exp.append((int(ids[qi]), r, v, round(cos, 6)))
    assert got == sorted(exp, key=lambda x: (x[0], x[1]))


def test_ivf_portable_matches_numpy_reference(spark):
    """ivf_index/ivf_topk(quantize=True) vs a from-first-principles
    NumPy reference: integer centroids (quantized first-C corpus
    vectors), exact-integer assignment + probe scoring with
    lowest-cid ties, candidates from probed lists, exact cosine
    re-rank — the arithmetic the ivf_portable DuckDB oracle runs."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    C, nprobe, k = 8, 3, 5
    cpdf = emb.where(F.col("vec_id") < C).orderBy("vec_id").toPandas()
    cents = np.floor(
        np.stack([np.asarray(v, dtype=np.float64) for v in cpdf.embedding]) * 1000.0
        + 0.5
    ).astype(np.int64)
    index = sim.ivf_index(emb, cents, quantize=True)
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_topk(spark, index, cents, q, k=k, nprobe=nprobe, quantize=True)
    got = [(r.query_id, r.rank, r.vec_id, r.cosine) for r in out.collect()]

    pdf = emb.toPandas().sort_values("vec_id")
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy()
    Vq = np.floor(V * 1000.0 + 0.5).astype(np.int64)
    cnorm = np.sqrt((cents.astype(np.float64) ** 2).sum(axis=1))
    scores = (Vq @ cents.T).astype(np.float64) / cnorm[None, :]
    cid = scores.argmax(axis=1)
    norm = np.sqrt((V * V).sum(axis=1))
    exp = []
    for qi in np.flatnonzero(ids < 4):
        order = np.argsort(-scores[qi], kind="stable")[:nprobe]
        probed = set(int(c) for c in order)
        scored = []
        for ci in range(len(ids)):
            if int(cid[ci]) not in probed:
                continue
            acc = 0.0
            for d in range(V.shape[1]):
                acc += V[ci, d] * V[qi, d]
            scored.append((acc / (norm[ci] * norm[qi]), int(ids[ci])))
        ranked = sorted(scored, key=lambda cv: (-cv[0], cv[1]))[:k]
        for r, (cos, v) in enumerate(ranked, 1):
            exp.append((int(ids[qi]), r, v, round(cos, 6)))
    assert got == sorted(exp, key=lambda x: (x[0], x[1]))


def test_ivf_topk_corpus_sized_queries_auto_dispatch(spark, monkeypatch, collect_sizes):
    """ivf_topk(collect_queries=True) must NEVER fully collect a query
    frame past MAX_QUERIES (the silent-OOM edge the knn_join /
    brute_force_topk guards already close): the probe is the bounded
    limit(MAX_QUERIES+1).toArrow() collect the path needs anyway, and
    on overflow the call routes to the distributed probe, returning
    rows identical to calling it directly. Every collect the call
    makes is recorded and must hold at most MAX_QUERIES+1 rows."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
    index = sim.ivf_index(emb, cents)
    q = emb.where("vec_id < 40").selectExpr("vec_id AS query_id", "embedding")
    monkeypatch.setattr(sim, "MAX_QUERIES", 16)
    collect_sizes.clear()  # count only ivf_topk's collects
    got = sim.ivf_topk(spark, index, cents, q, k=5, nprobe=4)
    assert collect_sizes and max(collect_sizes) <= 17, collect_sizes
    exp = sim.ivf_topk(
        spark, index, cents,
        emb.where("vec_id < 40").selectExpr("vec_id AS query_id", "embedding"),
        k=5, nprobe=4, collect_queries=False,
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_lsh_topk_collects_at_most_max_queries_plus_one(spark, emb, monkeypatch, collect_sizes):
    """lsh_topk's only query-side collect is the bounded
    limit(MAX_QUERIES+1).toArrow(): a 16-query call under a bound of 3
    collects at most 4 rows, plans no broadcast (the query side stays
    distributed in the cogroup scorer) and returns the rows of the
    request path."""
    from pyspark.sql.classic.dataframe import DataFrame

    q = emb.where("vec_id < 16").selectExpr("vec_id AS query_id", "embedding")
    exp = _rows(sim.lsh_topk(spark, emb, q, k=5, nbits=6, ntables=4))
    monkeypatch.setattr(sim, "MAX_QUERIES", 3)
    collect_sizes.clear()
    out = sim.lsh_topk(spark, emb, q, k=5, nbits=6, ntables=4)
    assert collect_sizes and max(collect_sizes) <= 4, collect_sizes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    monkeypatch.setattr(DataFrame, "toArrow", lambda self: pytest.fail("second collect"))
    assert _rows(out) == exp


@pytest.mark.parametrize("method", ["ivf", "lsh"])
def test_request_scorer_kernels_agree(spark, monkeypatch, emb, method):
    """The request scorer scores a list's block with the block kernel
    at or above DENSE_BLOCK_PAIRS pairs and every other pair with the
    pair kernel. Forcing either kernel for every list gives the same
    rows, bit for bit, for IVF and for LSH, also when the gather runs
    in passes of a few pairs (GATHER_PAIRS)."""
    q = emb.where("vec_id < 24").selectExpr("vec_id AS query_id", "embedding")
    if method == "ivf":
        cents = sim.ivf_train(emb, n_centroids=8, iters=2, seed=7)
        index = sim.ivf_index(emb, cents)

        def call():
            return _rows(sim.ivf_topk(spark, index, cents, q, k=10, nprobe=3))
    else:
        def call():
            return _rows(sim.lsh_topk(spark, emb, q, k=10, nbits=4, ntables=6))
    got = []
    for dense, gather in ((0, 1 << 20), (10**12, 1 << 20), (10**12, 7)):
        monkeypatch.setattr(sim, "DENSE_BLOCK_PAIRS", dense)
        monkeypatch.setattr(sim, "GATHER_PAIRS", gather)
        got.append(call())
    assert len(got[0]) == 240
    assert got[0] == got[1] == got[2]


def test_lsh_topk_request_sized_driver_action_budget(spark, emb, jobs_launched):
    """A request-sized lsh_topk call plus its result collect launches
    at most 6 Spark jobs: the bounded query collect, then the stages
    of the pair dedup and the ranked result. The width probe and the
    broadcast pair join this path replaced took 7. An added count(),
    first() or collect() in the operator fails here."""
    q = emb.where("vec_id < 12").selectExpr("vec_id AS query_id", "embedding")
    rows = []
    jobs = jobs_launched(
        "lsh_budget",
        lambda: rows.extend(sim.lsh_topk(spark, emb, q, k=10, nbits=6, ntables=4).collect()),
    )
    assert len(rows) == 120
    assert jobs <= 6, jobs
