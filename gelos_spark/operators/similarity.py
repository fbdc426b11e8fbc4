"""Approximate-nearest-neighbor similarity search over an embedding
column (array<float>). Every path returns (query_id, rank, vec_id,
cosine), ranked by (cosine desc, vec_id asc) through `_rank_topk`, and
every cosine is bit-identical to the JVM left fold
``aggregate(zip_with(...))`` (the dot-product oracle in tests/oracles.py).

  - brute-force cosine top-k: the exactness baseline. The query side
    is request-sized and broadcasts (one bounded collect); the corpus
    streams once through the block kernel (`_block_cosine_batches`),
    so pairs exist only as matrix indices inside a task.
  - LSH-bucketed (random-hyperplane signs = SimHash-for-vectors):
    each vector maps to a small set of bucket keys (nbits-bit sign
    pattern x ntables); candidates come from an equi-join on (table,
    bucket), no all-pairs blowup, then the Arrow pair scorer
    (`_cosine_pairs_frame`) re-ranks them exactly. Recall grows with
    ntables.
  - IVF (inverted lists): Lloyd-trained centroids, one centroid
    scoring kernel (`_centroid_scorer`, float or exact-integer) for
    assignment, training and probing, and a scorer chosen by the size
    of the query side. A request-sized query set (it fits the bounded
    ``limit(max_queries+1).toArrow()`` collect) is probed on the
    driver and broadcasts against the probed lists of the index; a
    corpus-sized one stays distributed and meets the index in a
    cogroup on the list id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _norm_expr(a: str) -> F.Column:
    return F.sqrt(
        F.expr(f"aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
    max_queries: int | None = 100_000,
) -> DataFrame:
    """Exact cosine top-k: corpus streamed ONCE against a broadcast
    query matrix -> window. Returns (query_id, rank, vec_id, cosine)
    ordered.

    The query side BROADCASTS (collected once, request-sized — the
    bounded ``limit(max_queries+1).toArrow()`` probe IS the guard,
    the knn_join pattern: zero extra Spark actions), so more than
    ``max_queries`` rows raises. The corpus is scored by the block
    kernel (`_block_cosine_batches`): each corpus vector crosses the
    Arrow boundary once, pairs exist only as matrix indices inside
    the kernel, and the output is scalars-only — the previous
    crossJoin pair-expanded every corpus vector ``nq`` times through
    the scorer. Scores stay bit-identical to the JVM fold. Use
    ``lsh_topk`` or ``ivf_topk(..., collect_queries=False)`` for
    corpus x corpus search; ``max_queries=None`` opts out of the
    bound (the query side is still collected — only do this when it
    genuinely fits on the driver)."""
    import pyarrow as pa

    spark = corpus.sparkSession

    def _overflow():
        raise ValueError(
            f"brute_force_topk broadcasts the query side: got > {max_queries} "
            "query rows. For corpus-sized query sets use lsh_topk or "
            "ivf_topk(collect_queries=False); raise max_queries (or pass "
            "None) only if the broadcast genuinely fits."
        )

    if max_queries is not None and (
        qid_col not in queries.columns or qvec_col not in queries.columns
    ):
        # the guard fires before column resolution (a corpus-shaped
        # frame passed as queries should hit the size bound, not an
        # unresolved-column error)
        if queries.limit(max_queries + 1).count() > max_queries:
            _overflow()
    q_src = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    # toArrow keeps the Spark column types faithfully (a pandas round
    # trip re-infers e.g. int32 ids as int64 and the emitted batches
    # would mismatch the declared mapInArrow schema), and the vectors
    # land as ONE ListArray -> _list_matrix, no per-row stack
    qtbl = (q_src if max_queries is None else q_src.limit(max_queries + 1)).toArrow()
    if max_queries is not None and qtbl.num_rows > max_queries:
        _overflow()
    qidt = queries.schema[qid_col].dataType.simpleString()
    vidt = corpus.schema[id_col].dataType.simpleString()
    if qtbl.num_rows == 0:
        return spark.createDataFrame(
            [], f"query_id {qidt}, rank int, vec_id {vidt}, cosine double"
        )
    qv = qtbl.column("qv").combine_chunks()
    qoff = np.asarray(qv.offsets, dtype=np.int64)
    qm = _list_matrix(qv, qtbl.num_rows, int(qoff[1] - qoff[0]))
    bc = spark.sparkContext.broadcast(
        (qtbl.column("query_id").combine_chunks(), qm, _fold_norms(qm))
    )
    src = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))

    def fn(batches):
        qid_arr, Q, qn = bc.value
        dim = Q.shape[1]
        for b in batches:
            if b.num_rows == 0:
                continue
            C = _list_matrix(b.column("cv"), b.num_rows, dim)
            schema = pa.schema(
                [
                    ("query_id", qid_arr.type),
                    ("vec_id", b.column("vec_id").type),
                    ("cosine", pa.float64()),
                ]
            )
            yield from _block_cosine_batches(
                b.column("vec_id"), C, _fold_norms(C), qid_arr, Q, qn, schema
            )

    return _rank_topk(src.mapInArrow(fn, f"query_id {qidt}, vec_id {vidt}, cosine double"), k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cosine) -> the top-k per query, ranked by
    (cosine desc, vec_id asc), cosine rounded to 6 places: the output
    contract every top-k path shares."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _hyperplanes(dim: int, nbits: int, ntables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((ntables, nbits, dim))


def _portable_planes(dim: int, nbits: int, ntables: int) -> np.ndarray:
    """Deterministic INTEGER hyperplanes in [-3, 3] from an arithmetic
    mix (not an RNG — the SQL oracle must rebuild them with plain
    column math). With vectors quantized to integers
    (floor(x*1000 + 0.5)), every dot product is exact BIGINT/int64
    arithmetic, so bucket codes agree bit-for-bit across engines —
    the dedup-family portability trick applied to ANN bucketing."""
    t = np.arange(ntables, dtype=np.uint64)[:, None, None]
    b = np.arange(nbits, dtype=np.uint64)[None, :, None]
    d = np.arange(dim, dtype=np.uint64)[None, None, :]
    h = (
        (t * np.uint64(131071) + b * np.uint64(8191) + d)
        * np.uint64(2654435761)
    ) % np.uint64(2147483647) % np.uint64(7)
    return h.astype(np.int64) - 3


def _list_matrix(v, num_rows: int, dim: int) -> np.ndarray:
    """Arrow ListArray -> ``[num_rows, dim]`` float64 matrix via ONE
    ``flatten()`` + reshape (zero per-row Python). Per-row lengths are
    validated from the list *offsets* — an aggregate-size check alone
    would let offsetting deviations (e.g. rows of len 3 and 5 with
    dim 4) cancel out and reshape silently into wrong rows. Ragged or
    null batches fall back to a per-row stack so malformed inputs fail
    in NumPy with a real shape/None error, never silently."""
    ok = False
    if v.null_count == 0 and hasattr(v, "offsets"):
        lens = np.diff(np.asarray(v.offsets, dtype=np.int64))
        ok = lens.size == num_rows and bool(np.all(lens == dim))
    if ok:
        return np.asarray(v.flatten(), dtype=np.float64).reshape(num_rows, dim)
    m = np.stack([np.asarray(x, dtype=np.float64) for x in v.to_pylist()])
    if m.shape != (num_rows, dim):
        # uniform rows of the WRONG length stack fine — without this
        # check a corpus/query dimension mismatch would score only the
        # overlapping prefix and return plausible-but-wrong cosines
        raise ValueError(
            f"vector column has shape {m.shape}, expected ({num_rows}, {dim}): "
            "corpus and query embeddings must share one dimensionality"
        )
    return m


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row dot product with the EXACT left-fold summation order of
    the JVM ``aggregate(zip_with(...))`` expression (tests/oracles.py):
    acc = (...((0 + p_0) + p_1)...) + p_{d-1}, each product and add in
    IEEE float64. One vectorized add per dimension (d ops over
    N-length arrays — still batch-level BLAS-ish speed) instead of
    ``np.sum``'s pairwise tree, so the result is BIT-IDENTICAL to the
    JVM scorer, not just close — the oracle-exactness contract every
    top-k path carries survives the kernel swap."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * b[:, d]
    return acc


def _cosine_pairs_frame(df: DataFrame, dim: int) -> DataFrame:
    """Candidate-pair scorer of ``lsh_topk``: a frame of (query_id,
    vec_id, qv, cv, qn, cn) pairs -> (query_id, vec_id, cosine) via
    ``mapInArrow``. The JVM higher-order-function dot costs
    ~145ns/element on this VM (measured round 6: 9.3s for 1M pairs x
    dim 64); this kernel reads both vector columns as single Arrow
    buffers (``_list_matrix``, which validates every row against
    ``dim``) and computes the fold-ordered dot batch-level — same
    bits, ~10x less time. Norms arrive precomputed (JVM
    ``_norm_expr``), and the output is scalars-only, so the window
    shuffle that follows never carries vectors."""
    import pyarrow as pa

    qit = df.schema["query_id"].dataType.simpleString()
    vit = df.schema["vec_id"].dataType.simpleString()

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            qm = _list_matrix(b.column("qv"), b.num_rows, dim)
            cm = _list_matrix(b.column("cv"), b.num_rows, dim)
            qn = np.asarray(b.column("qn"), dtype=np.float64)
            cn = np.asarray(b.column("cn"), dtype=np.float64)
            cos = _fold_dot(cm, qm) / (cn * qn)
            yield pa.RecordBatch.from_arrays(
                [b.column("query_id"), b.column("vec_id"), pa.array(cos)],
                names=["query_id", "vec_id", "cosine"],
            )

    return df.mapInArrow(fn, f"query_id {qit}, vec_id {vit}, cosine double")


def _fold_norms(m: np.ndarray) -> np.ndarray:
    """Row norms in the exact fold order of the JVM ``_norm_expr``:
    left-fold of squares, then sqrt (both IEEE-correctly-rounded, so
    NumPy and the JVM produce the same bits)."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc += m[:, d] * m[:, d]
    return np.sqrt(acc)


def _block_cosine_batches(vec_arr, C, cn, qid_arr, Q, qn, out_schema, max_cells=4_000_000):
    """Score EVERY (corpus row x query row) pair of one block as a
    matrix — vectors enter once per side; pairs exist only as matrix
    indices, never as materialized vector-carrying rows. The fold
    order per pair is exactly `_fold_dot`'s (one outer-product add
    per dimension), so each cosine is bit-identical to the pair
    scorer and to the JVM fold. Queries are processed in chunks so
    the accumulator never exceeds ~``max_cells`` doubles regardless
    of block size. Yields scalar-only RecordBatches."""
    import pyarrow as pa

    nc, dim = C.shape
    nq = Q.shape[0]
    if nc == 0 or nq == 0:
        return
    step = max(1, max_cells // max(nc, 1))
    for j0 in range(0, nq, step):
        Qc, qnc = Q[j0 : j0 + step], qn[j0 : j0 + step]
        nqc = Qc.shape[0]
        acc = np.zeros((nc, nqc), dtype=np.float64)
        for d in range(dim):
            acc += np.multiply.outer(C[:, d], Qc[:, d])
        cos = acc / np.multiply.outer(cn, qnc)
        vi = pa.array(np.repeat(np.arange(nc, dtype=np.int64), nqc))
        qi = pa.array(np.tile(np.arange(j0, j0 + nqc, dtype=np.int64), nc))
        yield pa.RecordBatch.from_arrays(
            [qid_arr.take(qi), vec_arr.take(vi), pa.array(cos.ravel())],
            schema=out_schema,
        )


def _bucket_codes_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    out_id: str,
    quantize: bool = False,
) -> DataFrame:
    """(id, vec) -> (out_id, __v, __codes array<long>) with per-table
    bucket codes (position = table index), computed in ``mapInArrow``:
    the vector column is read as ONE Arrow buffer
    (``ListArray.flatten()`` + reshape — fixed-dim embeddings), so the
    kernel has zero per-row Python anywhere — input conversion, einsum,
    and output assembly are all batch-level. (Round 4 vectorized the
    output via ``codes.tolist()`` in a pandas UDF; the remaining ~0.4s
    of the 0.44s stage was the per-row ``np.asarray`` input stack this
    removes.) The JVM ``posexplode`` downstream yields (tbl, bucket)
    pairs. Per-row lengths are validated from the list offsets
    (``_list_matrix``); ragged batches fall back to a per-row stack so
    malformed inputs fail in NumPy with a shape error, not silently."""
    import pyarrow as pa

    ntables, nbits, dim = planes.shape
    idt = df.schema[id_col].dataType.simpleString()
    vt = df.schema[vec_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("__v"))
    weights = 1 << np.arange(nbits, dtype=np.int64)

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            v = b.column("__v")
            m = _list_matrix(v, b.num_rows, dim)
            if quantize:
                # integer quantization (floor(x*1000 + 0.5), exact in
                # doubles) + int64 planes -> int64 einsum: bucket
                # codes are exact BIGINT arithmetic, reproducible in
                # SQL (the lsh_portable oracle)
                m = np.floor(m * 1000.0 + 0.5).astype(np.int64)
            sgn = np.einsum("tbd,nd->ntb", planes, m) > 0  # [N, T, nbits]
            codes = (sgn * weights[None, None, :]).sum(axis=2)  # [N, T] int64
            offsets = pa.array(
                np.arange(0, (b.num_rows + 1) * ntables, ntables, dtype=np.int32)
            )
            codes_arr = pa.ListArray.from_arrays(
                offsets, pa.array(codes.ravel(), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(out_id), v, codes_arr], names=[out_id, "__v", "__codes"]
            )

    return src.mapInArrow(fn, f"{out_id} {idt}, __v {vt}, __codes array<bigint>")


def lsh_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 12,
    ntables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
    portable: bool = False,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH buckets + exact cosine
    re-rank of candidates. Output schema matches brute_force_topk.

    ``portable=True`` swaps the Gaussian hyperplanes for deterministic
    INTEGER planes over quantized vectors (``_portable_planes``), so
    bucket codes — and therefore the candidate sets and the final
    ranking — are reproducible in pure SQL; the exact re-rank already
    matches DuckDB's fold (the embedding_topk equivalence). The
    DuckDB-oracle verification path (contract query ``lsh_portable``);
    the Gaussian path stays the recall-tested default."""
    dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    planes = (
        _portable_planes(dim, nbits, ntables)
        if portable
        else _hyperplanes(dim, nbits, ntables, seed)
    )

    c = _bucket_codes_frame(
        corpus, id_col, vec_col, planes, "vec_id", quantize=portable
    ).select(
        "vec_id", F.col("__v").alias("cv"), _norm_expr("__v").alias("cn"),
        F.posexplode("__codes").alias("tbl", "bucket"),
    )
    q = _bucket_codes_frame(
        queries, qid_col, qvec_col, planes, "query_id", quantize=portable
    ).select(
        "query_id", F.col("__v").alias("qv"), _norm_expr("__v").alias("qn"),
        F.posexplode("__codes").alias("tbl", "bucket"),
    )

    pairs = c.join(F.broadcast(q), ["tbl", "bucket"]).select(
        "query_id", "vec_id", "qv", "cv", "qn", "cn"
    )
    # exact re-rank through the Arrow pair scorer (bit-identical to
    # the JVM left fold — see _fold_dot), THEN dedup: a pair
    # colliding in several tables re-scores to the same cosine, so
    # deduping after scoring keeps identical rows while the dedup
    # exchange carries 3 scalars per candidate instead of two
    # dim-length vectors (guide §2.3; measured -25% on q_lsh_topk)
    return _rank_topk(_cosine_pairs_frame(pairs, dim).dropDuplicates(["query_id", "vec_id"]), k)


# ----------------------------------------------------------------- IVF

def _centroid_scorer(centroids: np.ndarray, quantize: bool = False):
    """The one centroid-scoring kernel of the IVF family: returns
    ``score(m)`` mapping a ``[N, dim]`` float64 row matrix to ``[N, K]``
    scores. Assignment (``_assign_frame``), Lloyd training
    (``ivf_train``) and both probes take its argmax or stable argsort,
    so ties go to the LOWEST cid everywhere, like SQL's row_number
    ORDER BY score DESC, cid. Built on the driver, so a bad centroid
    matrix fails before any Spark job; the closure pickles into tasks.

    Float form: cosine of the 1e-12-clamped normalised rows and
    centroids. ``quantize=True`` (the portable path): centroids are an
    INTEGER matrix, rows quantize to ``floor(x*1000 + 0.5)``, and the
    score is exact-int dot / |c|. Integer products are exact and
    sqrt/division correctly rounded, so the scores (and the probed
    lists) agree across engines."""
    if quantize:
        cq = centroids.astype(np.int64)
        cnorm = np.sqrt((cq.astype(np.float64) ** 2).sum(axis=1))
        if (cnorm == 0).any():
            # an all-zero quantized centroid would divide to NaN and
            # swallow the whole corpus into one list, and DuckDB's 0/0
            # semantics differ, breaking the cross-engine agreement
            # the quantize path exists for. Fail loudly.
            raise ValueError(
                "quantize=True: centroid(s) with all-zero quantization "
                f"(rows {np.flatnonzero(cnorm == 0).tolist()}): scale up "
                "the vectors or drop degenerate centroids"
            )

        def score(m: np.ndarray) -> np.ndarray:
            mq = np.floor(m * 1000.0 + 0.5).astype(np.int64)
            return (mq @ cq.T).astype(np.float64) / cnorm[None, :]

    else:
        cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

        def score(m: np.ndarray) -> np.ndarray:
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return mn @ cn.T

    return score


def _probe_lists(score, m: np.ndarray, nprobe: int) -> np.ndarray:
    """``[N, nprobe]`` list ids, best first; the stable sort keeps the
    lowest cid on score ties (the argmax tie rule of assignment)."""
    return np.argsort(-score(m), axis=1, kind="stable")[:, :nprobe]


def _broadcast_probe_scored(
    index: DataFrame, qtbl, score, nprobe: int, dim: int, qidt: str, vidt: str
) -> DataFrame:
    """Request-sized IVF scorer: the collected query table is probed on
    the driver, ``(query ids, Q, |Q|, probe lists)`` broadcasts, the
    index is filtered in the JVM to the probed lists, and one
    ``mapInArrow`` scores each list's index rows against the queries
    probing it with the block kernel. Each vector crosses the Arrow
    boundary once, the index streams with zero shuffle, and the output
    is scalars-only (the ``brute_force_topk`` shape)."""
    import pyarrow as pa

    Q = _list_matrix(qtbl.column("qv").combine_chunks(), qtbl.num_rows, dim)
    probes = _probe_lists(score, Q, nprobe)
    bc = index.sparkSession.sparkContext.broadcast(
        (qtbl.column("query_id").combine_chunks(), Q, _fold_norms(Q), probes)
    )
    probed = index.where(F.col("cid").isin(np.unique(probes).tolist()))

    def fn(batches):
        qid_arr, Q, qn, probes = bc.value
        members = {int(c): np.flatnonzero((probes == c).any(axis=1)) for c in np.unique(probes)}
        for b in batches:
            if b.num_rows == 0:
                continue
            schema = pa.schema(
                [
                    ("query_id", qid_arr.type),
                    ("vec_id", b.column("vec_id").type),
                    ("cosine", pa.float64()),
                ]
            )
            cid = np.asarray(b.column("cid"))
            C = _list_matrix(b.column("cv"), b.num_rows, dim)
            cn = np.asarray(b.column("cn"), dtype=np.float64)
            for c in np.unique(cid):
                rows, qs = np.flatnonzero(cid == c), members[int(c)]
                yield from _block_cosine_batches(
                    b.column("vec_id").take(pa.array(rows)), C[rows], cn[rows],
                    qid_arr.take(pa.array(qs)), Q[qs], qn[qs], schema,
                )

    return probed.select("vec_id", "cv", "cn", "cid").mapInArrow(
        fn, f"query_id {qidt}, vec_id {vidt}, cosine double"
    )


def _cogroup_block_scored(
    index: DataFrame, q_src: DataFrame, score, nprobe: int, dim: int, qidt: str, vidt: str
) -> DataFrame:
    """Corpus-sized IVF scorer: the query table stays distributed. A
    ``mapInArrow`` probe runs the centroid kernel per batch and emits
    each query's nprobe list ids, the probe rows explode on cid, and a
    cogroup on cid meets each list's index vectors and probing queries
    ONCE as two blocks, scored by the block kernel inside the task.
    An equi-join would pair-expand both vectors into every candidate
    row; this ships each vector once per probed list and emits
    scalars. The cid shuffle it costs is the bucketed layout
    ``ivf_index`` prescribes anyway: when the query side is a corpus,
    most lists are probed. A group must fit a task (list size x dim
    doubles per side, bounded by n_centroids sizing), and the
    accumulator is query-chunked inside the kernel."""
    import pyarrow as pa

    qvt = q_src.schema["qv"].dataType.simpleString()

    def probe_fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            order = _probe_lists(score, _list_matrix(b.column("qv"), b.num_rows, dim), nprobe)
            offsets = pa.array(np.arange(0, (b.num_rows + 1) * nprobe, nprobe, dtype=np.int32))
            lists = pa.ListArray.from_arrays(offsets, pa.array(order.ravel().astype(np.int32)))
            yield pa.RecordBatch.from_arrays(
                [b.column("query_id"), b.column("qv"), lists],
                names=["query_id", "qv", "__probes"],
            )

    qdf = (
        q_src.mapInArrow(probe_fn, f"query_id {qidt}, qv {qvt}, __probes array<int>")
        .select("query_id", "qv", _norm_expr("qv").alias("qn"), F.explode("__probes").alias("cid"))
    )

    def block(left: pa.Table, right: pa.Table) -> pa.Table:
        schema = pa.schema(
            [
                ("query_id", right.schema.field("query_id").type),
                ("vec_id", left.schema.field("vec_id").type),
                ("cosine", pa.float64()),
            ]
        )
        if left.num_rows == 0 or right.num_rows == 0:
            return pa.Table.from_batches([], schema=schema)
        C = _list_matrix(left.column("cv").combine_chunks(), left.num_rows, dim)
        Q = _list_matrix(right.column("qv").combine_chunks(), right.num_rows, dim)
        cn = np.asarray(left.column("cn").combine_chunks(), dtype=np.float64)
        qn = np.asarray(right.column("qn").combine_chunks(), dtype=np.float64)
        batches = list(
            _block_cosine_batches(
                left.column("vec_id").combine_chunks(),
                C,
                cn,
                right.column("query_id").combine_chunks(),
                Q,
                qn,
                schema,
            )
        )
        return pa.Table.from_batches(batches, schema=schema)

    return (
        index.select("vec_id", "cv", "cn", "cid")
        .groupBy("cid")
        .cogroup(qdf.groupBy("cid"))
        .applyInArrow(block, f"query_id {qidt}, vec_id {vidt}, cosine double")
    )


def _assign_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    quantize: bool = False,
) -> DataFrame:
    """(id, vec) -> (vec_id, cv, cid) with the argmax list id of
    `_centroid_scorer`, computed in ``mapInArrow``: the vector column
    is read as one Arrow buffer (``_list_matrix``), so input
    conversion, the [N, K] matmul and output assembly are all
    batch-level, zero per-row Python."""
    import pyarrow as pa

    score = _centroid_scorer(centroids, quantize)
    dim = centroids.shape[1]
    idt = df.schema[id_col].dataType.simpleString()
    vt = df.schema[vec_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            m = _list_matrix(b.column("cv"), b.num_rows, dim)
            cid = np.argmax(score(m), axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), b.column("cv"), pa.array(cid)],
                names=["vec_id", "cv", "cid"],
            )

    return src.mapInArrow(fn, f"vec_id {idt}, cv {vt}, cid int")


def ivf_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means centroids via Lloyd iterations, fully
    distributed: init = first n_centroids vectors in deterministic
    hash order (seeded, partition-layout-independent); each iteration
    runs ONE narrow mapInArrow pass that assigns every vector to its
    nearest (cosine) centroid and emits per-partition partial sums —
    a [K, dim] float64 matrix + count vector per partition — merged on
    the driver. No shuffle, no row amplification (the previous
    posexplode design shuffled dim x corpus rows per iteration, a
    768x blowup at embedding scale). Input conversion is one
    offsets-validated ``_list_matrix`` flatten+reshape per batch and
    the partial-sum output is assembled as Arrow arrays — zero per-row
    Python in the most-executed loop of the family (runs once per
    Lloyd iteration over the corpus; round 6)."""
    import pyarrow as pa

    init = (
        corpus.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc())
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    cents = np.stack([np.asarray(r[0], dtype=np.float64) for r in init])
    dim = cents.shape[1]
    vecs = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(iters):

        def partial_sums(batches, score=_centroid_scorer(cents), k=n_centroids, dim=dim):
            sums = np.zeros((k, dim), dtype=np.float64)
            cnts = np.zeros(k, dtype=np.int64)
            seen = False
            for b in batches:
                if b.num_rows == 0:
                    continue
                seen = True
                m = _list_matrix(b.column("v"), b.num_rows, dim)
                cid = np.argmax(score(m), axis=1)
                np.add.at(sums, cid, m)
                np.add.at(cnts, cid, 1)
            if not seen:
                return
            nz = np.flatnonzero(cnts)
            offsets = pa.array(np.arange(0, (nz.size + 1) * dim, dim, dtype=np.int32))
            vsum = pa.ListArray.from_arrays(
                offsets, pa.array(sums[nz].ravel(), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(nz.astype(np.int32)),
                    pa.array(cnts[nz], type=pa.int64()),
                    vsum,
                ],
                names=["cid", "cnt", "vsum"],
            )

        rows = vecs.mapInArrow(partial_sums, "cid int, cnt long, vsum array<double>").collect()
        sums = np.zeros((n_centroids, dim), dtype=np.float64)
        cnts = np.zeros(n_centroids, dtype=np.int64)
        for r in sorted(rows, key=lambda r: (r["cid"],)):
            sums[r["cid"]] += np.asarray(r["vsum"], dtype=np.float64)
            cnts[r["cid"]] += r["cnt"]
        new = cents.copy()  # empty clusters keep their old centroid
        nz = cnts > 0
        new[nz] = sums[nz] / cnts[nz, None]
        cents = new
    return cents


def ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> DataFrame:
    """Attach the inverted-list id: (vec_id, cv, cn, cid). At scale
    this is the table you persist bucketed by cid — probes touch only
    nprobe lists instead of the full corpus. ``quantize=True`` takes
    INTEGER centroids and assigns by exact-integer scoring (the
    ``ivf_portable`` oracle path, see `_centroid_scorer`)."""
    return _assign_frame(corpus, id_col, vec_col, centroids, quantize=quantize).select(
        "vec_id", "cv", _norm_expr("cv").alias("cn"), "cid"
    )


def ivf_topk(
    spark: SparkSession,
    index: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
    collect_queries: bool = True,
    quantize: bool = False,
    max_queries: int | None = 100_000,
) -> DataFrame:
    """IVF probe: each query scans only its nprobe nearest inverted
    lists, exact cosine re-rank inside them. Output schema matches
    brute_force_topk; recall grows with nprobe (nprobe = n_centroids
    degenerates to exact search).

    One probe kernel (`_centroid_scorer`), two scorers chosen by the
    size of the query side. ``collect_queries=True`` (the
    retrieval-API default) makes one bounded
    ``limit(max_queries+1).toArrow()`` collect; a query set that fits
    is request-sized and takes the broadcast block scorer
    (`_broadcast_probe_scored`). A larger one, or
    ``collect_queries=False`` (the queries are themselves a corpus,
    e.g. full-table ANN self-search), stays distributed and takes the
    cogroup block scorer (`_cogroup_block_scored`). So a corpus-sized
    frame can never OOM the driver here; ``max_queries=None`` skips the
    bound (the caller asserts the frame is request-sized). Both
    scorers return identical rows, with ``quantize=True`` too (the
    exact-integer ``ivf_portable`` probe; pass the INTEGER centroids
    the index was built with)."""
    nprobe = min(nprobe, len(centroids))
    score = _centroid_scorer(centroids, quantize)
    dim = int(centroids.shape[1])
    qidt = queries.schema[qid_col].dataType.simpleString()
    vidt = index.schema["vec_id"].dataType.simpleString()
    q_src = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    if collect_queries:
        qtbl = (q_src if max_queries is None else q_src.limit(max_queries + 1)).toArrow()
        if max_queries is None or qtbl.num_rows <= max_queries:
            return _rank_topk(
                _broadcast_probe_scored(index, qtbl, score, nprobe, dim, qidt, vidt), k
            )
    return _rank_topk(_cogroup_block_scored(index, q_src, score, nprobe, dim, qidt, vidt), k)
