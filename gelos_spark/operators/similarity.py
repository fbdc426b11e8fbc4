"""Approximate-nearest-neighbor similarity search over an embedding
column (array<float>). Every path returns (query_id, rank, vec_id,
cosine), ranked by (cosine desc, vec_id asc) through `_rank_topk`, and
every cosine is bit-identical to the JVM left fold
``aggregate(zip_with(...))`` (the dot-product oracle in tests/oracles.py).

Every path is one inverted-list search. A list function maps a
vector to list ids; the corpus is indexed under its ids, and a query
is scored against the index rows of the lists its own list function
gives.

  - brute-force cosine top-k, the exactness baseline: ONE list that
    every corpus row is in and every query probes. The index is a JVM
    projection, and the query side must be request-sized.
  - IVF (Lloyd-trained centroids, one centroid kernel
    `_centroid_scorer`, float or exact-integer) indexes a vector under
    its argmax centroid and probes a query's top ``nprobe`` lists.
  - LSH (random-hyperplane signs = SimHash for vectors) indexes and
    probes each table's nbits-bit sign code, offset by
    ``table << nbits``; recall grows with ntables.

IVF and LSH build the index with `_index_frame` and pick a scorer by
the size of the query side: a query set that fits the bounded
``limit(MAX_QUERIES+1).toArrow()`` collect is probed on the driver and
broadcasts against the probed lists of the index
(`_broadcast_probe_scored`); a corpus-sized one stays distributed and
meets the index in a cogroup on the list id (`_cogroup_block_scored`).
Brute force takes the broadcast scorer only: in its one list the
cogroup would be a single task holding the corpus and every query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# query rows at or below which a top-k call collects its query side
# (one bounded ``limit(MAX_QUERIES+1).toArrow()``) and broadcasts it.
# Past it, brute_force_topk raises and IVF and LSH keep the query
# side distributed.
MAX_QUERIES = 100_000

# (index rows x probing queries) of one list in one batch at or above
# which the request scorer scores the list as a block; a smaller list
# would pay ~100 us of per-block overhead, so the batch's remaining
# pairs are gathered and scored together by the pair kernel. Either
# kernel gives the same bits.
DENSE_BLOCK_PAIRS = 4096
# pairs per gather pass of the request scorer's pair kernel, so its
# index arrays stay ~8 MB whatever a batch's pair count
GATHER_PAIRS = 1 << 20


def _norm_expr(a: str) -> F.Column:
    return F.sqrt(
        F.expr(f"aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    )


def _bounded_collect(q_src: DataFrame):
    """The one query-side collect of a top-k call, bounded:
    ``limit(MAX_QUERIES+1).toArrow()``, so a table past the bound shows
    as ``MAX_QUERIES + 1`` rows. toArrow keeps the Spark column types
    faithfully (a pandas round trip re-infers e.g. int32 ids as int64
    and the emitted batches would mismatch the declared mapInArrow
    schema), and the vectors land as ONE ListArray -> `_list_matrix`,
    no per-row stack."""
    return q_src.limit(MAX_QUERIES + 1).toArrow()


def _no_rows(spark: SparkSession, qidt: str, vidt: str) -> DataFrame:
    """The empty top-k result of an empty query set."""
    return spark.createDataFrame([], f"query_id {qidt}, rank int, vec_id {vidt}, cosine double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: the inverted-list search over ONE list that
    every corpus row is in and every query probes. Returns (query_id,
    rank, vec_id, cosine) ordered.

    The index is a JVM projection (list id 0, the JVM norm), and the
    request scorer (`_broadcast_probe_scored`) streams the corpus once
    against the broadcast query matrix. The query side is collected by
    the bounded ``limit(MAX_QUERIES+1).toArrow()``, so more than
    ``MAX_QUERIES`` rows raises (module docstring). Use
    ``lsh_topk`` or ``ivf_topk`` for corpus x corpus search."""
    spark = corpus.sparkSession
    q_src = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    qtbl = _bounded_collect(q_src)
    if qtbl.num_rows > MAX_QUERIES:
        raise ValueError(
            f"brute_force_topk broadcasts the query side: got > {MAX_QUERIES} "
            "query rows. For corpus-sized query sets use lsh_topk or ivf_topk."
        )
    qidt = queries.schema[qid_col].dataType.simpleString()
    vidt = corpus.schema[id_col].dataType.simpleString()
    if qtbl.num_rows == 0:
        return _no_rows(spark, qidt, vidt)
    index = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        _norm_expr(vec_col).alias("cn"),
        F.lit(0).cast("bigint").alias("cid"),
    )
    dim = len(qtbl.column("qv")[0])
    scored = _broadcast_probe_scored(
        index, qtbl, lambda m: np.zeros((len(m), 1), np.int64), dim, qidt, vidt
    )
    return _rank_topk(scored, k)


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


def _quantize(m: np.ndarray) -> np.ndarray:
    """The portable quantizer: ``floor(x*1000 + 0.5)`` as int64, exact
    in doubles, so integer dot products of quantized rows reproduce in
    SQL (the oracles write the same expression)."""
    return np.floor(m * 1000.0 + 0.5).astype(np.int64)


def portable_centroids(corpus: DataFrame, n: int, id_col: str, vec_col: str) -> np.ndarray:
    """Training-free INTEGER IVF centroids for ``quantize=True``: the
    first ``n`` corpus vectors by id, quantized (the ``ivf_portable``
    oracle rebuilds them in SQL)."""
    tbl = corpus.orderBy(id_col).limit(n).select(vec_col).toArrow()
    v = tbl.column(vec_col).combine_chunks()
    return _quantize(_list_matrix(v, tbl.num_rows, len(v[0])))


def _portable_planes(dim: int, nbits: int, ntables: int) -> np.ndarray:
    """Deterministic INTEGER hyperplanes in [-3, 3] from an arithmetic
    mix (not an RNG — the SQL oracle must rebuild them with plain
    column math). With vectors quantized to integers
    (`_quantize`), every dot product is exact BIGINT/int64
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


def _fold_dot(at: np.ndarray, ai: np.ndarray, bt: np.ndarray, bi: np.ndarray) -> np.ndarray:
    """The pair kernel: the dot product of each column pair
    ``(at[:, ai[p]], bt[:, bi[p]])`` with the EXACT left-fold summation
    order of the JVM ``aggregate(zip_with(...))`` expression
    (tests/oracles.py): acc = (...((0 + p_0) + p_1)...) + p_{d-1},
    each product and add in IEEE float64. ``at`` and ``bt`` are the
    transposed ``[dim, N]`` row matrices, so each step gathers from one
    contiguous row: one vectorized add per dimension instead of
    ``np.sum``'s pairwise tree, and the result is BIT-IDENTICAL to the
    JVM scorer and to the block kernel, not just close."""
    acc = np.zeros(ai.size, dtype=np.float64)
    for d in range(at.shape[0]):
        acc += at[d][ai] * bt[d][bi]
    return acc


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


def _sign_lists(planes: np.ndarray, quantize: bool):
    """The LSH list function: each table's nbits-bit sign pattern
    (bit b set when plane b's dot is positive) offset by
    ``table << nbits``, so every (table, code) is one list id.
    ``quantize=True`` (the portable path) quantizes the rows to
    integers (`_quantize`) against the int64
    planes, so the codes are exact BIGINT arithmetic, reproducible in
    SQL (the lsh_portable oracle)."""
    ntables, nbits, _ = planes.shape
    weights = 1 << np.arange(nbits, dtype=np.int64)
    offsets = np.arange(ntables, dtype=np.int64) << nbits

    def lists(m: np.ndarray) -> np.ndarray:
        if quantize:
            m = _quantize(m)
        sgn = np.einsum("tbd,nd->ntb", planes, m) > 0  # [N, T, nbits]
        return (sgn * weights).sum(axis=2) + offsets

    return lists


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

    The buckets are inverted lists (`_sign_lists`): the corpus is
    indexed and the queries probe with the same list function, through
    the IVF scorers and size rule. The bounded query collect also
    gives the vector width that sizes the hyperplanes; an empty query
    set returns before any index is built. A pair that collides in
    several tables scores to the same cosine in each, and is kept
    once.

    ``portable=True`` swaps the Gaussian hyperplanes for deterministic
    INTEGER planes over quantized vectors (``_portable_planes``), so
    bucket codes — and therefore the candidate sets and the final
    ranking — are reproducible in pure SQL; the exact re-rank already
    matches DuckDB's fold (the embedding_topk equivalence). The
    DuckDB-oracle verification path (contract query ``lsh_portable``);
    the Gaussian path stays the recall-tested default."""
    qidt = queries.schema[qid_col].dataType.simpleString()
    vidt = corpus.schema[id_col].dataType.simpleString()
    q_src = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    qtbl = _bounded_collect(q_src)
    if qtbl.num_rows == 0:
        return _no_rows(spark, qidt, vidt)
    dim = len(qtbl.column("qv")[0])
    planes = (
        _portable_planes(dim, nbits, ntables)
        if portable
        else _hyperplanes(dim, nbits, ntables, seed)
    )
    lists = _sign_lists(planes, portable)
    index = _index_frame(corpus, id_col, vec_col, lists, dim)
    scored = _inverted_topk(index, q_src, qtbl, lists, dim, qidt, vidt)
    return _rank_topk(scored.dropDuplicates(["query_id", "vec_id"]), k)


# ------------------------------------------------ IVF / inverted lists
#
# LSH and IVF are one inverted-list search. A list function maps a
# ``[N, dim]`` float64 row matrix to ``[N, L]`` int64 list ids; the
# index holds one row per (vector, list id), and a query is scored
# against the index rows of the lists its own list function gives.

def _centroid_scorer(centroids: np.ndarray, quantize: bool = False):
    """The one centroid-scoring kernel of the IVF family: returns
    ``score(m)`` mapping a ``[N, dim]`` float64 row matrix to ``[N, K]``
    scores. Assignment (``ivf_index``), Lloyd training (``ivf_train``)
    and the probe (``ivf_topk``) take its argmax or stable argsort,
    so ties go to the LOWEST cid everywhere, like SQL's row_number
    ORDER BY score DESC, cid. Built on the driver, so a bad centroid
    matrix fails before any Spark job; the closure pickles into tasks.

    Float form: cosine of the 1e-12-clamped normalised rows and
    centroids. ``quantize=True`` (the portable path): centroids are an
    INTEGER matrix, rows quantize through `_quantize`, and the
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
            return (_quantize(m) @ cq.T).astype(np.float64) / cnorm[None, :]

    else:
        cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

        def score(m: np.ndarray) -> np.ndarray:
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return mn @ cn.T

    return score


def _broadcast_probe_scored(
    index: DataFrame, qtbl, lists, dim: int, qidt: str, vidt: str
) -> DataFrame:
    """Request-sized scorer: the collected (non-empty) query table is
    probed on the driver, and ``(query ids, Q, |Q|, list members)``
    broadcasts. The members are grouped with one argsort: the query
    rows probing ``keys[i]`` are ``members[bounds[i]:bounds[i+1]]``.
    The index is filtered in the JVM to the probed lists by ONE ``IN``
    expression (an ``isin`` over thousands of ids costs one py4j call
    per literal), and one ``mapInArrow`` scores each batch: a list
    whose block (rows x probing queries) holds at least
    ``DENSE_BLOCK_PAIRS`` pairs through the block kernel, the batch's
    remaining pairs in one pass of the pair kernel (`_fold_dot`). Each
    vector crosses the Arrow boundary once, the index streams with
    zero shuffle, and the output is scalars-only."""
    import pyarrow as pa

    Q = _list_matrix(qtbl.column("qv").combine_chunks(), qtbl.num_rows, dim)
    probes = lists(Q)
    flat = probes.ravel()
    order = np.argsort(flat, kind="stable")
    keys, starts = np.unique(flat[order], return_index=True)
    bc = index.sparkSession.sparkContext.broadcast(
        (
            qtbl.column("query_id").combine_chunks(),
            Q,
            _fold_norms(Q),
            keys,
            np.append(starts, flat.size),
            order // probes.shape[1],
        )
    )
    probed = index.where(F.expr(f"cid IN ({', '.join(map(str, keys.tolist()))})"))

    def fn(batches):
        qid_arr, Q, qn, keys, bounds, members = bc.value
        QT = np.ascontiguousarray(Q.T)
        for b in batches:
            if b.num_rows == 0:
                continue
            vec_arr = b.column("vec_id")
            schema = pa.schema(
                [("query_id", qid_arr.type), ("vec_id", vec_arr.type), ("cosine", pa.float64())]
            )
            C = _list_matrix(b.column("cv"), b.num_rows, dim)
            cn = np.asarray(b.column("cn"), dtype=np.float64)
            cid = np.asarray(b.column("cid"))
            rows = np.argsort(cid, kind="stable")
            cids, first, nrows = np.unique(cid[rows], return_index=True, return_counts=True)
            pos = np.searchsorted(keys, cids)
            lo, nq = bounds[pos], bounds[pos + 1] - bounds[pos]
            dense = nrows * nq >= DENSE_BLOCK_PAIRS
            for f, n, l, m in zip(first[dense], nrows[dense], lo[dense], nq[dense]):
                r, qs = rows[f : f + n], members[l : l + m]
                yield from _block_cosine_batches(
                    vec_arr.take(pa.array(r)), C[r], cn[r],
                    qid_arr.take(pa.array(qs)), Q[qs], qn[qs], schema,
                )
            # every other pair of the batch: row ri[p] against query
            # qi[p], gathered from the transposed matrices in passes of
            # about GATHER_PAIRS pairs (rows of dense lists pair with 0)
            per_row = np.repeat(nq * ~dense, nrows)
            if not per_row.any():
                continue
            lo_row = np.repeat(lo, nrows)
            CT = np.ascontiguousarray(C.T)
            step = max(1, GATHER_PAIRS // int(per_row.max()))
            for r0 in range(0, rows.size, step):
                pr = per_row[r0 : r0 + step]
                if not pr.any():
                    continue
                ri = np.repeat(rows[r0 : r0 + step], pr)
                qi = members[np.repeat(lo_row[r0 : r0 + step] - (np.cumsum(pr) - pr), pr)
                             + np.arange(ri.size)]
                cos = _fold_dot(CT, ri, QT, qi) / (cn[ri] * qn[qi])
                yield pa.RecordBatch.from_arrays(
                    [qid_arr.take(pa.array(qi)), vec_arr.take(pa.array(ri)), pa.array(cos)],
                    schema=schema,
                )

    return probed.select("vec_id", "cv", "cn", "cid").mapInArrow(
        fn, f"query_id {qidt}, vec_id {vidt}, cosine double"
    )


def _cogroup_block_scored(
    index: DataFrame, q_src: DataFrame, lists, dim: int, qidt: str, vidt: str
) -> DataFrame:
    """Corpus-sized scorer: the query table stays distributed. The
    queries go through `_index_frame` with the probe's list function
    (one row per probed list), and a cogroup on cid meets each list's
    index vectors and probing queries ONCE as two blocks, scored by
    the block kernel inside the task. An equi-join would pair-expand
    both vectors into every candidate row; this ships each vector once
    per list and emits scalars. The cid shuffle it costs is the
    bucketed layout `_index_frame` prescribes anyway: when the query
    side is a corpus, most lists are probed. A group must fit a task
    (list size x dim doubles per side), and the accumulator is
    query-chunked inside the kernel."""
    import pyarrow as pa

    qdf = _index_frame(q_src, "query_id", "qv", lists, dim).toDF("query_id", "qv", "qn", "cid")

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


def _inverted_topk(
    index: DataFrame, q_src: DataFrame, qtbl, lists, dim: int, qidt: str, vidt: str
) -> DataFrame:
    """The size rule both ANN paths share: the broadcast scorer when
    the bounded query collect ``qtbl`` holds the whole query set
    (``None``: not collected), the cogroup scorer otherwise."""
    if qtbl is not None and qtbl.num_rows <= MAX_QUERIES:
        return _broadcast_probe_scored(index, qtbl, lists, dim, qidt, vidt)
    return _cogroup_block_scored(index, q_src, lists, dim, qidt, vidt)


def _list_array(ids: np.ndarray):
    """``[N, L]`` list ids -> an Arrow ``list<int64>`` array, one entry
    of L ids per row."""
    import pyarrow as pa

    n, width = ids.shape
    offsets = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(ids.ravel(), type=pa.int64()))


def _index_frame(df: DataFrame, id_col: str, vec_col: str, lists, dim: int) -> DataFrame:
    """(id, vec) -> (vec_id, cv, cn, cid): one row per list id that
    ``lists`` gives the vector, ``cid`` bigint. The list function runs
    in one ``mapInArrow`` (the vector column read as one Arrow buffer,
    `_list_matrix`, which validates every row against ``dim``), the
    rows explode in the JVM and the norm is the JVM ``_norm_expr``.
    At scale this is the table to persist bucketed by cid: a probe
    touches only the lists it names."""
    import pyarrow as pa

    idt = df.schema[id_col].dataType.simpleString()
    vt = df.schema[vec_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = lists(_list_matrix(b.column("cv"), b.num_rows, dim))
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), b.column("cv"), _list_array(ids)],
                names=["vec_id", "cv", "__lists"],
            )

    return src.mapInArrow(fn, f"vec_id {idt}, cv {vt}, __lists array<bigint>").select(
        "vec_id", "cv", _norm_expr("cv").alias("cn"), F.explode("__lists").alias("cid")
    )


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
    """Attach the inverted-list id, the argmax centroid of
    `_centroid_scorer`: (vec_id, cv, cn, cid) by `_index_frame`. At
    scale this is the table you persist bucketed by cid — probes touch
    only nprobe lists instead of the full corpus. ``quantize=True``
    takes INTEGER centroids and assigns by exact-integer scoring (the
    ``ivf_portable`` oracle path)."""
    score = _centroid_scorer(centroids, quantize)
    return _index_frame(
        corpus, id_col, vec_col, lambda m: np.argmax(score(m), axis=1)[:, None],
        int(centroids.shape[1]),
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
) -> DataFrame:
    """IVF probe: each query scans only its nprobe nearest inverted
    lists, exact cosine re-rank inside them. Output schema matches
    brute_force_topk; recall grows with nprobe (nprobe = n_centroids
    degenerates to exact search).

    One probe kernel (`_centroid_scorer`; the stable argsort keeps the
    lowest cid on score ties, the argmax tie rule of the index), two
    scorers chosen by the size of the query side. ``collect_queries=True``
    (the retrieval-API default) makes one bounded
    ``limit(MAX_QUERIES+1).toArrow()`` collect; a query set that fits
    is request-sized and takes the broadcast scorer
    (`_broadcast_probe_scored`). A larger one, or
    ``collect_queries=False`` (the queries are themselves a corpus,
    e.g. full-table ANN self-search), stays distributed and takes the
    cogroup block scorer (`_cogroup_block_scored`). So a corpus-sized
    frame can never OOM the driver here. Both scorers return identical
    rows, with ``quantize=True`` too (the exact-integer
    ``ivf_portable`` probe; pass the INTEGER centroids the index was
    built with)."""
    nprobe = min(nprobe, len(centroids))
    score = _centroid_scorer(centroids, quantize)
    dim = int(centroids.shape[1])
    qidt = queries.schema[qid_col].dataType.simpleString()
    vidt = index.schema["vec_id"].dataType.simpleString()
    q_src = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    qtbl = _bounded_collect(q_src) if collect_queries else None
    if qtbl is not None and qtbl.num_rows == 0:
        return _no_rows(spark, qidt, vidt)

    def probe(m: np.ndarray) -> np.ndarray:
        return np.argsort(-score(m), axis=1, kind="stable")[:, :nprobe]

    return _rank_topk(_inverted_topk(index, q_src, qtbl, probe, dim, qidt, vidt), k)
