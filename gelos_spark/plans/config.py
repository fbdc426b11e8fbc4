"""Config-driven pipeline assembly (SURVEY.md §2.8 U3).

The reference builds entire runs from YAML: jsonargparse turns
``class_path``/``init_args`` dicts into live datamodule/task objects
(/root/reference/gelos/embedding_generation.py:63-75), and the
documented example config must round-trip (instantiate + execute) in
tests (tests/test_data.py:368-399). The engine analog maps a YAML (or
plain-dict) stage list onto ``plans.checkpoint.Pipeline``: each stage
names a registered operator (``op``) with ``args`` — the engine's
``class_path``/``init_args`` — plus optional ``input`` wiring to a
prior stage's committed output. Because stages run through Pipeline,
every config-built run inherits checkpoint lineage + idempotent
resume for free.

Registered ops are thin adapters over the public operator modules;
new ops register with ``@op("name")`` — the extensibility surface the
reference exposes via dataset subclassing (gelos/gelosdataset.py:77).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelos_spark.plans.checkpoint import Pipeline

_OPS: dict[str, Callable[..., DataFrame]] = {}
# declared contract per op: which arg keys MUST be present, and
# whether the stage needs ``input`` wiring — validated up front at
# build time, so a KeyError escaping an operator is a genuine
# operator bug, never silently relabelled as a config error
_OP_REQUIRED: dict[str, tuple[str, ...]] = {}
_OP_NEEDS_INPUT: dict[str, bool] = {}


def op(name: str, required: tuple[str, ...] = (), needs_input: bool = False):
    def reg(fn):
        _OPS[name] = fn
        _OP_REQUIRED[name] = tuple(required)
        _OP_NEEDS_INPUT[name] = needs_input
        return fn

    return reg


def registered_ops() -> list[str]:
    return sorted(_OPS)


# ----------------------------------------------------------- op set
# each op: (spark, pipe, conf: dict) -> DataFrame.  ``conf`` is the
# stage's ``args`` dict; ``conf["__input__"]`` (injected by the
# runner from the stage's ``input`` key) is the upstream DataFrame.


@op("synth_tracker", required=("n",))
def _op_synth_tracker(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.sources import synth

    return synth.tracker_df(spark, int(conf["n"]), seed=int(conf.get("seed", 42)))


@op("synth_images", required=("n",))
def _op_synth_images(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.sources import synth

    return synth.images_df(
        spark, int(conf["n"]), w=int(conf.get("w", 64)), seed=int(conf.get("seed", 42))
    )


@op("cell_encode", needs_input=True)
def _op_cell_encode(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.functions.cell_udfs import cell_encode_col

    df = conf["__input__"]
    res = int(conf.get("res", 16))
    return df.withColumn(
        conf.get("out_col", "cell"),
        cell_encode_col(F.col(conf.get("lon_col", "lon")), F.col(conf.get("lat_col", "lat")), res),
    )


@op("pip_join", needs_input=True)
def _op_pip_join(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators.pip_join import pip_join
    from gelos_spark.sources import synth

    if "aoi_geojson" in conf:
        # real AOI inputs (Polygon/MultiPolygon incl. holes)
        from gelos_spark.sources.aoi import read_aoi_geojson

        aois = read_aoi_geojson(conf["aoi_geojson"], id_key=conf.get("aoi_id_key"))
    else:
        aois = synth.aoi_polygons(
            int(conf.get("n_aois", 16)),
            seed=int(conf.get("seed", 42)),
            vertices=conf.get("aoi_vertices"),
        )
    return pip_join(
        spark,
        conf["__input__"],
        aois,
        tile_cell_col=conf.get("tile_cell_col"),
        ordered=bool(conf.get("ordered", False)),
    )


@op("vector_pyramid", required=("leaf_res", "min_res"), needs_input=True)
def _op_vector_pyramid(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators.pyramid import vector_pyramid

    return vector_pyramid(
        conf["__input__"],
        int(conf["leaf_res"]),
        int(conf["min_res"]),
        cat_col=conf.get("cat_col", "lulc"),
    )


@op("decode_stats", needs_input=True)
def _op_decode_stats(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import images as imops

    return imops.decode_stats(conf["__input__"])


@op("sample_n", required=("n",), needs_input=True)
def _op_sample_n(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators.projection import sample_ids_hash_order

    return sample_ids_hash_order(
        conf["__input__"], conf.get("id_col", "image_id"), int(conf["n"]),
        seed=int(conf.get("seed", 42)),
    )


# -------------------------- model-inference chain (U2 completion):
# tracker/images -> stack -> normalize -> embed -> pca/tsne, the
# engine analog of the reference's datamodule -> frozen-encoder
# predict -> projection run (gelos/gelosdataset.py:70-75,
# embedding_generation.py:63-79, tsne_transform.py:8-11)


@op("synth_multisensor", required=("n",))
def _op_synth_multisensor(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import multisensor as ms

    return ms.multisensor_df(
        spark,
        int(conf["n"]),
        sensors=conf.get("sensors"),
        t_steps=int(conf.get("t_steps", 3)),
        w=int(conf.get("w", 16)),
        seed=int(conf.get("seed", 42)),
    )


@op("stack_sensors", required=("bands",), needs_input=True)
def _op_stack_sensors(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import multisensor as ms

    return ms.stack_sensors(
        conf["__input__"],
        conf["bands"],
        want=conf.get("want"),
        output=conf.get("output", "dict"),
        repeat_t=int(conf.get("repeat_t", 1)),
    )


@op("normalize_stacks", required=("bands",), needs_input=True)
def _op_normalize_stacks(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import multisensor as ms

    return ms.normalize_stacks(
        conf["__input__"],
        conf["bands"],
        means=conf.get("means"),
        stds=conf.get("stds"),
        class_means=conf.get("class_means"),
        class_stds=conf.get("class_stds"),
    )


@op("embed", needs_input=True)
def _op_embed(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators.model import embed_stacks

    return embed_stacks(
        conf["__input__"],
        conf.get("model", "linear_seeded"),
        conf.get("model_args"),
        dtype=conf.get("dtype", "float32"),
    )


@op("pca_project", needs_input=True)
def _op_pca_project(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import projection as prj

    df = conf["__input__"]
    vec_col = conf.get("vec_col", "embedding")
    model = prj.pca_train(df, vec_col=vec_col, k=int(conf.get("k", 2)))
    return prj.pca_project(
        df, model, id_col=conf.get("id_col", "image_id"), vec_col=vec_col
    )


@op("resize", required=("w", "h"), needs_input=True)
def _op_resize(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import images as imops

    return imops.resize(
        conf["__input__"], int(conf["w"]), int(conf["h"]), fmt=conf.get("fmt", "raw")
    )


@op("frame_sample", required=("sensors", "stride"), needs_input=True)
def _op_frame_sample(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import multisensor as ms

    return ms.frame_sample(
        conf["__input__"], list(conf["sensors"]), int(conf["stride"]),
        offset=int(conf.get("offset", 0)),
    )


@op("plot_scatter", required=("x_col", "y_col", "cat_col", "path"), needs_input=True)
def _op_plot_scatter(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """S8 figure sink as a pipeline stage (the reference's
    transformation CLI ends in category-colored scatters,
    gelos/plotting.py:48-58): render the upstream coordinate frame
    through the engine's own PNG writer, commit a 1-row metadata
    frame (path, points, bytes) so the figure rides the lineage."""
    import os

    from gelos_spark.operators.plotting import scatter_png

    pdf = conf["__input__"].toPandas()
    meta = scatter_png(
        pdf,
        conf["x_col"],
        conf["y_col"],
        conf["cat_col"],
        conf["path"],
        size=int(conf.get("size", 900)),
        point=int(conf.get("point", 3)),
    )
    return spark.createDataFrame(
        [(meta["path"], int(meta["n_points"]), int(os.path.getsize(meta["path"])))],
        "path string, n_points long, bytes long",
    )


@op("tsne", needs_input=True)
def _op_tsne(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import projection as prj

    pdf = prj.tsne_coords(
        conf["__input__"],
        id_col=conf.get("id_col", "image_id"),
        vec_col=conf.get("vec_col", "embedding"),
        model_name=conf.get("model_name", "engine"),
        strategy=conf.get("strategy", "full"),
        n_sample=int(conf.get("n_sample", 1000)),
        perplexity=float(conf.get("perplexity", 30.0)),
        n_iter=int(conf.get("n_iter", 300)),
        seed=int(conf.get("seed", 42)),
    )
    return spark.createDataFrame(pdf)


# ------------------- sources + training-data family as config ops
# (round 4): the declarative surface previously reached only the
# geospatial/model chain; a pipeline author could not read an
# external table or run the dedup / text / similarity family from
# YAML. Thin adapters only — every kernel lives in its module.


@op("read_parquet", required=("path",))
def _op_read_parquet(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    df = spark.read.parquet(conf["path"])
    cols = conf.get("columns")
    return df.select(*cols) if cols else df


@op("read_tracker", required=("path",))
def _op_read_tracker(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.sources.tracker import read_tracker

    return read_tracker(spark, conf["path"], schema=conf.get("schema"))


@op("dedup_exact", required=("key_cols",), needs_input=True)
def _op_dedup_exact(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import dedup

    return dedup.dedup_exact(
        conf["__input__"],
        key_cols=list(conf["key_cols"]),
        id_col=conf.get("id_col", "doc_id"),
    )


@op("minhash_pairs", needs_input=True)
def _op_minhash_pairs(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import dedup

    return dedup.minhash_lsh_pairs(
        conf["__input__"],
        id_col=conf.get("id_col", "doc_id"),
        text_col=conf.get("text_col", "text"),
        num_hashes=int(conf.get("num_hashes", 128)),
        bands=int(conf.get("bands", 32)),
        shingle_k=int(conf.get("shingle_k", 5)),
        seed=int(conf.get("seed", 42)),
        min_jaccard=float(conf.get("min_jaccard", 0.5)),
        # SQL-reproducible kernel (the minhash_portable oracle path)
        portable=bool(conf.get("portable", False)),
    )


@op("simhash_pairs", needs_input=True)
def _op_simhash_pairs(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import dedup

    return dedup.simhash_pairs(
        conf["__input__"],
        id_col=conf.get("id_col", "doc_id"),
        text_col=conf.get("text_col", "text"),
        max_hamming=int(conf.get("max_hamming", 3)),
        seed=int(conf.get("seed", 42)),
        # SQL-reproducible kernel (the simhash_portable oracle path)
        portable=bool(conf.get("portable", False)),
    )


@op("hash_split", required=("weights",), needs_input=True)
def _op_hash_split(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Deterministic train/val/test assignment by id-hash bucket
    (functions/sampling.hash_split): stable across runs, partitionings
    and cluster sizes — resume-safe, unlike RNG randomSplit."""
    from gelos_spark.functions import sampling

    return sampling.hash_split(
        conf["__input__"],
        id_col=conf.get("id_col", "doc_id"),
        weights={str(k): float(v) for k, v in dict(conf["weights"]).items()},
        seed=int(conf.get("seed", 42)),
        split_col=conf.get("split_col", "split"),
    )


@op("hash_sample", required=("fraction",), needs_input=True)
def _op_hash_sample(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Deterministic (optionally stratified) subsample by id-hash
    bucket — the resume-safe twin of sample/sampleBy; nested fractions
    are supersets."""
    from gelos_spark.functions import sampling

    frac = conf["fraction"]
    if isinstance(frac, dict):
        frac = {str(k): float(v) for k, v in frac.items()}
    else:
        frac = float(frac)
    return sampling.deterministic_sample(
        conf["__input__"],
        id_col=conf.get("id_col", "doc_id"),
        fraction=frac,
        strata_col=conf.get("strata_col"),
        seed=int(conf.get("seed", 42)),
    )


@op("connected_components", needs_input=True)
def _op_connected_components(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """A pairs stage -> (id, component): transitive duplicate
    clusters (operators/dedup) — a driver union-find up to
    ``DRIVER_CC_EDGES`` edges, large-star/small-star contraction
    above; ``max_rounds`` bounds the contraction loop."""
    from gelos_spark.operators import dedup

    return dedup.connected_components(
        conf["__input__"],
        left=conf.get("left", "id_a"),
        right=conf.get("right", "id_b"),
        max_rounds=int(conf.get("max_rounds", 25)),
    )


@op("dedup_near", required=("pairs",), needs_input=True)
def _op_dedup_near(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Input corpus + a committed pairs stage (``pairs: <stage name>``)
    -> corpus annotated with (component, is_canonical), or one
    survivor per duplicate cluster with ``keep: canonical`` — the
    near-dup twin of the dedup_exact op."""
    from gelos_spark.operators import dedup

    return dedup.dedup_near(
        conf["__input__"],
        pipe.output(conf["pairs"]),
        id_col=conf.get("id_col", "doc_id"),
        left=conf.get("left", "id_a"),
        right=conf.get("right", "id_b"),
        keep=conf.get("keep", "all"),
    )


@op("ann_topk", required=("k",), needs_input=True)
def _op_ann_topk(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Similarity search as a pipeline stage over an embedding frame:
    ``method: lsh`` (default — bucketed, corpus-scale), ``ivf``
    (train + index + probe in one stage; ``n_centroids``/``nprobe``/
    ``iters`` tune it), or ``brute`` (exact; inherits
    brute_force_topk's broadcast-size guard). ``query_ids`` restricts
    the query side to those ids; omitted (or null), the whole input
    searches against itself (corpus x corpus — bucketed-methods-only
    territory at scale; ivf then keeps the query side distributed).
    An explicitly EMPTY list raises — it almost certainly meant "no
    queries", and falling back to the (expensive) self-search would
    invert the author's intent. The id list builds an ``isin`` and is
    bounded like the knn/brute query contracts: request-sized only
    (> ``max_query_ids``, default 10k, raises — drive corpus-sized
    query sets through the self-search path instead)."""
    from gelos_spark.operators import similarity

    df = conf["__input__"]
    id_col = conf.get("id_col", "vec_id")
    vec_col = conf.get("vec_col", "embedding")
    qids = conf.get("query_ids")
    # materialize ONCE: a generator/iterator conf value would be
    # exhausted by the first guard and silently reach isin([]) below
    qids = None if qids is None else list(qids)
    if qids is not None and len(qids) == 0:
        raise ValueError(
            "ann_topk: query_ids is an empty list — refusing to silently fall "
            "back to full corpus x corpus self-search; omit the key (or set it "
            "to null) if self-search is intended"
        )
    max_qids = int(conf.get("max_query_ids", 10_000))
    if qids is not None and len(qids) > max_qids:
        raise ValueError(
            f"ann_topk: {len(qids)} query_ids > max_query_ids={max_qids} "
            "(the list becomes a broadcast isin filter; corpus-sized query "
            "sets should use the self-search path or a join-based filter)"
        )
    queries = df.where(F.col(id_col).isin(qids)) if qids else df
    k = int(conf["k"])
    seed = int(conf.get("seed", 42))
    method = conf.get("method", "lsh")
    if method == "brute":
        return similarity.brute_force_topk(
            df, queries, k=k, id_col=id_col, vec_col=vec_col,
            qid_col=id_col, qvec_col=vec_col,
        )
    if method == "lsh":
        return similarity.lsh_topk(
            spark, df, queries, k=k,
            nbits=int(conf.get("nbits", 12)), ntables=int(conf.get("ntables", 6)),
            seed=seed, id_col=id_col, vec_col=vec_col,
            qid_col=id_col, qvec_col=vec_col,
            # SQL-reproducible planes (the lsh_portable oracle path)
            portable=bool(conf.get("portable", False)),
        )
    if method == "ivf":
        n_cents = int(conf.get("n_centroids", 16))
        portable = bool(conf.get("portable", False))
        if portable:
            # the SQL-reproducible path (ivf_portable oracle):
            # training-free integer centroids — the quantized first
            # n_centroids corpus vectors by id order — and exact-int
            # scoring
            import numpy as np

            cpdf = df.orderBy(id_col).limit(n_cents).select(vec_col).toPandas()
            cents = np.floor(
                np.stack([np.asarray(v, dtype=np.float64) for v in cpdf[vec_col]])
                * 1000.0
                + 0.5
            ).astype(np.int64)
        else:
            cents = similarity.ivf_train(
                df, n_centroids=n_cents,
                iters=int(conf.get("iters", 3)), seed=seed,
                id_col=id_col, vec_col=vec_col,
            )
        index = similarity.ivf_index(
            df, cents, id_col=id_col, vec_col=vec_col, quantize=portable
        )
        return similarity.ivf_topk(
            spark, index, cents, queries, k=k,
            nprobe=int(conf.get("nprobe", 4)),
            qid_col=id_col, qvec_col=vec_col,
            # request-sized query sets collect; corpus self-search stays
            # distributed end-to-end
            collect_queries=bool(qids),
            quantize=portable,
        )
    raise ValueError(f"ann_topk method must be 'lsh', 'ivf', or 'brute', got {method!r}")


@op("phash_pairs", needs_input=True)
def _op_phash_pairs(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    from gelos_spark.operators import dedup

    return dedup.phash_dup_pairs(
        conf["__input__"],
        max_hamming=int(conf.get("max_hamming", 4)),
        id_col=conf.get("id_col", "image_id"),
        phash_col=conf.get("phash_col", "phash"),
    )


@op("perturb", needs_input=True)
def _op_perturb(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """F6 seeded band perturbation as a pipeline stage; ``id_suffix``
    renames the perturbed copies so they can be unioned beside their
    originals (the planted-near-dup fixture shape for phash dedup)."""
    from gelos_spark.operators import images as imops

    out = imops.perturb_bands(
        conf["__input__"],
        bands=tuple(conf.get("bands", [0])),
        alpha=float(conf.get("alpha", 0.3)),
        seed=int(conf.get("seed", 42)),
    )
    suffix = conf.get("id_suffix")
    if suffix:
        id_col = conf.get("id_col", "image_id")
        out = out.withColumn(id_col, F.concat(F.col(id_col), F.lit(suffix)))
    return out


@op("top_terms", needs_input=True)
def _op_top_terms(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Vocabulary analysis stage (functions/text.top_terms): k most
    frequent terms, global or per ``by`` group."""
    from gelos_spark.functions.text import top_terms

    kw = {k: conf[k] for k in ("text_col", "k", "by", "min_len") if k in conf}
    return top_terms(conf["__input__"], **kw)


@op("quantile_filter", required=("score_col", "keep_frac", "by", "id_col"), needs_input=True)
def _op_quantile_filter(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Per-group quality gate (functions/sampling.quantile_filter):
    keep each group's top keep_frac fraction by score."""
    from gelos_spark.functions.sampling import quantile_filter

    kw = {
        k: conf[k]
        for k in ("score_col", "keep_frac", "by", "id_col", "ascending")
        if k in conf
    }
    return quantile_filter(conf["__input__"], **kw)


@op("tf_idf", needs_input=True)
def _op_tf_idf(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Per-document TF-IDF stage (functions/text.tf_idf): term
    weights, optionally trimmed to each document's top ``k``."""
    from gelos_spark.functions.text import tf_idf

    kw = {
        k: conf[k]
        for k in ("text_col", "id_col", "min_len", "k", "n_docs")
        if k in conf
    }
    return tf_idf(conf["__input__"], **kw)


@op("asof_join", required=("right",), needs_input=True)
def _op_asof_join(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Nearest-event attribution as a pipeline stage: the input stage
    is the left side, ``right`` names another COMMITTED stage whose
    latest at-or-before (or ``direction: forward``) row attaches per
    ``by`` key. See operators/asof.py for the one-shuffle plan."""
    from gelos_spark.operators.asof import asof_join

    kw = {
        k: conf[k]
        for k in ("on", "by", "right_cols", "direction", "tolerance_us", "tiebreak", "suffix")
        if k in conf
    }
    return asof_join(conf["__input__"], pipe.output(conf["right"]), **kw)


@op("sql", required=("query",), needs_input=True)
def _op_sql(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Ad-hoc SQL stage: one SELECT over the input stage, referenced
    as ``{df}`` or the ``__input__`` identifier (rewritten to the
    ``{df}`` formatter marker — the DataFrame binds through
    spark.sql's parameterized path, never a session temp view that
    could clobber a caller's) — the declarative escape hatch for
    projections/derivations no dedicated op covers (still a single
    Catalyst plan; no Python in the loop)."""
    import re as _re

    q = conf["query"]
    if "{df}" not in q:
        # rewrite the __input__ identifier to the parameter marker so
        # the DataFrame binds through spark.sql's formatter (which
        # registers a uniquely-named view internally) — NEVER a
        # session temp view literally named __input__, which would
        # clobber and then drop a caller's view of the same name
        q = _re.sub(r"\b__input__\b", "{df}", q)
    return spark.sql(q, df=conf["__input__"])


@op("range_join", required=("intervals",), needs_input=True)
def _op_range_join(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Interval-containment attribution as a pipeline stage: the input
    stage is the event side, ``intervals`` names another COMMITTED
    stage of [start, end) rows. See operators/interval.py for the
    explode-to-buckets equi-join plan."""
    from gelos_spark.operators.interval import range_join

    kw = {
        k: conf[k]
        for k in ("on", "start", "end", "by", "interval_cols", "bucket_us", "suffix")
        if k in conf
    }
    return range_join(conf["__input__"], pipe.output(conf["intervals"]), **kw)


@op("sessionize", needs_input=True)
def _op_sessionize(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Gap-based session ordinals (functions/sessions.py) as a stage;
    ``stats: true`` emits one row per session instead of per event."""
    from gelos_spark.functions import sessions

    kw = {k: conf[k] for k in ("on", "by", "gap_us") if k in conf}
    fn = sessions.session_stats if conf.get("stats") else sessions.sessionize
    return fn(conf["__input__"], **kw)


@op("union_stages", required=("others",), needs_input=True)
def _op_union_stages(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Union the input stage with other COMMITTED stages' outputs by
    column name (optional ``columns`` projection applied to every
    side) — the DAG fan-in the single-``input`` wiring can't express."""
    cols = conf.get("columns")

    def proj(df: DataFrame) -> DataFrame:
        return df.select(*cols) if cols else df

    out = proj(conf["__input__"])
    for name in conf["others"]:
        out = out.unionByName(proj(pipe.output(name)))
    return out


@op("text_features", needs_input=True)
def _op_text_features(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Attach the text-analysis family (language id, quality score,
    token count, fingerprint) as columns — pure column expressions,
    scan-speed."""
    from gelos_spark.functions import text as tx

    col = conf.get("text_col", "text")
    return (
        conf["__input__"]
        .withColumn("lang", tx.langid_col(F.col(col)))
        .withColumn("quality", tx.quality_score_col(F.col(col)))
        .withColumn("n_tokens", tx.token_count_col(F.col(col)))
        .withColumn("fingerprint", tx.fingerprint_col(F.col(col)))
    )


@op("knn", required=("queries",), needs_input=True)
def _op_knn(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """kNN retrieval stage: `queries` is a list of [query_id, lon,
    lat, k] rows (config-embedded request set — the driver-resident
    path; from code, knn_join given a Spark query table past its
    max_queries dispatches to knn_join_distributed by itself)."""
    import pandas as pd

    from gelos_spark.operators.knn_join import knn_join

    q = pd.DataFrame(
        conf["queries"], columns=["query_id", "lon", "lat", "k"]
    )
    return knn_join(
        spark,
        conf["__input__"],
        q,
        res=conf.get("res"),
        n_tiles_hint=conf.get("n_tiles_hint"),
    )


# ----------------------- bucketed co-located joins (SURVEY.md §4):
# the recurring fact-to-fact join on ``cell`` (tiles x per-cell
# stats) shuffles BOTH corpora every run unless the tables are
# written bucketed on the join key once — then Spark plans a
# SortMergeJoin with NO Exchange on either side. The reference analog
# is the identity-partitioned output tree every downstream read
# relies on (gelos/embedding_generation.py:55-57,
# embedding_transformation.py:70-73).


@op("write_bucketed", required=("table", "key", "n_buckets"), needs_input=True)
def _op_write_bucketed(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Persist the upstream frame bucketed+sorted by the join key as a
    catalog table; a 1-row metadata frame rides the lineage (table
    name, rows, bucket spec) so the layout commit is resumable and
    auditable like any other stage."""
    from gelos_spark.tables import bucketed as bk

    df = conf["__input__"]
    bk.write_bucketed(
        df, conf["table"], conf["key"], int(conf["n_buckets"]),
        mode=conf.get("mode", "overwrite"),
    )
    rows = spark.table(conf["table"]).count()
    return spark.createDataFrame(
        [(conf["table"], int(rows), int(conf["n_buckets"]), conf["key"])],
        "table string, rows long, n_buckets int, key string",
    )


@op("bucketed_join", required=("left_table", "right_table", "key"))
def _op_bucketed_join(spark: SparkSession, pipe: Pipeline, conf: dict) -> DataFrame:
    """Co-located join of two ``write_bucketed`` tables. By default the
    stage REFUSES to run a plan containing a shuffle Exchange — layout
    drift (mismatched keys/bucket counts) silently degrading to a
    double shuffle is exactly the regression this op exists to
    prevent; pass ``require_no_exchange: false`` to allow it."""
    from gelos_spark.tables import bucketed as bk

    out = bk.colocated_join(
        spark, conf["left_table"], conf["right_table"], conf["key"],
        how=conf.get("how", "inner"),
    )
    if bool(conf.get("require_no_exchange", True)) and bk.plan_has_exchange(out):
        raise ValueError(
            f"bucketed_join({conf['left_table']}, {conf['right_table']}) plan "
            "contains a shuffle Exchange — both tables must be written with "
            "write_bucketed on the same key and n_buckets (set "
            "require_no_exchange: false to run anyway)"
        )
    return out


# ------------------------------------------------------------ runner


def validate_config(conf: dict) -> None:
    """Fail fast with the reference's validation discipline (unknown
    band -> ValueError, gelos/gelosdataset.py:61-68): unknown op or
    missing input wiring is a config error, not a runtime surprise."""
    if not isinstance(conf, dict) or "stages" not in conf or not isinstance(conf["stages"], list):
        raise ValueError("config needs a 'stages' list")
    seen: set[str] = set()
    for st in conf["stages"]:
        # every malformed shape must surface as ValueError — never a
        # raw TypeError/AttributeError traceback (contract fuzzed in
        # tests/test_property_kernels.py)
        if not isinstance(st, dict):
            raise ValueError(f"stage entries must be mappings, got {type(st).__name__}: {st!r}")
        name, opname = st.get("name"), st.get("op")
        if not name or not opname:
            raise ValueError(f"stage needs 'name' and 'op': {st}")
        if not isinstance(name, str):
            raise ValueError(f"stage name must be a string, got {type(name).__name__}")
        if not isinstance(opname, str) or opname not in _OPS:
            raise ValueError(f"unknown op {opname!r}; registered: {registered_ops()}")
        inp = st.get("input")
        if inp is not None and not isinstance(inp, str):
            raise ValueError(
                f"stage {name!r}: 'input' must be a stage name, got {type(inp).__name__}"
            )
        if inp is not None and inp not in seen:
            raise ValueError(f"stage {name!r} wires input {inp!r} before it is defined")
        if _OP_NEEDS_INPUT.get(opname) and inp is None:
            raise ValueError(f"stage {name!r}: op {opname!r} needs an 'input' stage")
        args = st.get("args") or {}
        if not isinstance(args, dict):
            raise ValueError(
                f"stage {name!r}: 'args' must be a mapping, got {type(args).__name__}"
            )
        if opname == "union_stages":
            others = args.get("others")
            # a scalar here would TypeError (int) or silently iterate
            # CHARACTERS (string) — both are config errors, say so
            if others is not None and not isinstance(others, list):
                raise ValueError(
                    f"stage {name!r}: 'others' must be a list of stage "
                    f"names, got {type(others).__name__}"
                )
            for ref in others or []:
                if ref not in seen:
                    raise ValueError(
                        f"stage {name!r} unions stage {ref!r} before it is defined"
                    )
        ref_arg = {"asof_join": "right", "range_join": "intervals"}.get(opname)
        if ref_arg is not None and args.get(ref_arg) is not None:
            ref = args[ref_arg]
            # a non-string ref (list, dict) would TypeError on the set
            # lookup; a MISSING ref falls through to the required-args
            # error below instead of a misleading "joins stage None"
            if not isinstance(ref, str):
                raise ValueError(
                    f"stage {name!r}: {ref_arg!r} must be a stage name, "
                    f"got {type(ref).__name__}"
                )
            if ref not in seen:
                raise ValueError(
                    f"stage {name!r} joins stage {ref!r} before it is defined"
                )
        # an explicit `key: null` in YAML is as missing as an absent key
        missing = [k for k in _OP_REQUIRED.get(opname, ()) if args.get(k) is None]
        if missing:
            raise ValueError(
                f"stage {name!r} (op {opname!r}) is missing required args {missing}"
            )
        seen.add(name)


def build_pipeline(
    spark: SparkSession, conf: dict, root: str | None = None, run_id: str | None = None
) -> Pipeline:
    """Assemble-and-run a Pipeline from a config dict: stages execute
    in order, each committed + lineage-logged; re-running the same
    (root, run_id) resume-skips completed stages."""
    validate_config(conf)
    pipe = Pipeline(
        spark, root or conf["root"], run_id or conf.get("run_id", "run1")
    )
    for st in conf["stages"]:
        args: dict[str, Any] = dict(st.get("args") or {})
        inp = st.get("input")

        def fn(sp, _op=_OPS[st["op"]], _args=args, _inp=inp):
            # required args were validated at build time (validate_config)
            # — any exception from here on is a real operator failure and
            # propagates untranslated
            if _inp is not None:
                _args = dict(_args)
                _args["__input__"] = pipe.output(_inp)
            return _op(sp, pipe, _args)

        pipe.stage(
            st["name"],
            fn,
            cluster_by=st.get("cluster_by"),
            num_files=st.get("num_files"),
        )

    # Iceberg-style table maintenance, declared once per pipeline:
    #   maintenance:
    #     compact_target_bytes: 134217728   # bin-pack files below this
    #     expire_keep_last: 2               # per stage table; drops
    #                                       # time-travel past the last 2
    # Runs after the stage DAG (and again on resume — both actions are
    # idempotent no-ops once applied).
    maint = conf.get("maintenance") or {}
    if maint:
        target = maint.get("compact_target_bytes")
        keep = maint.get("expire_keep_last")
        for st in conf["stages"]:
            tbl = pipe.table(st["name"])
            if target:
                # re-bin-pack WITH the stage's declared layout, or a
                # plain rewrite would round-robin the rows and destroy
                # the clustering the config asked for
                tbl.compact(
                    spark,
                    target_file_bytes=int(target),
                    cluster_by=st.get("cluster_by"),
                )
            if keep:
                tbl.expire_snapshots(keep_last=int(keep))
    return pipe


def load_config(path: str) -> dict:
    """YAML (or JSON — a YAML subset) config file -> dict."""
    import yaml

    with open(path) as f:
        return yaml.safe_load(f)
