"""Config-driven pipeline assembly (SURVEY.md §2.8 U3).

The reference builds entire runs from YAML: jsonargparse binds each
``class_path``/``init_args`` mapping against the target's signature
and instantiates it (gelos/embedding_generation.py:63-75), and the
documented example config must round-trip (instantiate + execute) in
tests (tests/test_data.py:368-399). The engine analog maps a YAML (or
plain-dict) stage list onto ``plans.checkpoint.Pipeline``: each stage
names a registered operator (``op``) with ``args`` — the engine's
``class_path``/``init_args`` — plus optional ``input`` wiring to a
prior stage's committed output. Because stages run through Pipeline,
every config-built run inherits checkpoint lineage + idempotent
resume for free.

A stage's ``args`` are the keyword arguments of the op's callable, and
its signature is the one statement of what the stage accepts:
``validate_config`` binds every stage before any runs, so an unknown
key, a parameter with no default that is absent or null, or a
non-boolean value (a quoted ``"false"`` too) for a ``bool`` parameter
is a ``ValueError`` naming the stage. A new op is one ``_OPS`` entry — the
extensibility surface the reference exposes via dataset subclassing
(gelos/gelosdataset.py:77): the callable (the operator itself where its
signature already is the stage's contract, else a small adapter
below), the leading positional arguments the runner passes, and the
args that name earlier stages.
"""

from __future__ import annotations

import inspect
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelos_spark.functions import sampling, sessions
from gelos_spark.functions import text as tx
from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators import dedup, images, multisensor, similarity
from gelos_spark.operators import projection as prj
from gelos_spark.operators.asof import asof_join
from gelos_spark.operators.interval import range_join
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.model import embed_stacks
from gelos_spark.operators.pip_join import pip_join
from gelos_spark.operators.plotting import scatter_png
from gelos_spark.operators.pyramid import vector_pyramid
from gelos_spark.plans.checkpoint import Pipeline
from gelos_spark.sources import synth
from gelos_spark.sources.aoi import read_aoi_geojson
from gelos_spark.sources.tracker import read_tracker
from gelos_spark.tables import bucketed


@dataclass(frozen=True)
class _Op:
    """A registered op: the runner calls ``fn([spark,] [input,] **args)``
    after replacing each ``refs`` arg — a stage name, or a list of them
    where the value is ``list`` — with the named stages' outputs."""

    fn: Callable[..., DataFrame]
    spark: bool = False  # pass the SparkSession first
    needs_input: bool = False  # then the ``input`` stage's frame
    refs: dict[str, type] = field(default_factory=dict)


# ---------------------------------------------------------- adapters
# One per op whose operator signature is not already the stage's
# contract: a renamed or hidden parameter, a different default, or
# real logic. Parameters after the leading positional ones are the
# stage's ``args``.


def _op_synth_tracker(spark: SparkSession, *, n: int, seed: int = 42) -> DataFrame:
    return synth.tracker_df(spark, int(n), seed=int(seed))


def _op_synth_images(spark: SparkSession, *, n: int, w: int = 64, seed: int = 42) -> DataFrame:
    return synth.images_df(spark, int(n), w=int(w), seed=int(seed))


def _op_cell_encode(
    df: DataFrame, *, res: int = 16, out_col: str = "cell", lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    return df.withColumn(out_col, cell_encode_col(F.col(lon_col), F.col(lat_col), int(res)))


def _op_pip_join(
    spark: SparkSession, df: DataFrame, *, aoi_geojson: str | None = None,
    aoi_id_key: str | None = None, n_aois: int = 16, seed: int = 42,
    aoi_vertices: int | None = None, tile_cell_col: str | None = None, ordered: bool = False,
) -> DataFrame:
    if aoi_geojson is not None:
        # real AOI inputs (Polygon/MultiPolygon incl. holes)
        aois = read_aoi_geojson(aoi_geojson, id_key=aoi_id_key)
    else:
        aois = synth.aoi_polygons(int(n_aois), seed=int(seed), vertices=aoi_vertices)
    return pip_join(spark, df, aois, tile_cell_col=tile_cell_col, ordered=ordered)


def _op_sample_n(df: DataFrame, *, n: int, id_col: str = "image_id", seed: int = 42) -> DataFrame:
    return prj.sample_ids_hash_order(df, id_col, int(n), seed=int(seed))


# -------------------------- model-inference chain (U2 completion):
# tracker/images -> stack -> normalize -> embed -> pca/tsne, the
# engine analog of the reference's datamodule -> frozen-encoder
# predict -> projection run (gelos/gelosdataset.py:70-75,
# embedding_generation.py:63-79, tsne_transform.py:8-11)


def _op_synth_multisensor(
    spark: SparkSession, *, n: int, sensors: dict | None = None, t_steps: int = 3,
    w: int = 16, seed: int = 42,
) -> DataFrame:
    return multisensor.multisensor_df(
        spark, int(n), sensors=sensors, t_steps=int(t_steps), w=int(w), seed=int(seed)
    )


def _op_stack_sensors(
    df: DataFrame, *, bands: dict, want: dict | None = None, output: str = "dict",
    repeat_t: int = 1,
) -> DataFrame:
    return multisensor.stack_sensors(df, bands, want=want, output=output, repeat_t=int(repeat_t))


def _op_normalize_stacks(
    df: DataFrame, *, bands: dict, means: dict | None = None, stds: dict | None = None,
    class_means: dict | None = None, class_stds: dict | None = None,
) -> DataFrame:
    return multisensor.normalize_stacks(
        df, bands, means=means, stds=stds, class_means=class_means, class_stds=class_stds
    )


def _op_embed(
    df: DataFrame, *, model: str = "linear_seeded", model_args: dict | None = None,
    dtype: str = "float32",
) -> DataFrame:
    return embed_stacks(df, model, model_args, dtype=dtype)


def _op_pca_project(
    df: DataFrame, *, vec_col: str = "embedding", k: int = 2, id_col: str = "image_id"
) -> DataFrame:
    model = prj.pca_train(df, vec_col=vec_col, k=int(k))
    return prj.pca_project(df, model, id_col=id_col, vec_col=vec_col)


def _op_resize(df: DataFrame, *, w: int, h: int, fmt: str = "raw") -> DataFrame:
    return images.resize(df, int(w), int(h), fmt=fmt)


def _op_plot_scatter(
    spark: SparkSession, df: DataFrame, *, x_col: str, y_col: str, cat_col: str,
    path: str, size: int = 900, point: int = 3,
) -> DataFrame:
    """S8 figure sink as a pipeline stage (the reference's
    transformation CLI ends in category-colored scatters,
    gelos/plotting.py:48-58): render the upstream coordinate frame
    through the engine's own PNG writer, commit a 1-row metadata
    frame (path, points, bytes) so the figure rides the lineage."""
    meta = scatter_png(df.toPandas(), x_col, y_col, cat_col, path, size=int(size), point=int(point))
    return spark.createDataFrame(
        [(meta["path"], int(meta["n_points"]), int(os.path.getsize(meta["path"])))],
        "path string, n_points long, bytes long",
    )


def _op_tsne(
    spark: SparkSession, df: DataFrame, *, id_col: str = "image_id",
    vec_col: str = "embedding", model_name: str = "engine", strategy: str = "full",
    n_sample: int = 1000, perplexity: float = 30.0, n_iter: int = 300, seed: int = 42,
) -> DataFrame:
    pdf = prj.tsne_coords(
        df, id_col=id_col, vec_col=vec_col, model_name=model_name, strategy=strategy,
        n_sample=int(n_sample), perplexity=float(perplexity), n_iter=int(n_iter),
        seed=int(seed),
    )
    return spark.createDataFrame(pdf)


# ------------------- sources + training-data family as config ops
# (round 4): the declarative surface previously reached only the
# geospatial/model chain; a pipeline author could not read an
# external table or run the dedup / text / similarity family from
# YAML. Every kernel lives in its module.


def _op_read_parquet(spark: SparkSession, *, path: str, columns: list | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def _op_dedup_exact(df: DataFrame, *, key_cols: list, id_col: str = "doc_id") -> DataFrame:
    return dedup.dedup_exact(df, key_cols=list(key_cols), id_col=id_col)


def _op_hash_split(
    df: DataFrame, *, weights: dict, id_col: str = "doc_id", seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by id-hash bucket
    (functions/sampling.hash_split): stable across runs, partitionings
    and cluster sizes — resume-safe, unlike RNG randomSplit."""
    return sampling.hash_split(
        df,
        id_col=id_col,
        weights={str(k): float(v) for k, v in dict(weights).items()},
        seed=int(seed),
        split_col=split_col,
    )


def _op_hash_sample(
    df: DataFrame, *, fraction: float | dict, id_col: str = "doc_id",
    strata_col: str | None = None, seed: int = 42,
) -> DataFrame:
    """Deterministic (optionally stratified) subsample by id-hash
    bucket — the resume-safe twin of sample/sampleBy; nested fractions
    are supersets."""
    if isinstance(fraction, dict):
        fraction = {str(k): float(v) for k, v in fraction.items()}
    else:
        fraction = float(fraction)
    return sampling.deterministic_sample(
        df, id_col=id_col, fraction=fraction, strata_col=strata_col, seed=int(seed)
    )


def _op_ann_topk(
    spark: SparkSession, df: DataFrame, *, k: int, id_col: str = "vec_id",
    vec_col: str = "embedding", query_ids: list | None = None,
    max_query_ids: int = 10_000, method: str = "lsh", seed: int = 42, nbits: int = 12,
    ntables: int = 6, n_centroids: int = 16, iters: int = 3, nprobe: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Similarity search as a pipeline stage over an embedding frame:
    ``method: lsh`` (default — bucketed, corpus-scale), ``ivf``
    (train + index + probe in one stage; ``n_centroids``/``nprobe``/
    ``iters`` tune it), or ``brute`` (exact; inherits
    brute_force_topk's broadcast-size guard). ``query_ids`` restricts
    the query side to those ids; omitted (or null), the whole input
    searches against itself (corpus x corpus — bucketed-methods-only
    territory at scale: ivf keeps the query side distributed, and lsh
    does once it passes ``similarity.MAX_QUERIES`` rows, so neither
    collects more than ``MAX_QUERIES + 1`` query rows).
    An explicitly EMPTY list raises — it almost certainly meant "no
    queries", and falling back to the (expensive) self-search would
    invert the author's intent. The id list builds an ``isin`` and is
    bounded like the knn/brute query contracts: request-sized only
    (> ``max_query_ids``, default 10k, raises — drive corpus-sized
    query sets through the self-search path instead). ``portable``
    selects the SQL-reproducible kernels (the lsh/ivf_portable
    oracle paths)."""
    # materialize ONCE: a generator/iterator value would be exhausted
    # by the first guard and silently reach isin([]) below
    qids = None if query_ids is None else list(query_ids)
    if qids is not None and len(qids) == 0:
        raise ValueError(
            "ann_topk: query_ids is an empty list — refusing to silently fall "
            "back to full corpus x corpus self-search; omit the key (or set it "
            "to null) if self-search is intended"
        )
    max_qids = int(max_query_ids)
    if qids is not None and len(qids) > max_qids:
        raise ValueError(
            f"ann_topk: {len(qids)} query_ids > max_query_ids={max_qids} "
            "(the list becomes a broadcast isin filter; corpus-sized query "
            "sets should use the self-search path or a join-based filter)"
        )
    queries = df.where(F.col(id_col).isin(qids)) if qids else df
    k, seed = int(k), int(seed)
    if method == "brute":
        return similarity.brute_force_topk(
            df, queries, k=k, id_col=id_col, vec_col=vec_col,
            qid_col=id_col, qvec_col=vec_col,
        )
    if method == "lsh":
        return similarity.lsh_topk(
            spark, df, queries, k=k, nbits=int(nbits), ntables=int(ntables),
            seed=seed, id_col=id_col, vec_col=vec_col,
            qid_col=id_col, qvec_col=vec_col, portable=portable,
        )
    if method == "ivf":
        n_cents = int(n_centroids)
        if portable:
            cents = similarity.portable_centroids(df, n_cents, id_col, vec_col)
        else:
            cents = similarity.ivf_train(
                df, n_centroids=n_cents, iters=int(iters), seed=seed,
                id_col=id_col, vec_col=vec_col,
            )
        index = similarity.ivf_index(
            df, cents, id_col=id_col, vec_col=vec_col, quantize=portable
        )
        return similarity.ivf_topk(
            spark, index, cents, queries, k=k, nprobe=int(nprobe),
            qid_col=id_col, qvec_col=vec_col,
            # request-sized query sets collect; corpus self-search stays
            # distributed end-to-end
            collect_queries=bool(qids),
            quantize=portable,
        )
    raise ValueError(f"ann_topk method must be 'lsh', 'ivf', or 'brute', got {method!r}")


def _op_perturb(
    df: DataFrame, *, bands: list | tuple = (0,), alpha: float = 0.3, seed: int = 42,
    id_suffix: str | None = None, id_col: str = "image_id",
) -> DataFrame:
    """F6 seeded band perturbation as a pipeline stage; ``id_suffix``
    renames the perturbed copies so they can be unioned beside their
    originals (the planted-near-dup fixture shape for phash dedup)."""
    out = images.perturb_bands(df, bands=tuple(bands), alpha=float(alpha), seed=int(seed))
    if id_suffix:
        out = out.withColumn(id_col, F.concat(F.col(id_col), F.lit(id_suffix)))
    return out


def _op_sql(spark: SparkSession, df: DataFrame, *, query: str) -> DataFrame:
    """Ad-hoc SQL stage: one SELECT over the input stage, referenced
    as ``{df}`` or the ``__input__`` identifier (rewritten to the
    ``{df}`` formatter marker — the DataFrame binds through
    spark.sql's parameterized path, never a session temp view that
    could clobber a caller's) — the declarative escape hatch for
    projections/derivations no dedicated op covers (still a single
    Catalyst plan; no Python in the loop)."""
    if "{df}" not in query:
        # rewrite the __input__ identifier to the parameter marker so
        # the DataFrame binds through spark.sql's formatter (which
        # registers a uniquely-named view internally) — NEVER a
        # session temp view literally named __input__, which would
        # clobber and then drop a caller's view of the same name
        query = re.sub(r"\b__input__\b", "{df}", query)
    return spark.sql(query, df=df)


def _op_sessionize(
    df: DataFrame, *, on: str = "ts", by: list | str = "user_id",
    gap_us: int = 1_800_000_000, stats: bool = False,
) -> DataFrame:
    """Gap-based session ordinals (functions/sessions.py) as a stage;
    ``stats: true`` emits one row per session instead of per event."""
    fn = sessions.session_stats if stats else sessions.sessionize
    return fn(df, on=on, by=by, gap_us=gap_us)


def _op_union_stages(df: DataFrame, *, others: list, columns: list | None = None) -> DataFrame:
    """Union the input stage with other COMMITTED stages' outputs by
    column name (optional ``columns`` projection applied to every
    side) — the DAG fan-in the single-``input`` wiring can't express."""

    def proj(d: DataFrame) -> DataFrame:
        return d.select(*columns) if columns else d

    out = proj(df)
    for other in others:
        out = out.unionByName(proj(other))
    return out


def _op_text_features(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Attach the text-analysis family (language id, quality score,
    token count, fingerprint) as columns — pure column expressions,
    scan-speed."""
    col = F.col(text_col)
    return (
        df.withColumn("lang", tx.langid_col(col))
        .withColumn("quality", tx.quality_score_col(col))
        .withColumn("n_tokens", tx.token_count_col(col))
        .withColumn("fingerprint", tx.fingerprint_col(col))
    )


def _op_knn(
    spark: SparkSession, df: DataFrame, *, queries: list, res: int | None = None,
    n_tiles_hint: int | None = None,
) -> DataFrame:
    """kNN retrieval stage: `queries` is a list of [query_id, lon,
    lat, k] rows (config-embedded request set — the driver-resident
    path; from code, knn_join given a Spark query table past its
    MAX_QUERIES dispatches to knn_join_distributed by itself)."""
    q = pd.DataFrame(queries, columns=["query_id", "lon", "lat", "k"])
    return knn_join(spark, df, q, res=res, n_tiles_hint=n_tiles_hint)


# ----------------------- bucketed co-located joins (SURVEY.md §4):
# the recurring fact-to-fact join on ``cell`` (tiles x per-cell
# stats) shuffles BOTH corpora every run unless the tables are
# written bucketed on the join key once — then Spark plans a
# SortMergeJoin with NO Exchange on either side. The reference analog
# is the identity-partitioned output tree every downstream read
# relies on (gelos/embedding_generation.py:55-57,
# embedding_transformation.py:70-73).


def _op_write_bucketed(
    spark: SparkSession, df: DataFrame, *, table: str, key: str, n_buckets: int,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist the upstream frame bucketed+sorted by the join key as a
    catalog table; a 1-row metadata frame rides the lineage (table
    name, rows, bucket spec) so the layout commit is resumable and
    auditable like any other stage."""
    bucketed.write_bucketed(df, table, key, int(n_buckets), mode=mode)
    rows = spark.table(table).count()
    return spark.createDataFrame(
        [(table, int(rows), int(n_buckets), key)],
        "table string, rows long, n_buckets int, key string",
    )


def _op_bucketed_join(
    spark: SparkSession, *, left_table: str, right_table: str, key: str,
    how: str = "inner", require_no_exchange: bool = True,
) -> DataFrame:
    """Co-located join of two ``write_bucketed`` tables. By default the
    stage REFUSES to run a plan containing a shuffle Exchange — layout
    drift (mismatched keys/bucket counts) silently degrading to a
    double shuffle is exactly the regression this op exists to
    prevent; pass ``require_no_exchange: false`` to allow it."""
    out = bucketed.colocated_join(spark, left_table, right_table, key, how=how)
    if require_no_exchange and bucketed.plan_has_exchange(out):
        raise ValueError(
            f"bucketed_join({left_table}, {right_table}) plan "
            "contains a shuffle Exchange — both tables must be written with "
            "write_bucketed on the same key and n_buckets (set "
            "require_no_exchange: false to run anyway)"
        )
    return out


# ---------------------------------------------------------- registry

_OPS: dict[str, _Op] = {
    "synth_tracker": _Op(_op_synth_tracker, spark=True),
    "synth_images": _Op(_op_synth_images, spark=True),
    "cell_encode": _Op(_op_cell_encode, needs_input=True),
    "pip_join": _Op(_op_pip_join, spark=True, needs_input=True),
    "vector_pyramid": _Op(vector_pyramid, needs_input=True),
    "decode_stats": _Op(images.decode_stats, needs_input=True),
    "sample_n": _Op(_op_sample_n, needs_input=True),
    "synth_multisensor": _Op(_op_synth_multisensor, spark=True),
    "stack_sensors": _Op(_op_stack_sensors, needs_input=True),
    "normalize_stacks": _Op(_op_normalize_stacks, needs_input=True),
    "embed": _Op(_op_embed, needs_input=True),
    "pca_project": _Op(_op_pca_project, needs_input=True),
    "resize": _Op(_op_resize, needs_input=True),
    "frame_sample": _Op(multisensor.frame_sample, needs_input=True),
    "plot_scatter": _Op(_op_plot_scatter, spark=True, needs_input=True),
    "tsne": _Op(_op_tsne, spark=True, needs_input=True),
    "read_parquet": _Op(_op_read_parquet, spark=True),
    "read_tracker": _Op(read_tracker, spark=True),
    "dedup_exact": _Op(_op_dedup_exact, needs_input=True),
    "minhash_pairs": _Op(dedup.minhash_lsh_pairs, needs_input=True),
    "simhash_pairs": _Op(dedup.simhash_pairs, needs_input=True),
    "hash_split": _Op(_op_hash_split, needs_input=True),
    "hash_sample": _Op(_op_hash_sample, needs_input=True),
    # a pairs stage -> (id, component): transitive duplicate clusters
    "connected_components": _Op(dedup.connected_components, needs_input=True),
    # the input corpus + a committed pairs stage -> one survivor per
    # duplicate cluster (``keep: canonical``) or the annotated corpus
    "dedup_near": _Op(dedup.dedup_near, needs_input=True, refs={"pairs": str}),
    "ann_topk": _Op(_op_ann_topk, spark=True, needs_input=True),
    "phash_pairs": _Op(dedup.phash_dup_pairs, needs_input=True),
    "perturb": _Op(_op_perturb, needs_input=True),
    "top_terms": _Op(tx.top_terms, needs_input=True),
    "quantile_filter": _Op(sampling.quantile_filter, needs_input=True),
    "tf_idf": _Op(tx.tf_idf, needs_input=True),
    # the input stage is the left/event side; the ref names the other
    "asof_join": _Op(asof_join, needs_input=True, refs={"right": str}),
    "range_join": _Op(range_join, needs_input=True, refs={"intervals": str}),
    "sql": _Op(_op_sql, spark=True, needs_input=True),
    "sessionize": _Op(_op_sessionize, needs_input=True),
    "union_stages": _Op(_op_union_stages, needs_input=True, refs={"others": list}),
    "text_features": _Op(_op_text_features, needs_input=True),
    "knn": _Op(_op_knn, spark=True, needs_input=True),
    "write_bucketed": _Op(_op_write_bucketed, spark=True, needs_input=True),
    "bucketed_join": _Op(_op_bucketed_join, spark=True),
}


def registered_ops() -> list[str]:
    return sorted(_OPS)


def _settable(entry: _Op) -> dict[str, inspect.Parameter]:
    """The args a stage of this op may set: the callable's parameters
    after the leading positional ones the runner passes."""
    params = list(inspect.signature(entry.fn).parameters.values())
    return {p.name: p for p in params[entry.spark + entry.needs_input:]}


# ------------------------------------------------------------ runner


def validate_config(conf: dict) -> None:
    """Fail fast with the reference's validation discipline (unknown
    band -> ValueError, gelos/gelosdataset.py:61-68): an unknown op or
    arg, a missing required arg, or input wiring or a stage reference
    to a stage not defined earlier is a config error, not a runtime
    surprise."""
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
        entry = _OPS[opname]
        inp = st.get("input")
        if inp is not None and not isinstance(inp, str):
            raise ValueError(
                f"stage {name!r}: 'input' must be a stage name, got {type(inp).__name__}"
            )
        if inp is not None and inp not in seen:
            raise ValueError(f"stage {name!r} wires input {inp!r} before it is defined")
        if entry.needs_input and inp is None:
            raise ValueError(f"stage {name!r}: op {opname!r} needs an 'input' stage")
        args = st.get("args") or {}
        if not isinstance(args, dict):
            raise ValueError(
                f"stage {name!r}: 'args' must be a mapping, got {type(args).__name__}"
            )
        settable = _settable(entry)
        unknown = [k for k in args if k not in settable]
        if unknown:
            hint = (
                " (YAML 1.1 reads a bare on/off/yes/no key as a boolean: quote it)"
                if any(isinstance(k, bool) for k in unknown) else ""
            )
            raise ValueError(
                f"stage {name!r} (op {opname!r}) got unknown args {unknown}; "
                f"it accepts {sorted(settable)}{hint}"
            )
        # a quoted YAML "false" is a truthy string: a bool parameter
        # takes only a YAML boolean
        for k, v in args.items():
            if settable[k].annotation in (bool, "bool") and not isinstance(v, bool):
                raise ValueError(
                    f"stage {name!r} (op {opname!r}): {k!r} must be a boolean "
                    f"(true/false), got {type(v).__name__} {v!r}"
                )
        for ref, kind in entry.refs.items():
            val = args.get(ref)
            if val is None:
                continue  # reported as a missing required arg below
            if not isinstance(val, kind):
                what = "a list of stage names" if kind is list else "a stage name"
                raise ValueError(
                    f"stage {name!r}: {ref!r} must be {what}, got {type(val).__name__}"
                )
            for r in val if kind is list else [val]:
                if not isinstance(r, str) or r not in seen:
                    raise ValueError(
                        f"stage {name!r}: {ref!r} names stage {r!r} before it is defined"
                    )
        # an explicit `key: null` in YAML is as missing as an absent key
        missing = [
            k for k, p in settable.items() if p.default is p.empty and args.get(k) is None
        ]
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

        def fn(sp, _e=_OPS[st["op"]], _args=st.get("args") or {}, _inp=st.get("input")):
            # args were bound at build time (validate_config) — any
            # exception from here on is a real operator failure and
            # propagates untranslated
            lead = [sp] if _e.spark else []
            if _e.needs_input:
                lead.append(pipe.output(_inp))
            kw = dict(_args)
            for ref, kind in _e.refs.items():
                kw[ref] = (
                    [pipe.output(r) for r in kw[ref]] if kind is list else pipe.output(kw[ref])
                )
            return _e.fn(*lead, **kw)

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
