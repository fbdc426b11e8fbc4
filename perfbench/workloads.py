"""The benchmark's workloads.

Each workload generates its inputs from the seed in set-up, then runs
one operation at a time in a closed loop (one client, one driver
process): the next call starts only when the previous one returned.
Every call is timed step by step; calls into gelos_spark are wrapped in
spans named after the layer they enter, so a traced run can attribute
Spark's metrics to them. ``check`` compares the outputs with NumPy
references after the timed loop.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators import dedup
from gelos_spark.operators import images as imops
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.pip_join import TILE_RES, pip_join
from gelos_spark.plans.checkpoint import Pipeline
from gelos_spark.sources import synth

from perfbench import reference
from perfbench.stats import median, tail

# Sizes are set so that a run, set-up included, takes about 35-55 s on
# a 4-core machine. A call's time is mostly per-job overhead at these
# sizes, so smaller inputs would not make a run much shorter.
N_TILES = 150_000  # x 16 queries = 2.4M pairs > knn_join's 2M brute-force limit: ring path
N_AOIS, AOI_VERTICES = 64, 96
KNN_BATCH, KNN_K = 16, 10
KNN_MAX_BATCHES = 512
N_IMAGES, IMAGE_W = 512, 32  # plus as many perturbed near-copies
N_DOCS = 500
PHASH_MAX_HAMMING = 4
MINHASH = dict(num_hashes=64, bands=16, min_jaccard=0.5)
STAGES = ["tiles", "cells", "assign"]


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str
    inputs: str = ""


@dataclass
class Op:
    """One timed call: its steps' seconds and what it returned."""

    steps: dict
    ok: bool = True
    out: dict = field(default_factory=dict)

    @property
    def total(self) -> float:
        return sum(self.steps.values())


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Clock:
    """Times consecutive steps of one call."""

    def __init__(self):
        self.steps: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.steps[name] = self.steps.get(name, 0.0) + now - self._t
        self._t = now


class Workload:
    name = ""
    items = 0  # items one call processes in its main steps
    main_steps: tuple[str, ...] = ()
    query_step = ""  # the step a caller waits on for one answer
    # calls per run, first included; they outlast run_seconds on a
    # 4-core machine, which keeps the number of warm calls, and with it
    # the medians, the same from run to run
    min_calls = 2

    def __init__(self, seed: int):
        pass

    def generate(self, ctx: Ctx, out: str) -> None:
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Last part of set-up: open the inputs generated in ``ctx.inputs``."""

    def op(self, ctx: Ctx, i: int) -> Op:
        raise NotImplementedError

    def check(self, ctx: Ctx, ops: list[Op]) -> list[str]:
        return []

    def summary(self, ops: list[Op]) -> tuple[dict, list]:
        """End-to-end metrics {name: (value, unit)}, plus the workload's
        own named figures as (name, value, unit, note) lines."""
        warm = ops[1:] if len(ops) > 1 else ops
        main = median([sum(o.steps[s] for s in self.main_steps) for o in warm])
        e2e = {
            "items_per_s": (self.items / main, "items/s"),
            "p50_s": (median([o.total for o in warm]), "s"),
            "first_s": (ops[0].total, "s"),
            "query_s": (median([o.steps[self.query_step] for o in warm]), "s"),
        }
        return e2e, []


class Tiles(Workload):
    """The tile path, write side then read side. One call runs the staged
    jobs/pip_pipeline.py dataflow through Pipeline.stage: tiles -> cells
    -> assign, each committed to its SnapshotTable with lineage rows;
    then a second Pipeline with the same run id that must skip all three
    stages; then one client batch of 16 query points (k=10) to knn_join
    over the persisted tiles, reply collected. The tiles stage commits
    the tiles generated in set-up, where jobs/pip_pipeline.py generates
    them inside the stage, so generation stays set-up cost."""

    name = "tiles"
    items = N_TILES
    main_steps = ("staged",)
    query_step = "knn"

    def __init__(self, seed: int):
        self.aois = synth.aoi_polygons(N_AOIS, seed=seed, vertices=AOI_VERTICES)

    def generate(self, ctx, out):
        synth.tracker_df(ctx.spark, N_TILES, seed=ctx.seed).write.parquet(f"{out}/tiles")

    def prepare(self, ctx):
        self.queries = synth.query_points(KNN_BATCH * KNN_MAX_BATCHES, N_TILES, seed=ctx.seed)
        self.tiles = ctx.spark.read.parquet(f"{ctx.inputs}/tiles").select("image_id", "lon", "lat").persist()
        self.tiles.count()

    def batch(self, i: int):
        j = i % KNN_MAX_BATCHES
        return self.queries.iloc[j * KNN_BATCH:(j + 1) * KNN_BATCH].reset_index(drop=True)

    def op(self, ctx, i):
        root = f"{ctx.work}/staged/{i}"
        if i > 0:  # keep disk use flat; the last call's tables stay for the check
            shutil.rmtree(f"{ctx.work}/staged/{i - 1}", ignore_errors=True)
        run_id = f"seed{ctx.seed}"
        tiles = f"{ctx.inputs}/tiles"
        clock = _Clock()
        pipe = Pipeline(ctx.spark, root, run_id)
        fns = {
            "tiles": lambda sp: sp.read.parquet(tiles),
            "cells": lambda sp: pipe.output("tiles").withColumn(
                "cell", cell_encode_col(F.col("lon"), F.col("lat"), TILE_RES)
            ),
            "assign": lambda sp: pip_join(sp, pipe.output("cells"), self.aois, tile_cell_col="cell", ordered=False),
        }
        for stage in STAGES:
            with ctx.tracer.span("checkpoint.stage", stage=stage):
                pipe.stage(stage, fns[stage])
        clock.lap("staged")
        with ctx.tracer.span("checkpoint.resume"):
            again = Pipeline(ctx.spark, root, run_id)
            for stage in STAGES:
                again.stage(stage, _must_not_run)
        clock.lap("resume")
        with ctx.tracer.span("knn_join"):
            rows = knn_join(ctx.spark, self.tiles, self.batch(i), n_tiles_hint=N_TILES).collect()
        clock.lap("knn")
        ok = (again.skipped == STAGES and not again.executed and pipe.executed == STAGES
              and len(rows) == KNN_BATCH * KNN_K)
        return Op(clock.steps, ok, {"root": root, "run_id": run_id, "rows": rows if i == 0 else None})

    def check(self, ctx, ops):
        """The last call's committed assignment table vs the NumPy ray
        cast over every tile: row count and xor of xxhash64 per
        (aoi_id, tile) pair. The first kNN batch vs a NumPy haversine
        brute force over every tile."""
        last = ops[-1].out
        table = Pipeline(ctx.spark, last["root"], last["run_id"]).output("assign")
        key = reference.assignment_key(F.col("aoi_id"), F.substring("image_id", 4, 10).cast("long"))
        got = table.agg(F.count("*").alias("n"), F.bit_xor(F.xxhash64(key)).alias("h")).first()
        ref = reference.pip_assignments(N_TILES, ctx.seed, self.aois)
        want = (len(ref), reference.xor_hash(reference.assignment_key(ref[:, 0], ref[:, 1])))
        ops[0].out.update(assignments=got["n"], xor_hash=f"{(got['h'] or 0) & (2**64 - 1):016x}")
        errors = []
        if (got["n"], got["h"] or 0) != want:
            errors.append(f"assignments: {got['n']} rows xor-hash {got['h']}, NumPy reference {want[0]} rows {want[1]}")
        rows = [r.asDict() for r in ops[0].out.pop("rows")]
        return errors + reference.knn_mismatches(rows, self.batch(0), N_TILES, ctx.seed)

    def summary(self, ops):
        e2e, lines = super().summary(ops)
        warm = ops[1:] if len(ops) > 1 else ops
        lat = [o.steps["knn"] for o in warm]
        t = tail(lat)
        lines += [
            ("staged_commit.tiles_per_s", e2e["items_per_s"][0], "tiles/s", f"median of {len(warm)} staged runs"),
            ("staged_commit.resume_s", median([o.steps["resume"] for o in warm]), "s", "resume that skips all stages"),
            ("knn_lookup.p50_s", median(lat), "s", f"n={len(lat)} batches after the first"),
        ]
        if t is None:
            lines.append(("knn_lookup.tail_s", float("nan"), "s",
                          f"n={len(lat)}: no percentile has 10 samples beyond it"))
        else:
            lines.append(("knn_lookup.tail_s", t[1], "s", f"p{t[0]:.1f} of n={len(lat)} batches"))
        return e2e, lines


def _must_not_run(spark):
    raise RuntimeError("a resumed stage ran again")


class NearDup(Workload):
    """Seeded images plus perturbed near-copies: decode_stats, then
    phash_dup_pairs -> dedup_near(keep="canonical"), then
    minhash_lsh_pairs over seeded captions."""

    name = "near_dup"
    items = 2 * N_IMAGES
    main_steps = ("decode", "dedup")
    query_step = "minhash"
    # a call is short (~5 s) and its steps shorter: one warm sample
    # spread by more than the bounds between runs, two stay inside them
    min_calls = 3

    def generate(self, ctx, out):
        spark = ctx.spark
        synth.images_df(spark, N_IMAGES, w=IMAGE_W, seed=ctx.seed).write.parquet(f"{out}/images")
        near = imops.perturb_bands(spark.read.parquet(f"{out}/images"), bands=(2,), alpha=0.1, seed=ctx.seed)
        near.withColumn("image_id", F.concat(F.col("image_id"), F.lit("_p"))).write.parquet(f"{out}/near")
        spark.createDataFrame(reference.documents(N_DOCS, ctx.seed)).write.parquet(f"{out}/docs")

    def prepare(self, ctx):
        read = ctx.spark.read.parquet
        self.images = read(f"{ctx.inputs}/images").unionByName(read(f"{ctx.inputs}/near"))
        self.hashes = self.images.select("image_id", "phash")
        self.docs = read(f"{ctx.inputs}/docs")

    def op(self, ctx, i):
        tr = ctx.tracer
        clock = _Clock()
        with tr.span("images.decode_stats"):
            noop(imops.decode_stats(self.images))
        clock.lap("decode")
        with tr.span("dedup.phash_dedup_near"):
            pairs = dedup.phash_dup_pairs(self.hashes, max_hamming=PHASH_MAX_HAMMING)
            kept = dedup.dedup_near(self.hashes, pairs, id_col="image_id", keep="canonical").count()
        clock.lap("dedup")
        with tr.span("dedup.minhash_lsh_pairs"):
            doc_pairs = dedup.minhash_lsh_pairs(self.docs, **MINHASH).count()
        clock.lap("minhash")
        return Op(clock.steps, True, {"kept": kept, "doc_pairs": doc_pairs})

    def check(self, ctx, ops):
        rows = self.hashes.collect()
        ids = np.asarray([r["image_id"] for r in rows], dtype=object)
        ref = reference.hamming_pairs(ids, np.asarray([r["phash"] for r in rows]), PHASH_MAX_HAMMING)
        got = {(r["id_a"], r["id_b"]) for r in dedup.phash_dup_pairs(self.hashes, PHASH_MAX_HAMMING).collect()}
        kept = reference.canonical_survivors(ids.tolist(), sorted(ref))
        ops[0].out.update(phash_pairs=len(got), ref_kept=kept)
        errors = []
        if got != ref:
            errors.append(f"phash pairs: {len(got)} from the engine, {len(ref)} by all-pairs Hamming "
                          f"({len(got - ref)} extra, {len(ref - got)} missing)")
        for n, o in enumerate(ops):
            if o.out["kept"] != kept:
                errors.append(f"call {n}: dedup_near kept {o.out['kept']} rows, expected {kept}")
                o.ok = False
            if o.out["doc_pairs"] != ops[0].out["doc_pairs"] or o.out["doc_pairs"] == 0:
                errors.append(f"call {n}: minhash pairs {o.out['doc_pairs']}, first call {ops[0].out['doc_pairs']}")
                o.ok = False
        return errors

    def summary(self, ops):
        e2e, lines = super().summary(ops)
        warm = ops[1:] if len(ops) > 1 else ops
        lines += [
            ("near_dup.images_per_s", e2e["items_per_s"][0], "images/s", "decode + phash pairs + dedup_near"),
            ("near_dup.docs_per_s", N_DOCS / median([o.steps["minhash"] for o in warm]), "docs/s", "minhash_lsh_pairs"),
        ]
        return e2e, lines


WORKLOADS = {w.name: w for w in (Tiles, NearDup)}

