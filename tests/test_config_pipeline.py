"""Config-driven pipeline assembly (SURVEY.md §2.8 U3): the engine's
analog of the reference's YAML round-trip test
(tests/test_data.py:368-399 — the documented config must instantiate
and execute), plus checkpoint-resume through the config path and
config validation errors."""

from __future__ import annotations

import dataclasses
import functools

import pytest
import yaml
from pyspark.sql import functions as F

from gelos_spark.plans import config as cfg

PIPE_YAML = """
run_id: t1
stages:
  - name: tiles
    op: synth_tracker
    args: {n: 2000, seed: 42}
  - name: cells
    op: cell_encode
    input: tiles
    args: {res: 16}
  - name: assign
    op: pip_join
    input: cells
    args: {n_aois: 12, seed: 42, tile_cell_col: cell, ordered: false}
"""


def test_documented_config_round_trips(spark, tmp_path):
    # the checked-in flagship config parses and validates as-is
    conf = cfg.load_config("jobs/pip_pipeline.yaml")
    cfg.validate_config(conf)
    cfg.validate_config(cfg.load_config("jobs/training_data.yaml"))

    # a small instance of the same shape executes end-to-end
    conf = yaml.safe_load(PIPE_YAML)
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    assert pipe.executed == ["tiles", "cells", "assign"]
    out = pipe.output("assign")
    assert out.count() == 872  # the verified seed-42/2000-tile PIP count
    assert {"aoi_id", "image_id"} <= set(out.columns)


def test_config_resume_skips_done_stages(spark, tmp_path):
    conf = yaml.safe_load(PIPE_YAML)
    root = str(tmp_path / "resume")
    p1 = cfg.build_pipeline(spark, conf, root=root)
    assert p1.executed == ["tiles", "cells", "assign"]
    p2 = cfg.build_pipeline(spark, conf, root=root)
    assert p2.executed == []
    assert p2.skipped == ["tiles", "cells", "assign"]
    assert p2.output("assign").count() == 872


def test_config_validation_errors(spark):
    with pytest.raises(ValueError, match="stages"):
        cfg.validate_config({})
    with pytest.raises(ValueError, match="unknown op"):
        cfg.validate_config({"stages": [{"name": "a", "op": "nope"}]})
    with pytest.raises(ValueError, match="before it is defined"):
        cfg.validate_config(
            {"stages": [{"name": "a", "op": "cell_encode", "input": "missing"}]}
        )
    with pytest.raises(ValueError, match="'name' and 'op'"):
        cfg.validate_config({"stages": [{"op": "synth_tracker"}]})


def test_yaml_file_runner(spark, tmp_path):
    path = tmp_path / "conf.yaml"
    path.write_text(PIPE_YAML)
    pipe = cfg.build_pipeline(spark, cfg.load_config(str(path)), root=str(tmp_path / "out"))
    assert pipe.output("assign").count() == 872


def test_missing_required_arg_names_the_stage(spark, tmp_path):
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "bad",
        "stages": [{"name": "imgs", "op": "synth_multisensor", "args": {}}],
    }
    with pytest.raises(ValueError, match="stage 'imgs'.*missing required arg"):
        cfg.build_pipeline(spark, conf, root=str(tmp_path / "bad"))


def test_missing_input_wiring_is_a_config_error(spark, tmp_path):
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "bad",
        "stages": [{"name": "c", "op": "cell_encode", "args": {"res": 8}}],
    }
    with pytest.raises(ValueError, match="needs an 'input' stage"):
        cfg.build_pipeline(spark, conf, root=str(tmp_path / "bad"))


def test_operator_keyerror_propagates_untranslated(spark, tmp_path):
    """A KeyError raised INSIDE an operator (here: stack_sensors on a
    band dict missing a declared sensor) must surface as the real
    error, not be relabelled 'missing required arg' (ADVICE r3)."""
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "kerr",
        "stages": [
            {
                "name": "imgs",
                "op": "synth_multisensor",
                "args": {"n": 4, "sensors": {"s1": ["VV"]}, "t_steps": 1, "w": 8},
            },
            {
                "name": "stack",
                "op": "stack_sensors",
                "input": "imgs",
                # bands declares a sensor the input frame doesn't carry
                "args": {"bands": {"nope": ["X1"]}},
            },
        ],
    }
    with pytest.raises(Exception) as ei:
        cfg.build_pipeline(spark, conf, root=str(tmp_path / "kerr"))
    assert "missing required arg" not in str(ei.value)


def test_plot_scatter_stage(spark, tmp_path):
    """The transformation CLI's terminal plot as a config stage: the
    figure is rendered by the engine's PNG writer and its metadata row
    rides the lineage."""
    png = str(tmp_path / "fig" / "scatter.png")
    import os

    os.makedirs(os.path.dirname(png), exist_ok=True)
    conf = {
        "run_id": "plot",
        "stages": [
            {"name": "tiles", "op": "synth_tracker", "args": {"n": 300, "seed": 4}},
            {
                "name": "fig",
                "op": "plot_scatter",
                "input": "tiles",
                "args": {"x_col": "lon", "y_col": "lat", "cat_col": "lulc", "path": png},
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    assert os.path.getsize(png) > 100
    row = pipe.output("fig").collect()[0]
    assert row.n_points == 300 and row.bytes == os.path.getsize(png)
    done = pipe.log.lineage("plot").where("status = 'done'").count()
    assert done == 2


def test_resize_and_frame_sample_ops(spark, tmp_path):
    conf = {
        "run_id": "mm",
        "stages": [
            {"name": "imgs", "op": "synth_images", "args": {"n": 16, "w": 16, "seed": 2}},
            {"name": "small", "op": "resize", "input": "imgs", "args": {"w": 8, "h": 8}},
            {
                "name": "frames",
                "op": "synth_multisensor",
                "args": {"n": 8, "sensors": {"s1": ["VV", "VH"]}, "t_steps": 6, "w": 8},
            },
            {
                "name": "sampled",
                "op": "frame_sample",
                "input": "frames",
                "args": {"sensors": ["s1"], "stride": 2},
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "mm"))
    small = pipe.output("small").collect()
    assert all(r.w == 8 and r.h == 8 for r in small) and len(small) == 16
    assert all(len(r.s1_frames) == 3 for r in pipe.output("sampled").collect())


def test_pip_join_op_reads_geojson_aois(spark, tmp_path):
    import json

    doc = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature", "properties": {"name": "box"},
            "geometry": {"type": "Polygon", "coordinates": [
                [[-60, -50], [60, -50], [60, 50], [-60, 50], [-60, -50]],
            ]},
        }],
    }
    gj = tmp_path / "aois.geojson"
    gj.write_text(json.dumps(doc))
    conf = {
        "run_id": "gj",
        "stages": [
            {"name": "tiles", "op": "synth_tracker", "args": {"n": 400, "seed": 42}},
            {"name": "cells", "op": "cell_encode", "input": "tiles", "args": {"res": 16}},
            {
                "name": "assign",
                "op": "pip_join",
                "input": "cells",
                "args": {"aoi_geojson": str(gj), "tile_cell_col": "cell"},
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "gj"))
    # the box covers the entire synthetic coordinate domain
    assert pipe.output("assign").count() == 400


def test_training_data_family_as_config_pipeline(spark, tmp_path):
    """Round-4 declarative surface: read a real parquet table, attach
    text features, run exact + MinHash dedup and a kNN stage — all
    from one config, all lineage-recorded."""
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "tdf",
        "stages": [
            {
                "name": "docs",
                "op": "read_parquet",
                "args": {"path": "/root/testdata/sf0.001/documents.parquet"},
            },
            {"name": "feats", "op": "text_features", "input": "docs"},
            {
                "name": "uniq",
                "op": "dedup_exact",
                "input": "feats",
                "args": {"key_cols": ["fingerprint"], "id_col": "doc_id"},
            },
            {
                "name": "near",
                "op": "minhash_pairs",
                "input": "docs",
                "args": {"num_hashes": 32, "bands": 8, "min_jaccard": 0.2},
            },
            {
                "name": "vocab",
                "op": "top_terms",
                "input": "docs",
                "args": {"text_col": "text", "k": 5, "min_len": 2},
            },
            {
                "name": "keywords",
                "op": "tf_idf",
                "input": "docs",
                "args": {"min_len": 2, "k": 3},
            },
            {
                "name": "gated",
                "op": "quantile_filter",
                "input": "feats",
                "args": {
                    "score_col": "quality",
                    "keep_frac": 0.5,
                    "by": "lang",
                    "id_col": "doc_id",
                },
            },
            {"name": "tiles", "op": "synth_tracker", "args": {"n": 400, "seed": 3}},
            {
                "name": "knn",
                "op": "knn",
                "input": "tiles",
                "args": {
                    "queries": [[0, 10.0, 10.0, 3], [1, -20.0, 5.0, 3]],
                    "n_tiles_hint": 400,
                },
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    feats = pipe.output("feats")
    assert {"lang", "quality", "n_tokens", "fingerprint"} <= set(feats.columns)
    n_docs = pipe.output("docs").count()
    assert 0 < pipe.output("uniq").count() <= n_docs
    assert pipe.output("knn").count() == 6
    # the declarative top_terms stage forwards every documented key and
    # equals the direct function call row for row
    from gelos_spark.functions.text import top_terms

    direct = top_terms(
        pipe.output("docs"), text_col="text", k=5, min_len=2
    ).collect()
    assert pipe.output("vocab").collect() == direct
    assert [r.rank for r in direct] == [1, 2, 3, 4, 5]
    kw = pipe.output("keywords")
    assert set(kw.columns) == {"doc_id", "term", "tf", "df_docs", "tfidf", "rank"}
    assert kw.where("rank > 3").count() == 0 and kw.count() > 0
    from gelos_spark.functions.sampling import quantile_filter

    gated = pipe.output("gated")
    direct_gate = quantile_filter(
        pipe.output("feats"), "quality", 0.5, "lang", "doc_id"
    )
    assert sorted(r.doc_id for r in gated.collect()) == sorted(
        r.doc_id for r in direct_gate.collect()
    )
    assert 0 < gated.count() < pipe.output("feats").count()
    done = pipe.log.lineage("tdf").where("status = 'done'").count()
    assert done == 9


def test_pipeline_kill_resume_chaos(spark, tmp_path, monkeypatch):
    """SURVEY §5.5 chaos drill at pipeline level: a run that HARD-FAILS
    mid-pipeline (op raises after earlier stages committed) must, on
    re-invocation, lineage-skip the committed stages, run only the
    failed one, and produce output identical to an uninterrupted run.
    Previously resume-skip was only tested on clean re-invocation."""
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "chaos",
        "stages": [
            {
                "name": "docs",
                "op": "read_parquet",
                "args": {"path": "/root/testdata/sf0.001/documents.parquet"},
            },
            {"name": "feats", "op": "text_features", "input": "docs"},
            {
                "name": "near",
                "op": "minhash_pairs",
                "input": "docs",
                "args": {"num_hashes": 32, "bands": 8, "min_jaccard": 0.2},
            },
        ],
    }

    # uninterrupted reference run
    ref = cfg.build_pipeline(spark, conf, root=str(tmp_path / "ref"))
    ref_rows = sorted(map(tuple, ref.output("near").collect()))
    assert len(ref_rows) > 0

    # chaos run: the near-dup op dies AFTER docs+feats committed
    root = str(tmp_path / "chaos")
    real_op = cfg._OPS["minhash_pairs"]

    @functools.wraps(real_op.fn)  # same signature, so the stage still binds
    def _dying_op(*args, **kwargs):
        raise RuntimeError("executor lost")  # simulated mid-pipeline kill

    monkeypatch.setitem(cfg._OPS, "minhash_pairs", dataclasses.replace(real_op, fn=_dying_op))
    with pytest.raises(RuntimeError, match="executor lost"):
        cfg.build_pipeline(spark, conf, root=root)
    monkeypatch.setitem(cfg._OPS, "minhash_pairs", real_op)

    # re-invoke: stages 1-2 are lineage-skipped, only 'near' runs
    pipe = cfg.build_pipeline(spark, conf, root=root)
    assert pipe.skipped == ["docs", "feats"]
    assert pipe.executed == ["near"]
    assert sorted(map(tuple, pipe.output("near").collect())) == ref_rows


def test_simhash_and_ann_config_ops(spark, tmp_path):
    """The declarative dedup/similarity surface covers the whole
    family: simhash near-dup and ANN top-k (lsh + brute, identical
    candidates re-ranked exactly) run as config stages over the real
    test tables."""
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "simann",
        "stages": [
            {
                "name": "docs",
                "op": "read_parquet",
                "args": {"path": "/root/testdata/sf0.001/documents.parquet"},
            },
            {
                "name": "sh_pairs",
                "op": "simhash_pairs",
                "input": "docs",
                "args": {"max_hamming": 3},
            },
            {
                "name": "emb",
                "op": "read_parquet",
                "args": {"path": "/root/testdata/sf0.001/embeddings.parquet"},
            },
            {
                "name": "ann",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "query_ids": [0, 1, 2, 3], "ntables": 12, "nbits": 8},
            },
            {
                "name": "exact",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "method": "brute", "query_ids": [0, 1, 2, 3]},
            },
            {
                "name": "ann_port",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "query_ids": [0, 1, 2, 3], "ntables": 4,
                         "nbits": 8, "portable": True},
            },
            {
                "name": "sh_port",
                "op": "simhash_pairs",
                "input": "docs",
                "args": {"max_hamming": 3, "portable": True},
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    assert pipe.output("sh_pairs").count() >= 0  # committed + lineage'd
    ann = pipe.output("ann")
    exact = pipe.output("exact")
    assert exact.count() == 20  # 4 queries x k
    # LSH re-ranks true cosines: wherever ANN and exact agree on a
    # (query, candidate) pair the scores are bit-identical, and the
    # bucketed path recovers a usable fraction of the exact top-k
    overlap = ann.join(exact, ["query_id", "vec_id"]).count()
    score_match = ann.join(exact, ["query_id", "vec_id", "cosine"]).count()
    assert score_match == overlap
    assert overlap >= 0.4 * exact.count()
    # portable flags reach the kernels: declarative == direct call
    from gelos_spark.operators import dedup as _dd
    from gelos_spark.operators import similarity as _sim

    emb = pipe.output("emb")
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    direct = _sim.lsh_topk(spark, emb, q, k=5, nbits=8, ntables=4, portable=True)
    assert sorted(map(tuple, pipe.output("ann_port").collect())) == sorted(
        map(tuple, direct.collect())
    )
    direct_sh = _dd.simhash_pairs(pipe.output("docs"), max_hamming=3, portable=True)
    assert sorted(map(tuple, pipe.output("sh_port").collect())) == sorted(
        map(tuple, direct_sh.collect())
    )
    assert pipe.log.lineage("simann").where("status = 'done'").count() == 7


def test_ann_topk_ivf_method(spark, tmp_path):
    """ann_topk's ivf method trains, indexes, and probes in one stage;
    with nprobe == n_centroids every list is scanned, so the result
    must equal the exact brute-force stage row for row. The same holds
    for the portable (quantized) probe over a corpus self-search, which
    stays distributed."""
    from gelos_spark.plans import config as cfg

    conf = {
        "run_id": "ivf",
        "stages": [
            {
                "name": "emb",
                "op": "read_parquet",
                "args": {"path": "/root/testdata/sf0.001/embeddings.parquet"},
            },
            {
                "name": "ivf",
                "op": "ann_topk",
                "input": "emb",
                "args": {
                    "k": 5,
                    "method": "ivf",
                    "query_ids": [0, 1, 2],
                    "n_centroids": 8,
                    "nprobe": 8,
                },
            },
            {
                "name": "exact",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "method": "brute", "query_ids": [0, 1, 2]},
            },
            {
                "name": "ivf_self",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "method": "ivf", "portable": True, "n_centroids": 8, "nprobe": 8},
            },
            {
                "name": "exact_self",
                "op": "ann_topk",
                "input": "emb",
                "args": {"k": 5, "method": "brute"},
            },
        ],
    }
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    ivf = sorted(map(tuple, pipe.output("ivf").collect()))
    exact = sorted(map(tuple, pipe.output("exact").collect()))
    assert len(exact) == 15 and ivf == exact
    ivf_self = sorted(map(tuple, pipe.output("ivf_self").collect()))
    exact_self = sorted(map(tuple, pipe.output("exact_self").collect()))
    assert len(exact_self) > 15 and ivf_self == exact_self


def test_ann_topk_rejects_empty_and_oversized_query_ids(spark, tmp_path):
    """query_ids: [] almost certainly meant "no queries" — silently
    falling back to corpus x corpus self-search would invert the
    author's intent (round-5 advice); and the id list becomes a
    broadcast isin, so corpus-sized lists are refused like the
    knn/brute query contracts."""
    from gelos_spark.plans import config as cfg

    def conf(run_id, args):
        return {
            "run_id": run_id,
            "stages": [
                {
                    "name": "emb",
                    "op": "read_parquet",
                    "args": {"path": "/root/testdata/sf0.001/embeddings.parquet"},
                },
                {"name": "ann", "op": "ann_topk", "input": "emb", "args": args},
            ],
        }

    with pytest.raises(ValueError, match="empty"):
        cfg.build_pipeline(
            spark, conf("g1", {"k": 5, "query_ids": []}), root=str(tmp_path / "r1")
        )
    with pytest.raises(ValueError, match="max_query_ids"):
        cfg.build_pipeline(
            spark,
            conf("g2", {"k": 5, "query_ids": list(range(11)), "max_query_ids": 10}),
            root=str(tmp_path / "r2"),
        )


def test_dedup_near_pipeline(spark, tmp_path):
    """docs -> simhash pairs -> survivor selection through the config
    surface: the dedup_near op joins its input corpus with a committed
    pairs stage (``pairs: <stage>``) and must equal the engine-level
    composition row for row."""
    conf = yaml.safe_load(
        """
run_id: dn1
stages:
  - name: docs
    op: read_parquet
    args: {path: /root/testdata/sf0.001/documents.parquet, columns: [doc_id, text]}
  - name: pairs
    op: simhash_pairs
    input: docs
    args: {max_hamming: 6}
  - name: survivors
    op: dedup_near
    input: docs
    args: {pairs: pairs, keep: canonical}
"""
    )
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    assert pipe.executed == ["docs", "pairs", "survivors"]

    from gelos_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = dedup.simhash_pairs(docs, max_hamming=6)
    exp = dedup.dedup_near(docs, pairs, keep="canonical")
    got = pipe.output("survivors")
    assert got.columns == exp.columns
    assert sorted(map(tuple, got.select("doc_id", "component").collect())) == sorted(
        map(tuple, exp.select("doc_id", "component").collect())
    )
    # one survivor per component, never more rows than docs
    assert got.select("component").distinct().count() == got.count()
    assert got.count() <= docs.count()


def test_clustered_stage_and_maintenance(spark, tmp_path):
    """Stage-level ``cluster_by``/``num_files`` commit the stage table
    range-sorted so manifest stats prune later scans; the pipeline
    ``maintenance`` block compacts small files and expires old
    snapshots — both idempotent across a resume."""
    import yaml as _yaml

    from pyspark.sql import functions as F

    conf = _yaml.safe_load(
        """
run_id: t1
maintenance: {compact_target_bytes: 4096, expire_keep_last: 1}
stages:
  - name: tiles
    op: synth_tracker
    args: {n: 4000, seed: 42}
  - name: cells
    op: cell_encode
    input: tiles
    args: {res: 16}
    cluster_by: [cell]
    num_files: 6
"""
    )
    root = str(tmp_path / "run")
    pipe = cfg.build_pipeline(spark, conf, root=root)
    tbl = pipe.table("cells")

    # clustered commit: several files, each with tight cell stats;
    # (4096-byte compaction target leaves these multi-KB files alone)
    entries = [f for f in tbl.files() if f["partition"] == "cells"]
    assert len(entries) > 1
    assert all("cell" in f["stats"] for f in entries)

    # manifest pruning: a range scan opens a strict subset AND matches
    # the full-scan filter exactly
    cells = pipe.output("cells")
    lo, hi = cells.agg(F.min("cell"), F.expr("percentile(cell, 0.2)")).collect()[0]
    pruned = tbl.read(spark, where={"cell": (int(lo), int(hi))})
    n = pruned.count()
    assert 0 < tbl.last_scan["files_read"] < tbl.last_scan["files_total"]
    assert n == cells.filter(F.col("cell").between(int(lo), int(hi))).count() > 0

    # maintenance ran: history expired to the last snapshot only
    assert len(tbl.snapshots()) == 1

    # resume: stages skip, maintenance no-ops, content identical
    h = pipe.output("cells").agg(F.bit_xor(F.xxhash64("image_id", "cell"))).collect()
    p2 = cfg.build_pipeline(spark, conf, root=root)
    assert p2.skipped == ["tiles", "cells"]
    h2 = p2.output("cells").agg(F.bit_xor(F.xxhash64("image_id", "cell"))).collect()
    assert h == h2


def test_asof_join_config_op(spark, tmp_path):
    """asof_join as a declarative stage: right side wired by stage
    name (validated defined-before, like union_stages' refs)."""
    import yaml as _yaml

    conf = _yaml.safe_load(
        """
run_id: t1
stages:
  - name: clicks
    op: read_parquet
    args: {path: /root/testdata/sf0.001/events.parquet}
  - name: purchases
    op: read_parquet
    args: {path: /root/testdata/sf0.001/events.parquet}
  - name: attributed
    op: asof_join
    input: purchases
    args: {right: clicks, "on": ts, by: user_id, right_cols: [value], tiebreak: event_id}
"""
    )
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    out = pipe.output("attributed")
    assert out.count() == pipe.output("purchases").count() > 0
    assert {"value_r", "ts_r"} <= set(out.columns)

    bad = {
        "run_id": "t2",
        "stages": [
            {"name": "l", "op": "read_parquet",
             "args": {"path": "/root/testdata/sf0.001/events.parquet"}},
            {"name": "j", "op": "asof_join", "input": "l",
             "args": {"right": "not_yet", "on": "ts", "by": "user_id"}},
        ],
    }
    with pytest.raises(ValueError, match="before it is defined"):
        cfg.validate_config(bad)


def test_range_join_config_op(spark, tmp_path):
    """range_join as a declarative stage: intervals wired by stage
    name; equals the direct operator call row for row."""
    import yaml as _yaml

    from gelos_spark.operators.interval import range_join as rj

    conf = _yaml.safe_load(
        """
run_id: rj1
stages:
  - name: events
    op: read_parquet
    args: {path: /root/testdata/sf0.001/events.parquet}
  - name: incidents
    op: sql
    input: events
    args:
      query: >
        SELECT event_id AS incident_id, user_id, ts AS `start`,
               ts + INTERVAL 10 MINUTES AS `end`
        FROM __input__ WHERE event_type = 'error'
  - name: windowed
    op: range_join
    input: events
    args: {intervals: incidents, "on": ts, by: user_id}
"""
    )
    pipe = cfg.build_pipeline(spark, conf, root=str(tmp_path / "run"))
    out = pipe.output("windowed")
    ev = pipe.output("events")
    direct = rj(ev, pipe.output("incidents"), on="ts", by="user_id")
    key = lambda r: (r["event_id"], r["incident_id_i"])  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(map(key, direct.collect()))
    assert out.count() > 0

    bad = {
        "run_id": "rj2",
        "stages": [
            {"name": "e", "op": "read_parquet",
             "args": {"path": "/root/testdata/sf0.001/events.parquet"}},
            {"name": "w", "op": "range_join", "input": "e",
             "args": {"intervals": "not_yet", "on": "ts"}},
        ],
    }
    with pytest.raises(ValueError, match="before it is defined"):
        cfg.validate_config(bad)


def test_explicit_null_required_arg_fails_validation(spark):
    """YAML `right: null` must fail as a missing required arg, not
    slip past validation into a mid-run crash on pipe.output(None)."""
    bad = {
        "run_id": "t",
        "stages": [
            {"name": "l", "op": "read_parquet",
             "args": {"path": "/root/testdata/sf0.001/events.parquet"}},
            {"name": "j", "op": "asof_join", "input": "l",
             "args": {"right": None, "on": "ts", "by": "user_id"}},
        ],
    }
    with pytest.raises(ValueError, match="missing required args"):
        cfg.validate_config(bad)


def _docs_then(stage: dict) -> dict:
    """A config whose first stage ``docs`` is valid (validation never
    reads the path) followed by ``stage``."""
    return {
        "run_id": "v",
        "stages": [
            {"name": "docs", "op": "read_parquet", "args": {"path": "documents.parquet"}},
            stage,
        ],
    }


@pytest.mark.parametrize(
    "stage",
    [
        # an operator registered directly: a misspelt key must not run
        # the stage with the defaults it meant to override
        {"name": "near", "op": "minhash_pairs", "input": "docs",
         "args": {"num_hashe": 64, "min_jaccard": 0.2}},
        # an adapter op
        {"name": "feats", "op": "text_features", "input": "docs",
         "args": {"text_column": "text"}},
    ],
    ids=["direct", "adapter"],
)
def test_unknown_arg_fails_validation(stage):
    key = next(iter(stage["args"]))
    with pytest.raises(ValueError, match=rf"stage '{stage['name']}'.*unknown args.*'{key}'"):
        cfg.validate_config(_docs_then(stage))


def test_unquoted_yaml_on_key_is_named_as_the_cause():
    """YAML 1.1 loads a bare ``on:`` key as ``True``; the stage fails
    validation instead of running with the default ``on``."""
    stage = yaml.safe_load(
        "{name: s, op: sessionize, input: docs, args: {on: ts, by: user_id}}"
    )
    assert True in stage["args"]
    with pytest.raises(ValueError, match=r"unknown args \[True\].*quote it"):
        cfg.validate_config(_docs_then(stage))


@pytest.mark.parametrize("ref", ["later", "missing"])
def test_dedup_near_pairs_must_name_an_earlier_stage(ref):
    """``pairs`` is a stage reference like ``right`` and ``others``:
    naming a later or a missing stage fails at validation, which
    ``build_pipeline`` runs before any stage."""
    conf = _docs_then(
        {"name": "kept", "op": "dedup_near", "input": "docs", "args": {"pairs": ref}}
    )
    conf["stages"].append(
        {"name": "later", "op": "simhash_pairs", "input": "docs"}
    )
    with pytest.raises(ValueError, match=f"'pairs' names stage '{ref}' before it is defined"):
        cfg.validate_config(conf)


@pytest.mark.parametrize(
    "yaml_stage, key",
    [
        # an operator registered directly
        ('{name: near, op: minhash_pairs, input: docs, args: {portable: "false"}}', "portable"),
        # adapters that cast with bool() before
        ('{name: pip, op: pip_join, input: docs, args: {ordered: "false"}}', "ordered"),
        ("{name: ann, op: ann_topk, input: docs, args: {k: 3, portable: 'no'}}", "portable"),
        ('{name: bj, op: bucketed_join, args: {left_table: a, right_table: b, key: cell, '
         'require_no_exchange: "false"}}', "require_no_exchange"),
        # neither null nor 0/1 is a YAML boolean
        ("{name: s, op: sessionize, input: docs, args: {stats: 1}}", "stats"),
        ("{name: q, op: quantile_filter, input: docs, args: {ascending: null}}", "ascending"),
    ],
    ids=["direct", "pip_join", "ann_topk", "bucketed_join", "int", "null"],
)
def test_bool_arg_takes_only_a_yaml_boolean(yaml_stage, key):
    """A quoted YAML ``"false"`` loads as a truthy string: a ``bool``
    parameter must reject it at validation instead of switching the
    option on."""
    stage = yaml.safe_load(yaml_stage)
    with pytest.raises(
        ValueError, match=rf"stage '{stage['name']}' \(op '{stage['op']}'\): '{key}' must be a boolean"
    ):
        cfg.validate_config(_docs_then(stage))

