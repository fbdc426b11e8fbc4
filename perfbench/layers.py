"""Per-layer metrics of a traced run.

Spans come from the benchmark's own call sites (perfbench/workloads.py);
Spark's task and SQL metrics are attributed to them through the job
group each span sets. Per-call figures are medians over every call
but the first, which pays plan compilation and worker start; layers a
workload never enters report 0.
"""

from __future__ import annotations

from perfbench.eventlog import GroupStats, Rollup
from perfbench.spans import Span, descendants, self_times, union_length
from perfbench.stats import median

ROWS = "number of output rows"
WRITE_NODE = "InsertIntoHadoopFsRelation"


class Trace:
    def __init__(self, spans: list[Span], rollup: Rollup):
        self.spans = spans
        self.rollup = rollup
        self.ops = [s for s in spans if s.name == "op"]

    def stats(self, span: Span) -> GroupStats:
        """Spark metrics of every job submitted under ``span``."""
        return self.rollup.combined(s.group for s in descendants(self.spans, span.id))

    def warm_calls(self, name: str, **attrs) -> list[Span]:
        calls = [s for s in self.spans if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())]
        return calls[1:] if len(calls) > 1 else calls

    def per_call(self, name: str, fn, **attrs) -> float:
        """Median of ``fn(span, stats)`` over the warm calls of a span name."""
        calls = self.warm_calls(name, **attrs)
        return median([fn(s, self.stats(s)) for s in calls]) if calls else 0.0

    def driver_gap_s(self, span: Span, st: GroupStats) -> float:
        """Call time not covered by any Spark job of the call."""
        return span.duration - union_length([(a / 1e3, b / 1e3) for a, b in st.job_intervals])


def per_layer(spans, rollup: Rollup, kernel_metrics: dict, ops, e2e: dict) -> dict:
    t = Trace(spans, rollup)
    r = rollup
    m: dict[str, tuple[float, str]] = {}

    def dur(name, **attrs):
        return t.per_call(name, lambda s, st: s.duration, **attrs)

    def sql(name, node=None, detail=None):
        return lambda s, st: r.sql_sum(st, name, node, detail)

    def sql_s(name, node=None, detail=None):
        return lambda s, st: r.sql_seconds(st, name, node, detail)

    m["session.start_s"] = (dur("session.start"), "s")
    m["synth.gen_s"] = (median([s.duration for s in spans if s.name == "synth.gen"]), "s")
    m.update(kernel_metrics)

    # pip_join runs fused into the assign stage's commit; the cells stage
    # commits the same tiles with the same storage calls and no join
    assign = [s.duration for s in spans if s.name == "checkpoint.stage" and s.attrs["stage"] == "assign"]
    assign_s = dur("checkpoint.stage", stage="assign")

    def in_assign(fn):
        return t.per_call("checkpoint.stage", fn, stage="assign")

    m["pip_join.pass_s"] = (assign_s - dur("checkpoint.stage", stage="cells"), "s")
    m["pip_join.compile_s"] = ((assign[0] - assign_s) if assign else 0.0, "s")
    m["pip_join.cpu_s"] = (in_assign(lambda s, st: st.executor_cpu_ns / 1e9), "s")
    m["pip_join.jobs"] = (in_assign(lambda s, st: st.jobs), "count")
    m["pip_join.shuffle_bytes"] = (in_assign(lambda s, st: st.shuffle_write_bytes), "bytes")
    m["pip_join.candidates"] = (in_assign(sql(ROWS, "Join", r"cover_cell#")), "count")
    m["pip_join.rows_out"] = (in_assign(sql(ROWS, "Join", r"\[aoi_id#")), "count")

    m["knn_join.call_s"] = (dur("knn_join"), "s")
    m["knn_join.jobs_per_call"] = (t.per_call("knn_join", lambda s, st: st.jobs), "count")
    m["knn_join.driver_gap_s"] = (t.per_call("knn_join", t.driver_gap_s), "s")
    m["knn_join.python_s"] = (t.per_call("knn_join", sql_s("time to run Python workers")), "s")
    m["knn_join.shuffle_bytes"] = (t.per_call("knn_join", lambda s, st: st.shuffle_write_bytes), "bytes")

    m["images.decode_s"] = (dur("images.decode_stats"), "s")
    m["udf.python_s"] = (t.per_call("op", sql_s("time to run Python workers")), "s")
    m["udf.python_init_s"] = (
        t.per_call("op", lambda s, st: r.sql_seconds(st, "time to start Python workers")
                   + r.sql_seconds(st, "time to initialize Python workers")), "s")
    m["udf.bytes_to_python"] = (t.per_call("op", sql("data sent to Python workers")), "bytes")
    m["udf.bytes_from_python"] = (t.per_call("op", sql("data returned from Python workers")), "bytes")

    first = ops[0].out if ops else {}
    last = ops[-1].out if ops else {}
    m["phash_pairs.candidates"] = (t.per_call("dedup.phash_dedup_near", sql(ROWS, "Join", r"\bbits#")), "count")
    m["phash_pairs.pairs"] = (first.get("phash_pairs", 0), "count")
    m["minhash.candidates"] = (t.per_call("dedup.minhash_lsh_pairs", sql(ROWS, "Join", r"\bbh#")), "count")
    m["minhash.pairs"] = (last.get("doc_pairs", 0), "count")
    m["dedup_near.jobs"] = (t.per_call("dedup.phash_dedup_near", lambda s, st: st.jobs), "count")

    def dedup_stats(op: Span) -> GroupStats:
        out = GroupStats()
        for s in descendants(spans, op.id):
            if s.name.startswith("dedup."):
                out.add(t.stats(s))
        return out

    m["dedup.shuffle_bytes"] = (t.per_call("op", lambda s, st: dedup_stats(s).shuffle_write_bytes), "bytes")
    m["dedup.shuffle_records"] = (t.per_call("op", lambda s, st: dedup_stats(s).shuffle_write_records), "count")
    m["dedup.spill_bytes"] = (t.per_call("op", lambda s, st: dedup_stats(s).spill_bytes), "bytes")

    # stage-table commits only: lineage rows carry wall-clock fields, so
    # their bytes differ from run to run
    stage_tables = r"^(?!.*_checkpoints)"
    files = t.per_call("op", sql("number of written files", WRITE_NODE, stage_tables))
    written = t.per_call("op", sql("written output", WRITE_NODE, stage_tables))
    rows = t.per_call("op", sql(ROWS, WRITE_NODE, stage_tables))
    m["snapshot.files_written"] = (files, "count")
    m["snapshot.bytes_written"] = (written, "bytes")
    m["snapshot.bytes_per_row"] = (written / rows if rows else 0.0, "bytes/row")
    m["snapshot.task_commit_s"] = (t.per_call("op", sql_s("task commit time", WRITE_NODE, stage_tables)), "s")
    for stage in ("tiles", "cells", "assign"):
        m[f"checkpoint.stage_s.{stage}"] = (dur("checkpoint.stage", stage=stage), "s")
    m["checkpoint.resume_jobs"] = (t.per_call("checkpoint.resume", lambda s, st: st.jobs), "count")
    m["checkpoint.lineage_rows"] = (t.per_call("op", sql(ROWS, WRITE_NODE, r"_checkpoints")), "count")

    for key, unit, fn in (
        ("jobs", "count", lambda st: st.jobs),
        ("tasks", "count", lambda st: st.tasks),
        ("executor_run_s", "s", lambda st: st.executor_run_ms / 1e3),
        ("executor_cpu_s", "s", lambda st: st.executor_cpu_ns / 1e9),
        ("gc_s", "s", lambda st: st.gc_ms / 1e3),
        ("shuffle_write_bytes", "bytes", lambda st: st.shuffle_write_bytes),
        ("spill_bytes", "bytes", lambda st: st.spill_bytes),
        ("result_bytes", "bytes", lambda st: st.result_bytes),
    ):
        m[f"spark.{key}"] = (t.per_call("op", lambda s, st, fn=fn: fn(st)), unit)

    # reconciliation: span self times inside the timed calls must add up
    # to the calls' wall time as the workload loop measured it
    own = self_times(spans)
    in_ops = sum(own[s.id] for op in t.ops for s in descendants(spans, op.id))
    measured = sum(o.total for o in ops)
    m["trace.reconcile_err_frac"] = (abs(in_ops - measured) / measured if measured else 0.0, "frac")
    m["trace.unattributed_frac"] = (
        median([own[s.id] / s.duration for s in t.warm_calls("op")]) if t.ops else 0.0, "frac")
    m["trace.p50_s"] = e2e["p50_s"]
    m["trace.items_per_s"] = e2e["items_per_s"]
    return m
