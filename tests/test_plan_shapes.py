"""Every declared query's plan shape matches plans/shapes.json: the
node-name counts of its initial physical plan and the Spark jobs its
build launches (scripts/plan_shapes.py). A change that adds an
exchange, a Python node or a plan-time job to any declared query fails
here until the record is regenerated and the diff named in CHANGES.md.
"""

from __future__ import annotations

import importlib.util
import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

_spec = importlib.util.spec_from_file_location("plan_shapes", ROOT / "scripts" / "plan_shapes.py")
plan_shapes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_shapes)


def _changes(recorded: dict, built: dict) -> list[str]:
    """One ``query: key old -> new`` line per job or node count that
    differs (a node absent from a plan counts 0)."""
    lines = []
    for name in sorted(recorded.keys() | built.keys()):
        if name not in recorded or name not in built:
            lines.append(f"{name}: {'not recorded' if name in built else 'no longer declared'}")
            continue
        r = {"jobs": recorded[name]["jobs"], **recorded[name]["nodes"]}
        b = {"jobs": built[name]["jobs"], **built[name]["nodes"]}
        lines += [
            f"{name}: {k} {r.get(k, 0)} -> {b.get(k, 0)}"
            for k in sorted(r.keys() | b.keys())
            if r.get(k, 0) != b.get(k, 0)
        ]
    return lines


def test_declared_query_plan_shapes_match_the_record(spark):
    with open(plan_shapes.PATH) as f:
        recorded = json.load(f)
    changes = _changes(recorded, plan_shapes.build(spark))
    assert not changes, (
        "plan shapes differ from plans/shapes.json:\n"
        + "\n".join(changes)
        + f"\nregenerate the record with: {plan_shapes.REGENERATE}"
    )
