"""The package holds only what a non-test caller reaches.

A static scan, no Spark session: every top-level def and method under
``gelos_spark/`` must be reachable from non-test code. The roots are
the driver contract (``__spark_entry__.py``), ``bench.py``, ``jobs/``,
``scripts/``, ``perfbench/`` (minus its tests) and the package's own
module-level code. A def is reached when a reached body uses its name
(a load of the name or attribute, or a ``from ... import`` of it), and
the scan runs to a fixpoint, so a use inside another unreached def does
not count. A method is reached only once its class is; dunder methods
ride with their class. A class-body alias of a method (``name =
method``) is a method of its own, which uses the one it names. Matching
is by bare name, so a name shared with any reached use counts as
reached: the scan can miss dead code, never invent it.

Reference implementations the tests compare against live in
``tests/oracles.py``, not in the package.
"""

from __future__ import annotations

import ast
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "gelos_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("jobs", "scripts", "perfbench")
TEST_DIRS = ("tests", "perfbench/tests")

# "module:qualname" -> one-line reason it stays although the scan does
# not reach it. Keep empty where possible.
ALLOWED: dict[str, str] = {}


@dataclass
class Def:
    key: str  # "module:qualname"
    name: str
    cls: str | None  # key of the enclosing class, for methods
    uses: set[str] = field(default_factory=set)


def _names(nodes) -> set[str]:
    """Identifiers that the given AST nodes load or import."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update(a.name for a in n.names)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _alias(item: ast.stmt, methods: set[str]) -> str | None:
    """The name a class-body ``name = method`` statement binds."""
    if (
        isinstance(item, ast.Assign)
        and len(item.targets) == 1
        and isinstance(item.targets[0], ast.Name)
        and isinstance(item.value, ast.Name)
        and item.value.id in methods
    ):
        return item.targets[0].id
    return None


def _module_defs(module: str, tree: ast.Module) -> tuple[list[Def], set[str]]:
    """The module's defs, and the names its module-level code uses."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    defs: list[Def] = []
    top: list[ast.stmt] = []
    for stmt in tree.body:
        if isinstance(stmt, funcs):
            defs.append(Def(f"{module}:{stmt.name}", stmt.name, None, _names([stmt])))
        elif isinstance(stmt, ast.ClassDef):
            ckey = f"{module}:{stmt.name}"
            own: list[ast.AST] = [*stmt.bases, *stmt.keywords, *stmt.decorator_list]
            methods = {i.name for i in stmt.body if isinstance(i, funcs)}
            for item in stmt.body:
                if isinstance(item, funcs) and not _is_dunder(item.name):
                    defs.append(Def(f"{ckey}.{item.name}", item.name, ckey, _names([item])))
                elif alias := _alias(item, methods):
                    defs.append(Def(f"{ckey}.{alias}", alias, ckey, _names([item])))
                else:
                    own.append(item)
            defs.append(Def(ckey, stmt.name, None, _names(own)))
        else:
            top.append(stmt)
    return defs, _names(top)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def root_files(root: Path = ROOT) -> list[Path]:
    files = [root / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        files += sorted((root / d).rglob("*.py"))
    tests = tuple(root / d for d in TEST_DIRS)
    return [f for f in files if not any(f.is_relative_to(t) for t in tests)]


def unreached(root: Path = ROOT) -> list[str]:
    """Keys of the package defs that no non-test caller reaches."""
    used: set[str] = set()
    for f in root_files(root):
        used |= _names([_parse(f)])
    defs: list[Def] = []
    for f in sorted((root / PACKAGE).rglob("*.py")):
        module = ".".join(f.relative_to(root).with_suffix("").parts)
        mdefs, top = _module_defs(module, _parse(f))
        defs += mdefs
        used |= top
    reached: set[str] = set()
    changed = True
    while changed:
        changed = False
        for d in defs:
            if d.key in reached:
                continue
            if d.name in used and (d.cls is None or d.cls in reached):
                reached.add(d.key)
                used |= d.uses
                changed = True
    return sorted(d.key for d in defs if d.key not in reached)


def test_every_package_def_is_reached_by_non_test_code():
    assert root_files(), "no non-test roots found"
    missing = [k for k in unreached() if k not in ALLOWED]
    assert not missing, (
        "reached only from tests (or only through another unreached def): "
        f"{missing}; delete them, move an oracle to tests/oracles.py, or "
        "add an ALLOWED entry with its reason"
    )


def test_allowlist_names_only_unreached_defs():
    stale = sorted(set(ALLOWED) - set(unreached()))
    assert not stale, f"ALLOWED entries that are reached or gone: {stale}"


def test_scan_follows_a_chain_to_its_fixpoint(tmp_path):
    """An unreached def keeps the defs it alone uses unreached; a used
    method of a used class is reached, and an unused alias of a method
    is not."""
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def dead():\n    return dead_only()\n"
        "def dead_only():\n    return 2\n"
        "def entry():\n    return Box().used()\n"
        "class Box:\n"
        "    def __init__(self):\n        self.n = 0\n"
        "    def used(self):\n        return 3\n"
        "    def spare(self):\n        return 4\n"
        "    spare_alias = spare\n"
        "class Orphan:\n    def used(self):\n        return 5\n"
    )
    for f in ROOT_FILES:
        (tmp_path / f).write_text("from gelos_spark.mod import entry\nentry()\n")
    assert unreached(tmp_path) == [
        "gelos_spark.mod:Box.spare",
        "gelos_spark.mod:Box.spare_alias",
        "gelos_spark.mod:Orphan",
        "gelos_spark.mod:Orphan.used",
        "gelos_spark.mod:dead",
        "gelos_spark.mod:dead_only",
    ]
