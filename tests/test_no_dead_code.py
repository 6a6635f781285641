"""Every top-level function and class in ``gdal_spark/`` is referenced
by name somewhere outside its own definition (the engine, the tests,
the tools, the benchmark or the query entry points), or is named in
COVERAGE.md as documented surface.  Static: parses the sources with
``ast`` and needs no Spark session."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED_DIRS = ("gdal_spark", "tests", "tools", "perfbench")
SCANNED_FILES = ("__spark_entry__.py", "goldens_sf001.py")


def _sources():
    for d in SCANNED_DIRS:
        yield from sorted((ROOT / d).rglob("*.py"))
    for f in SCANNED_FILES:
        yield ROOT / f


def _names(node):
    """Every identifier *node* mentions: names, attributes, imported
    names and string constants (``monkeypatch.setattr(mod, "f", ...)``,
    ``getattr``)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def test_every_engine_definition_is_referenced():
    mentions = Counter()
    defs = []
    for path in _sources():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        mentions.update(_names(tree))
        if path.is_relative_to(ROOT / "gdal_spark"):
            defs.extend(
                (path.relative_to(ROOT), node) for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)))
    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8")
    dead = [
        f"{path}:{node.lineno} {node.name}" for path, node in defs
        if mentions[node.name] == Counter(_names(node))[node.name]
        and not re.search(rf"\b{re.escape(node.name)}\b", coverage)]
    assert dead == []
