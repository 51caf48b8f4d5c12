"""Structural guard: one owner per materialization. ``operators/util.share``
is the only ``localCheckpoint`` call in the package, ``engine.Table`` owns
every ``persist``/``cache``, and the streaming ingest path reaches held
parts only through ``Table``'s public methods."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "zenodb_spark"


def _calls(tree: ast.AST, names: set[str]):
    """(enclosing class or None, line) of every ``<x>.<name>(...)`` call."""
    found = []

    def walk(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in names
            ):
                found.append((cls, child.lineno))
            walk(child, cls)

    walk(tree, None)
    return found


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(), str(path))


def test_local_checkpoint_only_in_share():
    stray = [
        f"{rel}:{line}"
        for rel, tree in _modules()
        for _, line in _calls(tree, {"localCheckpoint"})
        if rel != "operators/util.py"
    ]
    assert not stray, f"localCheckpoint outside operators/util.share: {stray}"


def test_persist_and_cache_only_in_table():
    stray = [
        f"{rel}:{line}"
        for rel, tree in _modules()
        for cls, line in _calls(tree, {"persist", "cache"})
        if (rel, cls) != ("engine.py", "Table")
    ]
    assert not stray, f"persist/cache outside engine.Table: {stray}"


def test_ingest_uses_no_table_private():
    engine = ast.parse((PKG / "engine.py").read_text())
    table = next(
        n for n in engine.body if isinstance(n, ast.ClassDef) and n.name == "Table"
    )
    private = {
        n.name
        for n in table.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("_")
        and not n.name.startswith("__")
    } | {
        n.attr
        for n in ast.walk(table)
        if isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Name)
        and n.value.id == "self"
        and n.attr.startswith("_")
        and not n.attr.startswith("__")
    }
    ingest = ast.parse((PKG / "streaming" / "ingest.py").read_text())
    used = sorted(
        {n.attr for n in ast.walk(ingest) if isinstance(n, ast.Attribute)} & private
    )
    assert not used, f"streaming/ingest.py reaches into Table: {used}"


def test_store_dirs_deleted_and_committed_only_by_versions():
    """``sources/versions.py`` is the one place that commits or deletes a
    store directory: the engine and the near-dup stream call neither
    ``shutil.rmtree`` nor ``os.replace``."""
    banned = {("shutil", "rmtree"), ("os", "replace")}
    stray = [
        f"{rel}:{node.lineno}"
        for rel in ("engine.py", "streaming/neardup.py")
        for node in ast.walk(ast.parse((PKG / rel).read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and (node.func.value.id, node.func.attr) in banned
    ]
    assert not stray, f"store dirs deleted or committed outside versions: {stray}"
