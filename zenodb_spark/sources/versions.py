"""Versioned store directories: the one commit protocol for every on-disk
fold — engine tables (``engine.Table.fold``) and the near-dup stream's
state (``streaming/neardup.compact_neardup_state``).

A store root keeps its folded base in numbered version directories and a
pointer naming the current one:

    root/base_v{k}/   the rows of version k, written once, never modified
    root/_ptr         the commit record: version, retired names, metadata

Version 0 is the directory ``main``, where tables kept their base before
the pointer existed: such a store reopens as it stands, and its first
commit retires ``main`` like any other base.

A writer asks ``fresh`` for the next version directory, fills it, and
``commit``s with one atomic ``os.replace`` of ``_ptr``. Readers resolve
the pointer first, so every crash leaves a complete store: an unpointed
future version is invisible and the next ``fresh`` sweeps it. A commit
retires the previous base and whatever the writer names (the parts it
folded), and deletes them at the NEXT commit, not at once: a plan that
listed their files before the commit still reads them (the reference
flush writes a new file and then swaps, row_store.go:351–508). A store
therefore holds at most its current and its previous base.
"""

from __future__ import annotations

import json
import os
import shutil

_PTR = "_ptr"


def _name(version: int) -> str:
    return f"base_v{version}" if version else "main"


def current(root: str) -> dict:
    """The committed pointer: ``version`` (0 before the first commit),
    ``retired`` (names under ``root`` the next commit deletes, which no
    reader of this version reads) and the metadata the writer committed."""
    try:
        with open(os.path.join(root, _PTR)) as f:
            return {"retired": [], **json.load(f)}
    except FileNotFoundError:
        return {"version": 0, "retired": []}


def base(root: str, ptr: dict | None = None) -> str | None:
    """Directory of the current version (of ``ptr`` when given), or None
    while it holds no files."""
    path = os.path.join(root, _name((ptr or current(root))["version"]))
    return path if os.path.isdir(path) and os.listdir(path) else None


def fresh(root: str) -> str:
    """Directory for the next version, after sweeping the unpointed
    versions a crashed writer left behind."""
    version = current(root)["version"]
    os.makedirs(root, exist_ok=True)
    for e in os.listdir(root):
        v = e.removeprefix("base_v")
        if v != e and v.isdigit() and int(v) > version:
            shutil.rmtree(os.path.join(root, e))
    return os.path.join(root, _name(version + 1))


def commit(root: str, retire=(), discard=(), **meta) -> None:
    """Make the directory ``fresh`` handed out the current version.

    First deletes what the previous commit retired; then flips the
    pointer, retiring the previous base and the ``retire`` names; then
    deletes the ``discard`` names at once (for a writer that is their only
    reader). ``meta`` is kept in the pointer for readers of ``current``."""
    old = current(root)
    for name in old["retired"]:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    retired = [_name(old["version"]), *retire]
    tmp = os.path.join(root, _PTR + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"version": old["version"] + 1, "retired": retired, **meta}, f)
    os.replace(tmp, os.path.join(root, _PTR))  # the commit point
    for name in discard:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
