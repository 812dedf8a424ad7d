"""Dead-code tripwire for the package.

Every public top-level function, class and module constant (a name
assigned at module level) in ``nifi_dicom_spark/`` must be referenced as an
identifier — a ``Name``, an ``Attribute`` or an import alias — somewhere
other than the statement that defines it, in any tracked ``.py`` file (the
package, the entrypoints, ``perfbench/``, ``jobs/`` and the tests). Strings
and docstrings do not count, so a helper that only a docstring mentions is
flagged.

The same modules never set or unset a session conf (``spark.conf.set``, or
``conf.set`` on a bound ``conf``): a write that needs a conf toggled to be
correct depends on which session it runs under, and a process-wide toggle
races every other writer. Pure ``ast`` over the sources: no Spark session,
well under a second.
"""

from __future__ import annotations

import ast
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "nifi_dicom_spark/"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _tracked_py_files() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        out = [
            p.relative_to(REPO).as_posix()
            for p in REPO.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        ]
    return sorted(out)


def _identifiers(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _defined_names(top: ast.stmt) -> frozenset[str]:
    if isinstance(top, DEFS):
        return frozenset({top.name})
    if isinstance(top, (ast.Assign, ast.AnnAssign)):
        targets = top.targets if isinstance(top, ast.Assign) else [top.target]
        return frozenset(
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        )
    return frozenset()


def _unreferenced() -> list[str]:
    defs: list[tuple[str, str]] = []  # (file, name)
    # name -> {(file, names the referencing top-level statement defines)}
    refs: dict[str, set[tuple[str, frozenset[str]]]] = {}
    for rel in _tracked_py_files():
        tree = ast.parse((REPO / rel).read_text(), filename=rel)
        for top in tree.body:
            owners = _defined_names(top)
            if rel.startswith(PACKAGE):
                defs += [(rel, o) for o in owners if not o.startswith("_")]
            for ident in _identifiers(top):
                refs.setdefault(ident, set()).add((rel, owners))
    return sorted(
        f"{rel}::{name}"
        for rel, name in defs
        if not any(f != rel or name not in o for f, o in refs.get(name, ()))
    )


def test_every_public_engine_definition_is_referenced():
    assert _unreferenced() == []


def _conf_mutations() -> list[str]:
    out = []
    for rel in _tracked_py_files():
        if not rel.startswith(PACKAGE):
            continue
        tree = ast.parse((REPO / rel).read_text(), filename=rel)
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("set", "unset")
            ):
                continue
            owner = n.func.value
            if (isinstance(owner, ast.Name) and owner.id == "conf") or (
                isinstance(owner, ast.Attribute) and owner.attr == "conf"
            ):
                out.append(f"{rel}:{n.lineno}")
    return sorted(out)


def test_engine_never_mutates_session_conf():
    assert _conf_mutations() == []
