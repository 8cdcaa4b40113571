"""Spark-free guard: no function in the package assigns a local that it
never reads. A dead local in a query body is plan-building code a reader
has to check for a side effect it cannot have."""

from __future__ import annotations

import ast
from pathlib import Path

import grouper_spark

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested scopes."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _dead_locals(root):
    """``path:line function name`` for each plain name a function under
    ``root`` assigns and never reads. Reads in nested functions count;
    tuple-unpacking targets and ``_``-prefixed names are exempt."""
    sites = []
    for path in sorted(Path(root).rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            stores, shared = {}, set()
            for node in _own_nodes(fn):
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign) and node.value is not None:
                    targets = [node.target]
                else:
                    if isinstance(node, (ast.Global, ast.Nonlocal)):
                        shared.update(node.names)
                    continue
                for t in targets:
                    if isinstance(t, ast.Name):
                        stores.setdefault(t.id, node.lineno)
            reads = {
                n.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            reads |= {
                n.target.id
                for n in ast.walk(fn)
                if isinstance(n, ast.AugAssign) and isinstance(n.target, ast.Name)
            }
            for name, line in stores.items():
                if not (name.startswith("_") or name in reads or name in shared):
                    sites.append(f"{path}:{line} {fn.name} {name}")
    return sites


def test_no_function_assigns_a_local_it_never_reads():
    assert _dead_locals(Path(grouper_spark.__file__).parent) == []


def test_dead_local_scan_flags_one_dead_local(tmp_path):
    (tmp_path / "m.py").write_text(
        "def q(spark, sf_dir):\n"
        "    w = Window.orderBy('d')\n"
        "    nd = F.col('n').cast('double')\n"
        "    _, sigs, cand = split(spark)\n"
        "    n, dim = cand.shape\n"
        "    _scratch = 1\n"
        "    total = 0\n"
        "    total += 1\n"
        "    step = 2\n"
        "    def inner():\n"
        "        return step * dim\n"
        "    return inner() + nd\n"
    )
    assert [s.split(" ", 1)[1] for s in _dead_locals(tmp_path)] == ["q w"]
