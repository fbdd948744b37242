"""Dead-code guard: every top-level function or class in
`bigdata06_spark/` must be referenced by some tracked `.py` file
outside its own definition. Query builders decorated with the registry
decorator count as used — the decorator calls them. Spark-free."""

import ast
import os
import subprocess
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent


def _tracked_py() -> list[Path]:
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=_REPO, check=True,
                             capture_output=True, text=True).stdout.split()
        files = [_REPO / f for f in out]
    except (OSError, subprocess.CalledProcessError):
        files = list(_REPO.rglob("*.py"))
    # vendored third-party packages cannot call into the engine
    return [f for f in files if f.exists() and "vendor" not in f.relative_to(_REPO).parts]


def _is_registration(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "register") or (
                isinstance(f, ast.Attribute) and f.attr == "register"):
            return True
    return False


def _references(tree: ast.AST):
    """(name, line) for every identifier use: names, attributes,
    imported names, and string constants that spell an identifier
    (monkeypatch/getattr targets)."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1], n.lineno
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value, n.lineno


def test_no_unreferenced_top_level_definitions():
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _tracked_py()}
    defs = {}  # name -> [(file, first line, last line)]
    for f, tree in trees.items():
        if f.relative_to(_REPO).parts[0] != "bigdata06_spark":
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and not node.name.startswith("__") and not _is_registration(node)):
                defs.setdefault(node.name, []).append((f, node.lineno, node.end_lineno))
    used = set()
    for f, tree in trees.items():
        for name, line in _references(tree):
            for df, lo, hi in defs.get(name, ()):
                if df != f or not lo <= line <= hi:
                    used.add(name)
    dead = sorted(
        f"{os.path.relpath(df, _REPO)}:{lo} {name}"
        for name, sites in defs.items() if name not in used
        for df, lo, _ in sites
    )
    assert not dead, "top-level definitions nothing references:\n" + "\n".join(dead)
