"""Dead-code guard: every top-level function and class in the package must
be referenced somewhere in the repository's Python files outside its own
definition. Registry queries (``@register``) and UDFs (``@*udf``) are
reached by name lookup, so they are exempt."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "soda_core_spark"
_IDENT = re.compile(r"\w+")


def _repo_py_files():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if not any(part.startswith(".") or part == "spark-warehouse" for part in rel):
            yield p


def _exempt(node) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        if name == "register" or name.endswith("udf"):
            return True
    return False


def test_every_package_definition_is_referenced():
    sources = {p: p.read_text(encoding="utf-8") for p in _repo_py_files()}
    counts = Counter(tok for src in sources.values() for tok in _IDENT.findall(src))
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = sources[path].splitlines()
        for node in ast.parse(sources[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _exempt(node):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[start - 1 : node.end_lineno])
            if counts[node.name] == _IDENT.findall(own).count(node.name):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced package definitions:\n" + "\n".join(dead)
