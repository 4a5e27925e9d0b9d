"""Dead-code guard: every top-level function and class in the package must
be referenced from code somewhere in the repository's Python files outside
its own definition. A reference is a name or attribute use, an
identifier-shaped string constant (``getattr``/registry lookups), or an
import that the importing module uses or that the package ``__init__``
re-exports; an unused import, a comment or a docstring mention does not
keep a definition alive. Registry queries (``@register``) and UDFs
(``@*udf``) are reached by name lookup, so they are exempt."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "soda_core_spark"
REEXPORTS = PACKAGE / "__init__.py"


def _repo_py_files():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if not any(part.startswith(".") or part == "spark-warehouse" for part in rel):
            yield p


def _references(tree: ast.AST, reexports: bool = False) -> Counter:
    refs = Counter()
    aliases = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            aliases.append(node)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            refs[node.value] += 1
    used = set(refs)
    for a in aliases:
        bound = a.asname or a.name.split(".", 1)[0]
        if reexports or bound in used:
            refs[a.name.rsplit(".", 1)[-1]] += 1
    return refs


def _exempt(node) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        if name == "register" or name.endswith("udf"):
            return True
    return False


def test_every_package_definition_is_referenced():
    trees = {p: ast.parse(p.read_text(encoding="utf-8")) for p in _repo_py_files()}
    counts = sum(
        (_references(t, reexports=p == REEXPORTS) for p, t in trees.items()),
        Counter(),
    )
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _exempt(node):
                continue
            if counts[node.name] == _references(node)[node.name]:
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced package definitions:\n" + "\n".join(dead)
