"""Report top-level package definitions that no entry point reaches.

Roots: names referenced from the ENTRY_GLOBS files and from every
package statement that is not a def or class (it runs on import). A
top-level function or class of ``transferdb_spark/`` is reached when
its name is referenced from a root or from a reached definition's body.
Matching is by name (an identifier string counts too, for getattr-style
lookups), so the report errs towards "reached". Tests are not roots:
code only tests call shows up here. Report only, always exits 0:

    python scripts/unreached.py

``unreached_lines()`` returns the total; a Tier-1 test holds it to a
ceiling so unreached code cannot grow unnoticed.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
ENTRY_GLOBS = [
    "__spark_entry__.py",
    "transferdb_spark/__main__.py",
    "bench.py",
    "perfbench/*.py",
    "scripts/*.py",
]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def referenced(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def unreached() -> dict[str, list[tuple[str, int]]]:
    """{module: [(definition, lines), ...]} for every unreached
    top-level definition of the package."""
    defs = []  # (module, name, lines, node)
    reached: set[str] = set()
    for pattern in ENTRY_GLOBS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            reached |= referenced(parse(path))
    for path in sorted(glob.glob(os.path.join(ROOT, "transferdb_spark", "**", "*.py"), recursive=True)):
        mod = os.path.relpath(path, ROOT)
        for node in parse(path).body:
            if isinstance(node, DEFS):
                start = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.append((mod, node.name, node.end_lineno - start + 1, node))
            else:
                reached |= referenced(node)
    grew = True
    while grew:
        grew = False
        for _mod, name, _n, node in defs:
            if name in reached:
                new = referenced(node) - reached
                if new:
                    reached |= new
                    grew = True
    per_mod: dict[str, list[tuple[str, int]]] = {}
    for mod, name, n, _node in defs:
        if name not in reached:
            per_mod.setdefault(mod, []).append((name, n))
    return per_mod


def unreached_lines() -> int:
    """Total lines of the unreached definitions."""
    return sum(n for items in unreached().values() for _, n in items)


def main() -> int:
    per_mod = unreached()
    for mod in sorted(per_mod, key=lambda m: -sum(n for _, n in per_mod[m])):
        lines = sum(n for _, n in per_mod[mod])
        print(f"{lines:6d}  {mod}: " + ", ".join(name for name, _ in per_mod[mod]))
    total = sum(n for items in per_mod.values() for _, n in items)
    print(f"{total:6d}  unreached lines in {sum(len(v) for v in per_mod.values())} definitions")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
