"""Which ``py_sema_spark`` modules the program's surfaces import.

Walks the import statements (AST, nothing is executed) from the
py-sema surfaces, the driver-contract query suite, ``__main__``, the
benchmark and the tools, and prints the package's line count, the
lines reached, and every module not reached with its line count.

Usage: python tools/import_reach.py [repo_root]
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

SURFACES = (
    "pipeline", "queries", "shacl", "store", "syncfs", "subyt", "harvest",
    "ogm", "tasks", "cli", "endpoint_store", "serialize", "__main__",
)


def module_name(root: Path, path: Path) -> str:
    return ".".join(path.relative_to(root).with_suffix("").parts).removesuffix(".__init__")


def imports(name: str, path: Path, known: set) -> set:
    """Package modules ``path`` imports, with their parent packages
    (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    pkg = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(pkg[: len(pkg) - node.level + 1] + ([base] if base else []))
            found |= {base} | {f"{base}.{a.name}" for a in node.names}
    prefixes = {".".join(d.split(".")[:i]) for d in found for i in range(1, d.count(".") + 2)}
    return prefixes & known


def reach(root: Path) -> tuple:
    """``(modules, reached)``: every ``py_sema_spark`` module name with
    its path, and the set of names the surfaces import directly or
    transitively."""
    mods = {module_name(root, p): p for p in (root / "py_sema_spark").rglob("*.py")}
    todo = [
        m for m in mods
        if any(m == f"py_sema_spark.{s}" or m.startswith(f"py_sema_spark.{s}.") for s in SURFACES)
    ]
    for extra in [*(root / "perfbench").glob("*.py"), *(root / "tools").glob("*.py"),
                  root / "__spark_entry__.py"]:
        todo += imports(extra.stem, extra, set(mods))
    seen: set = set()
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo += imports(m, mods[m], set(mods))
    return mods, seen


def main() -> None:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve()
    mods, seen = reach(root)

    def lines(names) -> int:
        return sum(len(mods[m].read_text().splitlines()) for m in names)

    print(f"py_sema_spark lines: {lines(mods)}, reached: {lines(seen)}")
    for m in sorted(set(mods) - seen):
        print(f"not reached: {m} ({lines([m])} lines)")


if __name__ == "__main__":
    main()
