"""The size of ``sbse/``'s code and of its public settable surface.

Prints, per module of the ``sbse`` package, its line count (as ``wc -l``
counts them) and the number of parameters with a default value on its
public functions: module-level functions and methods of module-level
classes whose names do not start with ``_`` (methods of a class whose name
does start with ``_`` are private too). A total follows. Run from the
repository root:

    python BENCH/surface.py [--json]
"""

from __future__ import annotations

import argparse
import ast
import glob
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> int:
    a = fn.args
    return len(a.defaults) + sum(d is not None for d in a.kw_defaults)


def _public_functions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield node
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if (isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not m.name.startswith("_")):
                    yield m


def surface(root: str = ROOT) -> list[tuple[str, int, int]]:
    """(module, lines, defaulted public parameters) for every module."""
    rows = []
    for path in sorted(glob.glob(os.path.join(root, "sbse", "**", "*.py"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        params = sum(_defaulted(fn)
                     for fn in _public_functions(ast.parse(src, path)))
        rel = os.path.relpath(path, root)
        module = rel[:-3].replace(os.sep, ".")
        rows.append((module, src.count("\n"), params))
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--json", action="store_true",
                    help="print one JSON object instead of a table")
    args = ap.parse_args()
    rows = surface()
    total = ("total", sum(r[1] for r in rows), sum(r[2] for r in rows))
    if args.json:
        print(json.dumps({"modules": {m: {"lines": n, "defaulted_params": p}
                                      for m, n, p in rows},
                          "lines": total[1], "defaulted_params": total[2]}))
        return
    width = max(len(r[0]) for r in [*rows, total])
    print(f"{'module':<{width}}  {'lines':>6}  {'params':>6}")
    for m, n, p in [*rows, total]:
        print(f"{m:<{width}}  {n:>6}  {p:>6}")


if __name__ == "__main__":
    main()
