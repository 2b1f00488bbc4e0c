"""Count the configuration surface of the package: for each module, its
public functions and methods, their parameters, and how many of those
parameters have defaults. Read with ``ast`` only — nothing is imported
and no Spark session starts.

A function is public when no part of its qualified name starts with an
underscore (so private helpers, dunders and methods of private classes
are out). Parameters are the named ones (positional and keyword-only);
``self``/``cls`` and ``*args``/``**kwargs`` are not counted. Nested
functions (closures) are not counted.

Usage:
  python tools/param_census.py [repo_root]   # prints one JSON line
"""

from __future__ import annotations

import ast
import json
import os
import sys

PACKAGE = "automated_data_pipeline_spark"


def signatures(path: str) -> list[tuple[str, list[str], int]]:
    """(qualified name, parameter names, number with a default) of every
    module-level function and class method in the file, private ones
    included."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []

    def visit(body, prefix: str, in_class: bool) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if in_class and names[:1] in (["self"], ["cls"]):
                    names = names[1:]
                n_default = len(a.defaults) + sum(
                    d is not None for d in a.kw_defaults
                )
                out.append((prefix + node.name, names, n_default))
            elif isinstance(node, ast.ClassDef):
                visit(node.body, f"{prefix}{node.name}.", True)

    visit(tree.body, "", False)
    return out


def is_public(qualname: str) -> bool:
    return not any(part.startswith("_") for part in qualname.split("."))


def census(root: str) -> dict:
    """{module: {"functions", "params", "defaults"}} over the package's
    public functions and methods, plus a ``"total"`` entry."""
    out = {}
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fname in sorted(filenames):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            module = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
            public = [s for s in signatures(path) if is_public(s[0])]
            out[module] = {
                "functions": len(public),
                "params": sum(len(names) for _, names, _ in public),
                "defaults": sum(n for _, _, n in public),
            }
    out["total"] = {
        key: sum(m[key] for m in out.values())
        for key in ("functions", "params", "defaults")
    }
    return out


def main(argv: list[str]) -> int:
    root = argv[0] if argv else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    print(json.dumps(census(root), sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
