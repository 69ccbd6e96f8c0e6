"""Unreferenced-definition report: module-level functions and classes
of the package that nothing outside their own module references.

Static and stdlib-only (``ast``). A definition named ``f`` counts as
referenced by a file when the file mentions ``f`` as a name, an
attribute, an imported name, or a string constant equal to ``f``
(registries that look functions up by name). Name matching ignores
which module a name resolves to, so two definitions sharing a name
both look referenced: the report can miss dead code, never flag live
code as unreferenced on that account.

Decorated definitions are skipped: their decorator registers them
(entry-query registry, pytest fixtures, dataclasses), so they are
reached without a by-name reference.

References are counted per area, each column separately:

    own    the definition's own module (its def line excluded)
    pkg    other modules of the package, plus ``__spark_entry__.py``
    init   re-exports: a package ``__init__.py``'s top-level imports and
           its ``__all__`` strings (its other mentions count in pkg)
    tests  ``tests/``
    tools  ``tools/``
    perf   ``perfbench/``
    bench  ``bench.py``
    readme word matches in ``README.md``

By default the report lists definitions with no reference in pkg,
tools, perf, bench or readme: dead code (own 0, tests 0), module-private
helpers (own > 0), code only tests reach (tests > 0) and code reached
only through a re-export (init > 0). ``--all``
lists every definition; names given on the command line restrict the
report to those names.

The last line counts duplicated code per package subdirectory
(``.`` = the package's top-level modules): each file's lines are
stripped, blank lines and lines starting with ``#`` dropped, and a
``DUP_WINDOW``-line window counts once if its text appears at two or
more places in that subdirectory.

Usage: python tools/unref_report.py [--root DIR] [--all] [NAME ...]
"""

from __future__ import annotations

import argparse
import ast
import os
import re
from collections import Counter

PACKAGE = "nifi_minifi_cpp_spark"
DUP_WINDOW = 8


def _py_files(root: str, sub: str) -> list[str]:
    top = os.path.join(root, sub)
    if os.path.isfile(top):
        return [top]
    out = []
    for dirpath, _dirs, files in os.walk(top):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _mentions(tree: ast.AST) -> Counter:
    """Identifier -> number of mentions in one parsed file."""
    seen: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            seen[node.id] += 1
        elif isinstance(node, ast.Attribute):
            seen[node.attr] += 1
        elif isinstance(node, ast.alias):
            seen[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                seen[node.value] += 1
    return seen


def _reexports(tree: ast.Module) -> Counter:
    """Names a package ``__init__.py`` re-exports: its top-level
    imported names and the strings of its ``__all__``."""
    seen: Counter = Counter()
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            seen.update(a.name.rsplit(".", 1)[-1] for a in node.names)
        elif isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "__all__" for t in node.targets):
            seen.update(c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant))
    return seen


def _definitions(tree: ast.Module) -> list[tuple[str, int, int]]:
    """Undecorated module-level (name, first line, line count)."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                out.append((node.name, node.lineno, node.end_lineno - node.lineno + 1))
    return out


def duplicated_windows(files: list[str], width: int = DUP_WINDOW) -> int:
    """Distinct ``width``-line windows whose text occurs at two or more
    places across ``files`` (stripped lines, blank and ``#`` lines dropped)."""
    seen: Counter = Counter()
    for path in files:
        with open(path, encoding="utf-8") as fh:
            lines = [ln.strip() for ln in fh]
        lines = [ln for ln in lines if ln and not ln.startswith("#")]
        for i in range(len(lines) - width + 1):
            seen["\n".join(lines[i : i + width])] += 1
    return sum(1 for n in seen.values() if n >= 2)


def report(root: str, names: set[str] | None = None, show_all: bool = False) -> list[str]:
    areas = {
        "pkg": _py_files(root, PACKAGE) + _py_files(root, "__spark_entry__.py"),
        "tests": _py_files(root, "tests"),
        "tools": _py_files(root, "tools"),
        "perf": _py_files(root, "perfbench"),
        "bench": _py_files(root, "bench.py"),
    }
    parsed = {}
    for files in areas.values():
        for path in files:
            with open(path, encoding="utf-8") as fh:
                parsed[path] = ast.parse(fh.read(), path)
    mentions = {path: _mentions(tree) for path, tree in parsed.items()}
    init = {p: _reexports(parsed[p]) for p in areas["pkg"] if os.path.basename(p) == "__init__.py"}
    for path, reexported in init.items():
        mentions[path] -= reexported
    readme = ""
    if os.path.exists(os.path.join(root, "README.md")):
        with open(os.path.join(root, "README.md"), encoding="utf-8") as fh:
            readme = fh.read()

    rows = []
    for module in areas["pkg"]:
        for name, line, n_lines in _definitions(parsed[module]):
            if names and name not in names:
                continue
            counts = {"own": mentions[module][name]}
            for area, files in areas.items():
                counts[area] = sum(mentions[p][name] for p in files if p != module)
            counts["init"] = sum(c[name] for p, c in init.items() if p != module)
            counts["readme"] = len(re.findall(rf"\b{re.escape(name)}\b", readme))
            if show_all or names or not any(counts[a] for a in ("pkg", "tools", "perf", "bench", "readme")):
                rel = os.path.relpath(module, root)
                rows.append((rel, line, name, n_lines, counts))

    cols = ("own", "pkg", "init", "tests", "tools", "perf", "bench", "readme")
    lines = [f"{'definition':<64} {'lines':>5} " + " ".join(f"{c:>6}" for c in cols)]
    for rel, line, name, n_lines, counts in rows:
        where = f"{rel}:{line} {name}"
        lines.append(f"{where:<64} {n_lines:>5} " + " ".join(f"{counts[c]:>6}" for c in cols))
    dead = [r for r in rows if not any(r[4][c] for c in cols)]
    lines.append(
        f"{len(rows)} listed ({sum(r[3] for r in rows)} lines); "
        f"{len(dead)} with no reference anywhere ({sum(r[3] for r in dead)} lines)"
    )
    by_dir: dict[str, list[str]] = {}
    for path in areas["pkg"]:
        rel = os.path.relpath(path, os.path.join(root, PACKAGE))
        if not rel.startswith(".."):
            by_dir.setdefault(os.path.dirname(rel) or ".", []).append(path)
    lines.append(
        f"duplicated {DUP_WINDOW}-line windows: "
        + ", ".join(f"{d} {duplicated_windows(fs)}" for d, fs in sorted(by_dir.items()))
    )
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="report only these definition names")
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--all", action="store_true", help="list every definition")
    args = ap.parse_args()
    print("\n".join(report(args.root, set(args.names) or None, args.all)))


if __name__ == "__main__":
    main()
