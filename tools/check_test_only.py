#!/usr/bin/env python
"""List the top-level package names the program never reaches.

Every function, class or constant defined at the top level of a module
under ``mcm_problem_f_data_wrangling_spark/`` must be reached from the
program: the root scripts (``bench.py``, ``__spark_entry__.py``),
``tools/``, ``perfbench/`` and the package's own entry points.  A name
that only ``tests/`` reach, or that nothing references at all, is code
the program never runs, and the scan exits 1 listing each one.

Reachability is computed over the AST, by name:

- **Roots.** Every top-level statement of a non-test ``.py`` file
  outside the package; inside the package, every decorated definition
  (the ``@query`` functions), every dunder definition and every
  module-level statement that is not a definition; and ``ALLOWLIST``.
- **Reach.** A reached statement reaches each loaded name and loaded
  attribute in it, and through ``from m import a as b`` a loaded ``b``
  also reaches ``a``.  A bare import, such as an ``__init__``
  re-export, is not a reach, and neither is an attribute of a name
  imported from outside the package (``pd.read_parquet``) nor a
  mention in a comment, docstring or string.  A reached name reaches everything its defining
  statements reference.  A name loaded in the module that defines it
  is that module's definition; any other reference reaches every
  package definition of the name.

Private names are checked too.  ``ALLOWLIST`` holds the unreached
names that stay on purpose, each with its reason; an entry the program
reaches without it, or one the package does not define, fails as
stale.

Usage: python tools/check_test_only.py   (from the repo root)
"""

from __future__ import annotations

import ast
import os
import sys

PACKAGE = "mcm_problem_f_data_wrangling_spark"

ALLOWLIST = {
    # References that tests compare a live path against:
    # the exact Gaussian log-likelihood at sigma^2 = 1, which the
    # brute-force MVN golden test checks the Kalman filter against (the
    # fits use the sigma-concentrated sarma_loglik_concentrated)
    "sarma_loglik_at_unit_scale",
    # the id-level fuzzy-pair operator; edit_distance_pair_counts, the
    # form queries run, is tested equal to aggregating it
    "edit_distance_pairs",
    # the SQL SemDeDup pass the BLAS semantic_dedup is tested
    # row-identical to
    "_semantic_dedup_sql",
    # the pure-Python image decoder the vectorized decode_images is
    # tested against
    "_fake_decode",
    # The fixture builder: the palette-PNG encoder the decoder tests
    # build their PLTE inputs with; the package itself only decodes.
    "encode_png_palette",
    # The reference's CES-schema pipeline (SURVEY.md section 3's entry
    # points): tests/test_ces_pipeline.py runs it end to end, and
    # download_file and collapse_duplicate_months have tests of their
    # own.  No registry table has the CES schema, so no query calls
    # them.  Their helpers stay reached through them.
    "download_file",
    "strip_keys",
    "build_series_dictionary",
    "search_industries",
    "extract_proxy_dataset",
    "collapse_career",
    "collapse_duplicate_months",
}


def _py_files() -> list[str]:
    out = []
    for d, subdirs, files in os.walk("."):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "__pycache__"))]
        out += [os.path.relpath(os.path.join(d, f)) for f in files if f.endswith(".py")]
    return sorted(out)


def _is_test(path: str) -> bool:
    base = os.path.basename(path)
    return (
        path.split(os.sep)[0] == "tests"
        or base.startswith("test_")
        or base == "conftest.py"
    )


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level definition statement binds ([] for others)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [
            n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
        ]
    return []


def _is_root(stmt: ast.stmt, names: list[str]) -> bool:
    """A package statement the program runs whoever references it."""
    if not names:
        return not isinstance(stmt, (ast.Import, ast.ImportFrom))
    return bool(getattr(stmt, "decorator_list", None)) or any(
        n.startswith("__") and n.endswith("__") for n in names
    )


def _imports(tree: ast.Module) -> tuple[dict[str, set[str]], set[str]]:
    """``b -> {a}`` for every ``from m import a as b`` in the file, and
    the names the file binds by importing from outside the package."""
    aliases: dict[str, set[str]] = {}
    outside: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            for a in n.names:
                if a.asname and a.asname != a.name:
                    aliases.setdefault(a.asname, set()).add(a.name)
            if n.level == 0 and not (n.module or "").startswith(PACKAGE):
                outside |= {a.asname or a.name for a in n.names}
        elif isinstance(n, ast.Import):
            outside |= {
                a.asname or a.name.split(".")[0]
                for a in n.names
                if not a.name.startswith(PACKAGE)
            }
    return aliases, outside


def _references(node: ast.AST, imports: tuple[dict, set]) -> tuple[set, set]:
    """(loaded names, through aliases; loaded attributes) under ``node``."""
    aliases, outside = imports
    names, attrs = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            names.add(n.id)
            names |= aliases.get(n.id, set())
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            if not (isinstance(n.value, ast.Name) and n.value.id in outside):
                attrs.add(n.attr)
    return names, attrs


def _closure(start: set, edges: dict) -> set:
    seen, todo = set(), list(start)
    while todo:
        node = todo.pop()
        if node not in seen:
            seen.add(node)
            todo += edges.get(node, ())
    return seen


def main() -> int:
    # a package definition is the node (path, name)
    local: dict[str, set[str]] = {}  # package file -> names it defines
    uses: list[tuple[str, list[str], bool, tuple[set, set]]] = []
    for path in _py_files():
        if _is_test(path):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        imports = _imports(tree)
        in_package = path.split(os.sep)[0] == PACKAGE
        for stmt in tree.body:
            names = _defined(stmt) if in_package else []
            local.setdefault(path, set()).update(names)
            root = not in_package or _is_root(stmt, names)
            uses.append((path, names, root, _references(stmt, imports)))
    by_name: dict[str, set[tuple[str, str]]] = {}
    for path, names in local.items():
        for name in names:
            by_name.setdefault(name, set()).add((path, name))

    def resolve(path: str, refs: tuple[set, set]) -> set:
        names, attrs = refs
        out = {(path, n) for n in names if n in local[path]}
        for n in attrs | {n for n in names if n not in local[path]}:
            out |= by_name.get(n, set())
        return out

    edges: dict[tuple[str, str], set] = {}
    roots: set = set()
    for path, names, root, refs in uses:
        targets = resolve(path, refs)
        if root:
            roots |= targets | {(path, n) for n in names}
        for name in names:
            edges.setdefault((path, name), set()).update(targets)
    allowed = set().union(*(by_name.get(n, set()) for n in ALLOWLIST))
    reached = _closure(roots | allowed, edges)
    problems = [
        f"{path}: {name} is not reached by the program"
        for name, path in sorted((n, p) for p, n in edges.keys() - reached)
    ]
    problems += [
        f"ALLOWLIST entry {n!r} is reached without the allowlist; remove it"
        for n in sorted({n for _, n in allowed & _closure(roots, edges)})
    ]
    problems += [
        f"ALLOWLIST entry {n!r} is not defined in the package; remove it"
        for n in sorted(ALLOWLIST - by_name.keys())
    ]
    print("\n".join(problems) if problems else "every package name is reached")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
