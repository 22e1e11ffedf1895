#!/usr/bin/env python
"""List public top-level package names that only tests reference.

A public (no leading underscore) function, class or constant defined
at the top level of a module under ``mcm_problem_f_data_wrangling_spark/``
must be named by code outside the tests: another package module,
``tools/``, ``perfbench/`` or a root script (``bench.py``,
``__spark_entry__.py``).  A name that only ``tests/`` reach is code the
program never runs, and the scan exits 1 listing each one.

Definitions and references both come from the AST: a reference is a
loaded name, a loaded attribute or an imported name anywhere outside
the defining statement, so a mention in a comment, docstring or string
does not count (a decorated definition, such as a ``@query`` function,
is reached through its decorator and is never listed).  ``ALLOWLIST``
names the test-only names that stay on purpose, each with its reason.

Usage: python tools/check_test_only.py   (from the repo root)
"""

from __future__ import annotations

import ast
import os
import sys
from collections import Counter

PACKAGE = "mcm_problem_f_data_wrangling_spark"

ALLOWLIST = {
    # the exact Gaussian log-likelihood at sigma^2 = 1: the form the
    # brute-force MVN golden test checks the Kalman filter against
    # (the fits use the sigma-concentrated sarma_loglik_concentrated)
    "sarma_loglik_at_unit_scale",
    # the palette-PNG encoder the decoder tests build their PLTE
    # inputs with; the package itself only decodes
    "encode_png_palette",
    # Library entry points that no query, tool or benchmark calls yet,
    # each with its own tests; ROADMAP item 7 tracks wiring each into a
    # caller or deleting it.
    # the id-level fuzzy-pair operator; edit_distance_pair_counts, the
    # form queries run, is tested equal to aggregating it
    "edit_distance_pairs",
    # JVM md5 fallback expression, bit-identical to compute_phash's
    # Python fallback (tested row-for-row)
    "phash64",
    # payload-bytes partition sizing for decoded media batches
    "media_repartition_hint",
    # HLL-sketch rolling distinct actives; s14 runs the exact form
    "rolling_distinct_hll",
    # registers the synthetic_docs batch data source on a session
    "register_synthetic_docs",
    # driver-side fetch of raw BLS files; queries read local testdata
    "download_file",
    # small-file compaction and bucketed / z-ordered table writers
    "compact_parquet",
    "write_bucketed_table",
    "write_zordered",
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


def _definitions(tree: ast.Module) -> list[str]:
    """Public, undecorated top-level names the module defines."""
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [t.id for t in targets if isinstance(t, ast.Name)]
    return [n for n in names if not n.startswith("_")]


def _references(node: ast.AST) -> Counter:
    """Loaded names, loaded attributes and imported names under ``node``."""
    refs: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            refs[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            refs.update(a.name for a in n.names)
    return refs


def main() -> int:
    defined: dict[str, list[str]] = {}
    # per file: one (names the statement defines, references) pair per
    # top-level statement, so a definition's own body never reaches it
    stmts: dict[str, list[tuple[list[str], Counter]]] = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        if path.split(os.sep)[0] == PACKAGE:
            for name in _definitions(tree):
                defined.setdefault(name, []).append(path)
        stmts[path] = [
            (_definitions(ast.Module(body=[s], type_ignores=[])), _references(s))
            for s in tree.body
        ]
    test_only = []
    for name, paths in sorted(defined.items()):
        uses = {
            p: sum(refs[name] for defs, refs in body if name not in defs)
            for p, body in stmts.items()
        }
        in_prog = any(n > 0 for p, n in uses.items() if not _is_test(p))
        in_tests = any(n > 0 for p, n in uses.items() if _is_test(p))
        if in_tests and not in_prog and name not in ALLOWLIST:
            test_only.append(f"{paths[0]}: {name} is referenced only under tests/")
        if name in ALLOWLIST and in_prog:
            test_only.append(f"ALLOWLIST entry {name!r} is reached outside tests; remove it")
    test_only += [
        f"ALLOWLIST entry {n!r} is not defined in the package; remove it"
        for n in sorted(ALLOWLIST - defined.keys())
    ]
    print("\n".join(test_only) if test_only else "no test-only public names")
    return 1 if test_only else 0


if __name__ == "__main__":
    sys.exit(main())
