#!/usr/bin/env python
"""List the package names and parameters the program does not reach.

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

A second pass checks the defaulted parameters (positional or
keyword-only) of every package function and method the roots reach
without ``ALLOWLIST``.  A call in a reached statement binds a parameter
by keyword, by position (after ``self``/``cls``), or all of them
through a ``*args`` or ``**kwargs`` splat; using a function as a value
rather than calling it binds all of them too.  Calls resolve by name,
through import aliases, as in the first pass.  A parameter no such call
binds only ever takes its default: it is a constant written as a
parameter, and the scan reports it.  ``PARAM_ALLOWLIST`` holds the
``function.parameter`` pairs that stay on purpose, each with its
reason; an entry the program binds, or one that is not a defaulted
parameter of a package function, fails as stale.  The last line counts
the defaulted parameters of the reached functions: the values a caller
can set.

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


PARAM_ALLOWLIST = {
    # Safety and deployment settings that a query runs at their
    # default, kept so a caller on a cluster can set them:
    # where connected components keeps its durable per-round state
    "connected_components.state",
    # the directory connected components checkpoints its rounds into
    "connected_components.work_dir",
    # the round cap that turns a non-converging graph into an error
    "connected_components.max_iter",
    # the same round cap for k-core peeling
    "k_core.max_iter",
    # where k-core peeling keeps its durable per-round state
    "k_core.state",
    # the directory k-core peeling checkpoints its rounds into
    "k_core.work_dir",
    # the range-bucket count that bounds one task's share of a global lag
    "global_lag.n_buckets",
    # the range-bucket count that bounds one task's share of a row number
    "global_row_number.n_buckets",
    # the range-bucket count that bounds one task's share of a running sum
    "global_running_sum.n_buckets",
    # the driver-side training sample, bounded for large corpora
    "train_ivf_cells.sample_n",
    # the same driver-memory bound on the product-quantizer sample
    "train_pq.sample_n",
    # the cap on the word table collected to the driver
    "corpus_word_counts.max_words",
    # the cluster address; the program runs on a local master
    "get_spark.master",
    # the Bloom filter size, which sets its false-positive rate
    "bloom_decontaminate.m_bits",
    # the cap on the broadcast boilerplate set, which bounds driver memory
    "boilerplate_removal.max_boiler_set",
    # The fixture builder: the stereo MP4 that checks the audio-track
    # parser reads a multi-channel header.
    "encode_mp4_av.channels",
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
    names, attrs = set(), set()
    for loaded, attr, _ in _loads(node, imports):
        if attr is None:
            names |= loaded
        else:
            attrs.add(attr)
    return names, attrs


def _functions(tree: ast.Module) -> dict[str, tuple[ast.AST, bool]]:
    """``name -> (definition, is method)`` for the file's top-level
    functions and its top-level classes' methods (``Class.method``)."""
    out = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out[stmt.name] = (stmt, False)
        elif isinstance(stmt, ast.ClassDef):
            for m in stmt.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out[f"{stmt.name}.{m.name}"] = (m, True)
    return out


def _defaulted(fn: ast.AST) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults):]] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _loads(node: ast.AST, imports: tuple[dict, set]):
    """Yield ``(names, attr, bound)`` for each loaded name or attribute
    under ``node``: the names (through aliases) or the attribute it is
    reached by, and what it binds: ``(n positional, {keywords})`` when
    it is called, ``None`` (everything) for a splat call or a value use.
    An attribute of a name imported from outside the package is skipped."""
    aliases, outside = imports
    called = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            splat = any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            )
            called[id(n.func)] = None if splat else (
                len(n.args), {k.arg for k in n.keywords if k.arg}
            )
    for n in ast.walk(node):
        bound = called.get(id(n))
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield {n.id} | aliases.get(n.id, set()), None, bound
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            if not (isinstance(n.value, ast.Name) and n.value.id in outside):
                yield set(), n.attr, bound


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
    funcs: dict[tuple[str, str], tuple[ast.AST, bool]] = {}
    uses: list[tuple[str, list[str], bool, tuple[set, set], ast.stmt, tuple]] = []
    for path in _py_files():
        if _is_test(path):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        imports = _imports(tree)
        in_package = path.split(os.sep)[0] == PACKAGE
        if in_package:
            funcs.update({(path, q): f for q, f in _functions(tree).items()})
        for stmt in tree.body:
            names = _defined(stmt) if in_package else []
            local.setdefault(path, set()).update(names)
            root = not in_package or _is_root(stmt, names)
            refs = _references(stmt, imports)
            uses.append((path, names, root, refs, stmt, imports))
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
    for path, names, root, refs, _, _ in uses:
        targets = resolve(path, refs)
        if root:
            roots |= targets | {(path, n) for n in names}
        for name in names:
            edges.setdefault((path, name), set()).update(targets)
    allowed = set().union(*(by_name.get(n, set()) for n in ALLOWLIST))
    live = _closure(roots, edges)
    reached = _closure(roots | allowed, edges)
    problems = [
        f"{path}: {name} is not reached by the program"
        for name, path in sorted((n, p) for p, n in edges.keys() - reached)
    ]
    problems += [
        f"ALLOWLIST entry {n!r} is reached without the allowlist; remove it"
        for n in sorted({n for _, n in allowed & live})
    ]
    problems += [
        f"ALLOWLIST entry {n!r} is not defined in the package; remove it"
        for n in sorted(ALLOWLIST - by_name.keys())
    ]

    # parameter pass: what each reached call binds, per (path, qualname)
    methods: dict[str, set] = {}
    for path, q in funcs:
        if "." in q:
            methods.setdefault(q.split(".")[1], set()).add((path, q))

    bound_by: dict = {}  # (path, qualname) -> its bound parameters, None = all
    for path, names, root, _, stmt, imports in uses:
        if not (root or any((path, n) in live for n in names)):
            continue
        for loaded, attr, bound in _loads(stmt, imports):
            if attr is None:
                targets = resolve(path, (loaded, set()))
            else:
                targets = resolve(path, (set(), {attr})) | methods.get(attr, set())
            for tp, tq in targets:
                key = (tp, tq) if (tp, tq) in funcs else (tp, f"{tq}.__init__")
                if key not in funcs:
                    continue
                fn, is_method = funcs[key]
                if bound is None:
                    bound_by.setdefault(key, set()).add(None)
                    continue
                n_pos, keywords = bound
                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                skip = int(is_method and pos[:1] in (["self"], ["cls"]))
                bound_by.setdefault(key, set()).update(pos[skip:skip + n_pos], keywords)

    defaulted = {
        (key, p): f"{key[1]}.{p}" for key, (fn, _) in funcs.items() for p in _defaulted(fn)
    }
    settable = 0
    param_stale = set(PARAM_ALLOWLIST) - set(defaulted.values())
    for (key, p), label in sorted(defaulted.items()):
        if (key[0], key[1].split(".")[0]) not in live:
            continue
        settable += 1
        if None in bound_by.get(key, ()) or p in bound_by.get(key, ()):
            if label in PARAM_ALLOWLIST:
                param_stale.add(label)
        elif label not in PARAM_ALLOWLIST:
            problems.append(f"{key[0]}: {key[1]}({p}=) is bound by no program call")
    problems += [
        f"PARAM_ALLOWLIST entry {e!r} is bound by the program"
        " or is not a defaulted parameter of a package function; remove it"
        for e in sorted(param_stale)
    ]
    print(
        "\n".join(problems)
        if problems
        else "every package name is reached and every defaulted parameter"
        f" is bound by a program call ({settable} defaulted parameters"
        " over the reached functions)"
    )
    return 1 if problems else 0

if __name__ == "__main__":
    sys.exit(main())
