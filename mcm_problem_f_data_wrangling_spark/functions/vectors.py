"""Vector math over ``array<float>`` embedding columns (engine
extension: similarity search / embedding near-dup, BASELINE.json).

Built on higher-order functions (``aggregate``/``zip_with``) — JVM-side
expression evaluation, no Python boundary, so a brute-force scan stays
a single codegen stage.  Accumulate in double regardless of the input
element type (float32 storage, float64 math — the usual contract).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length numeric arrays (double)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _col_sql(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for
    embedding in an ``F.expr`` string."""
    return ".".join(f"`{p}`" for p in name.split("."))


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """:func:`dot` for arrays expected to have length ``dim`` — unrolled
    into plain arithmetic so it runs inside WHOLE-STAGE CODEGEN.

    ``aggregate``/``zip_with`` higher-order functions are interpreted
    (no codegen): per evaluation they allocate the zipped array and
    dispatch the lambda per element, which made the kNN pair
    projection's dot product the dominant per-pair cost (r12/r13 plan
    audits; microbench on 1M×64-dim rows: 0.645 s HOF → 0.262 s
    unrolled).  The unrolled form ``((0.0 + a1·b1) + a2·b2) + …`` is
    the IDENTICAL left-to-right IEEE-double op sequence as the HOF
    fold — bit-identical results, pinned in tests — but compiles to
    straight JVM bytecode.

    Rows whose arrays are NOT of length ``dim`` (or are NULL) take the
    ``ELSE`` branch: the same fold as the plain HOF :func:`dot`
    (NULL array → NULL; length mismatch → the zip_with null-padding
    NULL).  The guard also keeps ANSI ``element_at`` from ever seeing
    an out-of-range index.  ``dim`` is therefore a pure performance
    hint — any value is CORRECT, the right one is fast.

    The whole expression ships as ONE ``F.expr`` string (the
    :func:`lit_doubles` lesson applied to expression TREES: building
    the 64-term sum out of pyspark ``Column`` operators cost ~0.9 s of
    py4j round trips per plan build — r13 cProfile).  Columns are
    therefore passed by NAME (alias-qualified names like ``a.__unit``
    are fine), not as ``Column`` objects.
    """
    ca, cb = _col_sql(a), _col_sql(b)
    terms = " + ".join(
        f"CAST(element_at({ca}, {i}) AS DOUBLE) * "
        f"CAST(element_at({cb}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    fallback = (
        f"aggregate(zip_with({ca}, {cb}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.expr(
        f"CASE WHEN size({ca}) = {dim} AND size({cb}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {fallback} END"
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm (double)."""
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _double_sql(v: float) -> str:
    # repr() is the shortest string that round-trips the IEEE double in
    # Python; JVM parsing is correctly rounded, so the reconstructed
    # double is bit-identical (incl. nan/inf/-0.0, verified in tests)
    return f"CAST('{v!r}' AS DOUBLE)"


def lit_doubles(vals: "list[float]") -> Column:
    """``array<double>`` literal shipped to the JVM in ONE py4j call.

    pyspark's ``F.lit(list)`` issues one py4j ROUND TRIP per element
    (builtin.py builds the array as a lit() listcomp), so a PQ
    codebook / IVF centroid / query-vector literal of a few thousand
    doubles costs SECONDS of driver wall before the query even plans —
    r12 cProfile of the IVF-PQ build: 9 151 lit() calls, ~26 s in py4j
    ``send_command`` out of a 29.8 s plan build.  Parsing one
    ``array(CAST('…' AS DOUBLE), …)`` expression string instead is one
    round trip, and ConstantFolding collapses the foldable casts into
    a single array literal at optimization time — same plan, same
    bits, measured 7.7 s → 0.014 s for a 4 096-double literal.
    """
    vs = [float(v) for v in vals]
    if not vs:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr("array(" + ",".join(_double_sql(v) for v in vs) + ")")


def lit_strings(vals: "list[str]") -> Column:
    """``array<string>`` literal shipped to the JVM in ONE py4j call
    (the :func:`lit_doubles` fix for string sets).

    ``F.lit(list_of_strings)`` pays one py4j round trip per element
    (r12 cProfile: 6 563 calls, 5-13 s of driver wall for the 6 554-
    segment boilerplate set).  One ``array('…', …)`` expression string
    is one round trip; the elements are already literals, so the
    parsed tree IS the array literal.  Escaping is exact: backslash
    and quote are the only characters special inside a single-quoted
    Spark SQL literal under the default C-style escape parsing, so
    every UTF-8 string round-trips byte-identically — pinned against
    ``F.lit`` in tests including quotes, backslashes, newlines, tabs
    and non-ASCII.  A session with
    ``spark.sql.parser.escapedStringLiterals=true`` would read the
    escapes literally, so it is refused.  ``None`` elements become
    ``CAST(NULL AS STRING)``, as in ``F.lit``.
    """
    vs = list(vals)
    if not vs:
        return F.expr("CAST(array() AS array<string>)")
    spark = SparkSession.getActiveSession()
    if spark is not None and (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower()
        == "true"
    ):
        raise ValueError(
            "lit_strings escapes for spark.sql.parser.escapedStringLiterals="
            "false; the active session sets it to true"
        )

    def esc(v) -> str:
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    return F.expr("array(" + ",".join(esc(v) for v in vs) + ")")


def lit_double_matrix(rows: "list[list[float]]") -> Column:
    """``array<array<double>>`` literal in ONE py4j call (see
    :func:`lit_doubles`)."""
    rs = [[float(v) for v in r] for r in rows]
    if not rs:
        return F.expr("CAST(array() AS array<array<double>>)")
    inner = ",".join(
        "array(" + ",".join(_double_sql(v) for v in r) + ")" for r in rs
    )
    return F.expr(f"array({inner})")


def bind1(value: Column, body) -> Column:
    """Let-binding: evaluate ``value`` ONCE per row and pass the bound
    lambda variable to ``body``.

    A free subtree captured inside a higher-order-function lambda is
    re-evaluated on EVERY element invocation (r12: an inline tokenizer
    captured in a per-index ``transform`` cost x_bigram_lm 9×; a
    captured ``l2_norm`` cost assign_cells one norm per centroid per
    row).  Wrapping the value in a one-element array and reading it
    back via ``transform`` binds it to a lambda VARIABLE — an O(1)
    read per reference.  Worth it only when ``body`` references the
    value per element; for once-per-row references the extra array
    wrapper is pure overhead (measured neutral on the shingle
    functions).
    """
    return F.element_at(F.transform(F.array(value), body), 1)
