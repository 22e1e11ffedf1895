"""Text-analysis Column helpers (engine extension, BASELINE.json north
star: LLM-training-data pipeline ops over the ``documents`` table).

Everything here is built from JVM-side ``pyspark.sql.functions`` — no
Python UDFs — so tokenization, shingling, hashing, and quality scoring
all run inside whole-stage codegen and scale with the scan.

Portability: hashes that must be reproducible in the DuckDB oracle use
md5 (bit-identical across engines) with the first 15 hex chars parsed
as a 60-bit integer — see :func:`portable_hash64`.  Spark's native
``xxhash64`` is faster but engine-specific; use it when an oracle
isn't required.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish word/number/symbol splitter: letters run | digits run | single symbol.
BPEISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny language-marker stopword sets for heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "por", "para", "con"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens with empties removed (array<string>)."""
    return F.filter(F.split(_c(col), r"\s+"), lambda t: t != F.lit(""))


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpeish(col: Column | str) -> Column:
    """BPE-ish token count: letter runs + digit runs + single symbols."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPEISH_TOKEN_RE), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alnum/whitespace."""
    c = _c(col)
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are (lowercased) English
    stopwords (``LANG_MARKERS["en"]``)."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(LANG_MARKERS["en"])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct +
    plausible stopword density.  Deterministic, JVM-only."""
    c = _c(col)
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.lit(0.3)
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    sw_ok = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    return (len_ok + punct_ok + sw_ok) / F.lit(3.0)


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-stopword hit counts.

    Ties / zero hits resolve to 'und'.  Pure array/CASE expressions so
    the same logic is expressible in the SQL oracle.
    """
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # deterministic priority order on ties: en > de > fr > es
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingles (array<string>) for MinHash/Jaccard dedup.

    ``zip_with`` over k shifted slices — O(tokens) per row (the
    per-index ``slice`` in a ``transform`` alternative is O(tokens·k)
    with an allocation per shingle).  Short texts (< k tokens) fall
    back to one whole-text shingle so every doc has a signature.
    """
    toks = tokens(col)
    n = F.size(toks)
    m = F.greatest(n - k + 1, F.lit(0))
    out = F.slice(toks, 1, m)
    for i in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, out).otherwise(F.array(F.concat_ws(" ", toks)))


def strict_word_shingles(col: Column | str, k: int = 8) -> Column:
    """k-word shingles with NO short-text fallback (array<string>).

    Documents shorter than k tokens yield an empty array — required by
    decontamination (operators/decontam.py), where a whole-short-text
    pseudo-shingle would flag spurious overlaps.  Same O(tokens)
    zip_with construction as ``word_shingles``.
    """
    toks = tokens(col)
    n = F.size(toks)
    m = F.greatest(n - k + 1, F.lit(0))
    out = F.slice(toks, 1, m)
    for i in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, out).otherwise(F.array().cast("array<string>"))


def portable_hash64(col: Column | str, seed: str = "") -> Column:
    """Deterministic 60-bit integer hash reproducible in DuckDB.

    md5 hex is bit-identical across engines; the first 15 hex chars
    (60 bits) fit a signed 64-bit int.  DuckDB equivalent:
    ``CAST('0x' || substr(md5(seed || x), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), _c(col))), 1, 15), 16, 10).cast(
        "long"
    )


# PII patterns: kept to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB) — character classes, \b, non-capturing groups only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(col: Column | str) -> Column:
    """Replace emails / phones / IPv4s with ``<TYPE>`` placeholders.

    Training-data hygiene pass (engine extension): order matters —
    emails first so their dotted domains aren't half-eaten by the
    IPv4 rule.  Pure ``regexp_replace`` chain, whole-stage codegen.
    """
    out = _c(col)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-type PII match counts (dict of int Columns, keyed by type)."""
    c = _c(col)
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def doc_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: 60-bit hash of whitespace-normalized text.

    Rolling-hash-equivalent content fingerprint for exact/near-exact
    dedup keys; whitespace-normalization makes trivially-reformatted
    copies collide.
    """
    normalized = F.concat_ws(" ", tokens(col))
    return portable_hash64(normalized)
