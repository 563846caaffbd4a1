"""PII / URL scrubbing for training-data pipelines.

Every public-web corpus pass (C4, RefinedWeb, Dolma) masks emails,
URLs and IP addresses before training. ``scrub_text`` does that as
pure ``regexp_replace`` Column expressions — JVM-side, whole-stage
codegen, zero Python, zero shuffles — plus per-pattern occurrence
counts for the removal audit (no silent scrubbing).

Engine parity: the patterns are kept to the regex subset Java
(Spark) and RE2 (DuckDB) evaluate identically — ASCII classes,
bounded counted repeats, ``\\b``, no backreferences, no lookaround —
so the DuckDB oracle replays the exact transformation
(``scrub_oracle_sql``). Counts are raw per-pattern occurrences in
the ORIGINAL text (an IP inside a URL counts under both); redaction
is sequential in ``_ORDER`` (URLs first, so an email-shaped query
string is already gone when the email pass runs).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F

#: name -> (pattern, replacement); dialect-shared subset ONLY (module doc)
PATTERNS: dict[str, tuple[str, str]] = {
    "url": (r"https?://[^\s]+", "<URL>"),
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}
#: application order — structural containers first
_ORDER = ("url", "email", "ipv4")


def scrub_column(
    col: Column | str, patterns: Mapping[str, tuple[str, str]] | None = None
) -> Column:
    """Sequentially-redacted text Column (NULL stays NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    pats = PATTERNS if patterns is None else patterns
    order = [k for k in _ORDER if k in pats] + [k for k in pats if k not in _ORDER]
    for name in order:
        pattern, repl = pats[name]
        c = F.regexp_replace(c, pattern, repl)
    return c


def scrub_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: Mapping[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """(id, scrubbed, n_<pattern>...) in ONE zero-shuffle projection.

    Counts are occurrences of each pattern in the original text (the
    audit a pipeline reports); ``scrubbed`` applies the replacements
    sequentially. NULL text: scrubbed NULL, all counts 0.
    """
    pats = PATTERNS if patterns is None else patterns
    c = F.col(text_col)
    counts = [n.alias(f"n_{name}") for name, n in pattern_counts(c, pats).items()]
    return df.select(
        F.col(id_col), scrub_column(c, pats).alias("scrubbed"), *counts
    )


def pattern_counts(
    col: Column | str, patterns: Mapping[str, tuple[str, str]] | None = None
) -> dict[str, Column]:
    """name -> occurrences of that pattern in the text (0 for NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    pats = PATTERNS if patterns is None else patterns
    return {
        name: F.when(c.isNotNull(), F.size(F.regexp_extract_all(c, F.lit(p), 0)))
        .otherwise(F.lit(0))
        for name, (p, _) in pats.items()
    }


def scrub_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of the driver query ``scrub_docs``: deterministic
    PII injection (the synthetic corpus carries none) followed by the
    same sequential redaction and the same raw counts."""
    inject = (
        "text || CASE CAST(doc_id % 4 AS INTEGER) "
        "WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' "
        "WHEN 1 THEN ' see https://data.example.org/d/' || CAST(doc_id AS VARCHAR) "
        "WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' "
        "ELSE '' END"
    )
    # DuckDB string literals take the regex verbatim (no backslash
    # processing) — only quotes need escaping
    replaced = "t"
    for name in _ORDER:
        p, r = PATTERNS[name]
        replaced = f"regexp_replace({replaced}, '{p.replace(chr(39), chr(39) * 2)}', '{r}', 'g')"
    # NULL text: Spark's scrub_text emits scrubbed=NULL with counts 0
    # (concat propagates NULL on both engines, but DuckDB's
    # len(regexp_extract_all(NULL)) is NULL, not 0 — coalesce it)
    counts = ", ".join(
        "coalesce(len(regexp_extract_all(t, '{}')), 0) AS n_{}".format(
            p.replace("'", "''"), name
        )
        for name, (p, _) in PATTERNS.items()
    )
    return f"""
WITH injected AS (SELECT doc_id, {inject} AS t FROM {table})
SELECT doc_id, {replaced} AS scrubbed, {counts}
FROM injected
"""


def inject_pii_column(text_col: str = "text", id_col: str = "doc_id") -> Column:
    """Spark twin of the oracle's deterministic PII injection (test
    corpus carries no real PII; the driver query plants it so the
    redaction path is non-trivially exercised)."""
    did = F.col(id_col)
    return F.concat(
        F.col(text_col),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit(" see https://data.example.org/d/"), did.cast("string")
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")
            ),
        )
        .otherwise(F.lit("")),
    )
