"""Referential-integrity check: broadcast semi/anti join vs a dimension.

north_star: "referential checks via broadcast semi-join against a
dimension table". The dimension (e.g. ``fmt_dim``, 6 rows) is tiny
relative to the fact table, so the anti-join MUST be a
BroadcastHashJoin — no shuffle of the 100 TB side. ``F.broadcast``
forces it regardless of stats staleness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def orphans(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Fact rows whose key has no match in dim (left_anti ≙ NOT EXISTS).

    NULL fact keys are NOT orphans: null-handling belongs to the
    'required' check, mirroring SQL ``key IS NOT NULL AND key NOT IN
    (SELECT ...)`` and the dim-side dropna."""
    keys = [on] if isinstance(on, str) else list(on)
    cond = F.col(keys[0]).isNotNull()
    for k in keys[1:]:
        cond = cond & F.col(k).isNotNull()
    return fact.where(cond).join(
        F.broadcast(dim.select(*keys).dropna().distinct()), keys, "left_anti"
    )


def referential_violations(
    fact: DataFrame, dim: DataFrame, on: str, *, row_key: str
) -> DataFrame:
    """Violation rows (error.ex:224-237 shape), code 'referential'."""
    bad = orphans(fact.select(row_key, on), dim, on)
    return bad.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.array(F.lit(on)).alias("path"),
        F.lit("referential").alias("code"),
        F.concat(
            F.lit("value '"), F.col(on).cast("string"),
            F.lit("' not present in dimension table"),
        ).alias("message"),
        F.create_map(F.lit("value"), F.col(on).cast("string")).alias("context"),
    )
