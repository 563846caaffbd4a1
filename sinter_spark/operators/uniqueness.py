"""Uniqueness / duplicate detection with explicit skew handling.

north_rule: "uniqueness on image_id/phash via sort-merge dedup with
salted repartitioning for skewed fmt values". The classic two-phase
partial/final aggregation (SURVEY.md §4): a salted pre-aggregation
spreads hot keys across ``salt_buckets`` reducers before the final
merge, so a single pathological key (85% ``raw``) cannot pin one
reducer at 100 TB. For high-cardinality keys (image_id) the plain
hash aggregate with AQE is already balanced — salting is opt-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def key_counts(df: DataFrame, keys: list[str] | str, *, salt_buckets: int | None = None) -> DataFrame:
    """count per key; two-phase salted when salt_buckets is set."""
    if isinstance(keys, str):
        keys = [keys]
    base = df.select(*keys).na.drop(how="any", subset=keys)
    if not salt_buckets:
        return base.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    # phase 1: aggregate (key, salt) partials — salt derived from the
    # row's monotonically_increasing_id, NOT the key (salting the key
    # itself would be a no-op for duplicates of the same key... the
    # point is spreading rows of ONE hot key over many reducers)
    salted = base.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(F.count(F.lit(1)).alias("pcnt"))
    return partial.groupBy(*keys).agg(F.sum("pcnt").alias("cnt"))


def duplicate_keys(df: DataFrame, keys: list[str] | str, *, salt_buckets: int | None = None) -> DataFrame:
    """Keys appearing more than once: (key…, cnt) with cnt > 1."""
    return key_counts(df, keys, salt_buckets=salt_buckets).where(F.col("cnt") > 1)


def uniqueness_violations(df: DataFrame, key: str, *, salt_buckets: int | None = None) -> DataFrame:
    """Violation rows (error.ex:224-237 shape) for duplicated keys:
    one row per duplicated VALUE (row_key = the value), code 'unique'."""
    dups = duplicate_keys(df, key, salt_buckets=salt_buckets)
    return dups.select(
        F.col(key).cast("string").alias("row_key"),
        F.array(F.lit(key)).alias("path"),
        F.lit("unique").alias("code"),
        F.concat(F.lit("duplicated "), F.lit(key), F.lit(" ("), F.col("cnt").cast("string"), F.lit(" occurrences)")).alias("message"),
        F.create_map(F.lit("count"), F.col("cnt").cast("string")).alias("context"),
    )


def distinct_ratio(df: DataFrame, key: str) -> DataFrame:
    """(n_rows, n_distinct_approx, unique_ratio) in one pass via HLL++."""
    return df.agg(
        F.count(key).alias("n_rows"),
        F.approx_count_distinct(key).alias("n_distinct_approx"),
    ).select(
        "n_rows",
        "n_distinct_approx",
        (F.col("n_distinct_approx") / F.col("n_rows")).alias("unique_ratio"),
    )
