"""Flagship full-suite validation of the image+caption table.

Composes every layer of the engine over the north-star table
(BASELINE.json): schema/constraint binding (row pass, pure Column
predicates), the decode/PSNR/caption Arrow kernel, uniqueness on
image_id and phash (one plain hash aggregate each), the referential broadcast
anti-join vs ``fmt_dim``, and KS/PSI drift vs a baseline histogram
snapshot. This is the job the benchmark times and the scaling-
efficiency evidence runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..binding import TableValidationResult, bind
from ..operators.drift import drift_report, drift_violations
from ..operators.referential import referential_violations
from ..operators.uniqueness import uniqueness_violations
from ..schema import Schema


def image_schema(include_bytes: bool = True) -> Schema:
    """The sinter schema of the image table (SURVEY.md §7.1 step 2).

    ``include_bytes=False`` drops the payload column from the row pass
    so its scan stays narrow — the decode kernel re-checks null payloads
    anyway (one bytes read total across the whole suite)."""
    fields = [
            ("image_id", "uuid"),
            ("bytes", "any"),
            ("w", "integer", {"gt": 0, "lteq": 16384}),
            ("h", "integer", {"gt": 0, "lteq": 16384}),
            ("fmt", "string", {"choices": ["raw", "png", "qjpg", "jpeg", "pjpeg", "gif"]}),
            ("caption", "string", {"min_length": 1, "max_length": 512}),
            ("phash", "integer"),
    ]
    if not include_bytes:
        fields = [f for f in fields if f[0] != "bytes"]
    return Schema.define(fields, title="images")


@dataclass
class ImageSuiteResult:
    row_result: TableValidationResult
    violations: DataFrame  # union of every check's violation rows
    drift: list[dict]

    @property
    def verdicts(self) -> DataFrame:
        return self.row_result.verdicts


#: (column-or-expr name → (lo, hi)) histogram ranges; bin edges must be
#: pinned identically between baseline and current run for KS/PSI to
#: compare like with like.
DEFAULT_HIST_RANGES = {"w": (0, 4096), "h": (0, 4096), "caption_len": (0, 512)}


def validate_images_full(
    df: DataFrame,
    fmt_dim_df: DataFrame,
    *,
    baseline_hists: DataFrame | None = None,
    decode: bool = True,
    check_caption: bool = True,
    hist_bins: int = 32,
    hist_ranges: dict | None = None,
) -> ImageSuiteResult:
    spark = df.sparkSession
    # row pass excludes bytes when the decode kernel runs (it re-checks
    # null payloads) — keeps this scan narrow; bytes is read exactly once
    res = bind(image_schema(include_bytes=not decode), df, row_key="image_id")
    parts = [res.violations]

    if decode:
        from .kernel import decode_violations

        parts.append(decode_violations(df, check_caption=check_caption))

    # uniqueness on image_id (high-cardinality: plain two-phase hash agg)
    parts.append(uniqueness_violations(df, "image_id"))
    # phash duplicates only matter when pixels duplicate; same operator
    parts.append(uniqueness_violations(df, "phash"))
    # referential: fmt must exist in the dimension (broadcast anti-join)
    parts.append(referential_violations(df, fmt_dim_df, "fmt", row_key="image_id"))

    drift = []
    if baseline_hists is not None:
        cur = _image_histograms(df, hist_bins, hist_ranges or DEFAULT_HIST_RANGES)
        drift = drift_report(cur, baseline_hists, bins=hist_bins)
        parts.append(drift_violations(spark, drift))

    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)
    return ImageSuiteResult(res, violations, drift)


def _image_histograms(df: DataFrame, hist_bins: int, ranges: dict) -> DataFrame:
    """All three drift histograms in ONE scan: the per-column binned
    values explode into (column, bin) pairs and one grouped count
    covers every column — a union of three ``histogram`` calls would
    scan the table three times (six with the baseline snapshot), in a
    suite whose design rule is scan-count frugality. Bin values are
    identical to ``histogram`` (shared :func:`~...drift.bin_expr`)."""
    from ..operators.drift import bin_expr

    exprs = []
    for name, col in (("w", F.col("w")), ("h", F.col("h")), ("caption_len", F.length("caption"))):
        lo, hi = ranges[name]
        exprs.append(
            F.when(
                col.isNotNull(),
                F.struct(
                    F.lit(name).alias("column"),
                    bin_expr(col, bins=hist_bins, lo=lo, hi=hi).alias("bin"),
                ),
            )
        )
    pair = F.explode(F.filter(F.array(*exprs), lambda s: s.isNotNull())).alias("cb")
    return (
        df.select(pair)
        .groupBy(F.col("cb.column").alias("column"), F.col("cb.bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def baseline_histograms(df: DataFrame, *, hist_bins: int = 32, hist_ranges: dict | None = None) -> DataFrame:
    """Snapshot a clean table's histograms as the drift baseline."""
    return _image_histograms(df, hist_bins, hist_ranges or DEFAULT_HIST_RANGES)
