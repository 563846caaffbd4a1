"""Streaming distribution drift: per-window histograms over an
unbounded stream, scored against a baseline snapshot with the SAME
KS/PSI math as the batch path (operators.drift).

Shape (all state watermark-bounded):

* ``windowed_histogram`` — the heavy part is a streaming groupBy over
  (event window × ≤ bins keys): map-side combined, trivially small
  state per window, dropped when the watermark passes. Bounds must be
  given explicitly (same one-scan rule as the batch ``histogram``).
* ``drift_scores`` — a ``foreachBatch`` stage: each micro-batch's
  completed windows (append mode emits a window exactly once, when the
  watermark closes it) are scored against the broadcast-sized baseline
  histogram with ``operators.drift.ks_statistic``/``psi`` and written
  to the sink as (window_start, window_end, column, ks, psi) rows in
  a per-epoch partition (replay-idempotent).
  Baseline = any (column, bin, count) table, e.g. a clean batch run's
  ``drift.histogram`` output replayed from parquet — stream and batch
  agree on binning by construction (same bin expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.drift import _hist_dict, ks_statistic, psi
from ..session import local_frame


def windowed_histogram(
    stream: DataFrame,
    col: str,
    *,
    event_time_col: str,
    window: str = "5 minutes",
    delay: str = "10 minutes",
    bins: int = 32,
    lo: float,
    hi: float,
) -> DataFrame:
    """(window, column, bin, count) per event-time window; state is one
    count per (window, bin) and is dropped once the watermark passes
    the window end. lo/hi are required: a streaming job cannot pre-scan
    for bounds at all, so the batch path's explicit-bounds rule is a
    hard requirement here, not advice."""
    from ..operators.drift import bin_expr

    c = F.col(col)
    b = bin_expr(c, bins=bins, lo=float(lo), hi=float(hi))
    return (
        stream.withWatermark(event_time_col, delay)
        .where(c.isNotNull())
        .groupBy(F.window(event_time_col, window).alias("win"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select("win", F.lit(col).alias("column"), "bin", "count")
    )


def drift_scores(
    hist_stream: DataFrame,
    baseline: DataFrame,
    *,
    bins: int,
    sink_path: str,
    checkpoint_dir: str,
    query_name: str = "drift_scores",
):
    """Score each closed window's histogram against the baseline and
    write (window_start, window_end, column, ks, psi) parquet rows,
    one epoch_id partition per micro-batch (idempotent under replay).
    Returns the StreamingQuery (caller manages its lifecycle).

    The baseline collects to the driver ONCE (≤ bins rows per column —
    broadcast-sized by construction); scoring inside foreachBatch is
    numpy on ≤ bins numbers per (window, column) — the distributed work
    is only the windowed count aggregation upstream."""
    base = _hist_dict(baseline)
    spark = hist_stream.sparkSession

    def _score(batch_df: DataFrame, epoch_id: int) -> None:
        rows = []
        grouped: dict[tuple, dict[int, int]] = {}
        for r in batch_df.collect():
            key = (r["win"]["start"], r["win"]["end"], r["column"])
            grouped.setdefault(key, {})[r["bin"]] = r["count"]
        for (ws, we, col), hist in grouped.items():
            rows.append(
                (
                    ws,
                    we,
                    col,
                    ks_statistic(hist, base.get(col, {}), bins),
                    psi(hist, base.get(col, {}), bins),
                )
            )
        if rows:
            # idempotent: a replayed micro-batch (foreachBatch is
            # at-least-once) overwrites its own epoch partition
            local_frame(
                spark,
                rows,
                "window_start timestamp, window_end timestamp, column string, ks double, psi double",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{sink_path}/epoch_id={epoch_id}"
            )

    return (
        hist_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_score)
        .start()
    )
