"""Distribution-drift checks: fixed-bin histograms + two-sample KS / PSI.

north_star: "distribution drift via two-sample KS and PSI on histograms
of w/h/caption-length against a baseline snapshot". The heavy part —
binning + counting — is a distributed groupBy over ≤ ``bins`` keys
(map-side combined, trivially small shuffle); KS = max |ECDF diff| and
PSI = Σ (p−q)·ln(p/q) run on the collected histograms in numpy
(SURVEY.md §2.8). Baselines are plain DataFrames/parquet so a clean
run's snapshot replays as the next run's reference.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, functions as F


def histogram(
    df: DataFrame,
    col,
    *,
    bins: int = 32,
    lo: float | None = None,
    hi: float | None = None,
    name: str | None = None,
    auto_range: bool = False,
) -> DataFrame:
    """(column, bin, count) fixed-width histogram — ONE scan when lo/hi
    are given (the engine's own callers always pass them).

    Omitting lo/hi requires ``auto_range=True``, which runs an extra
    min/max pass first: at 100 TB that doubles the scan cost, so the
    extra job is opt-in rather than silent."""
    c = F.col(col) if isinstance(col, str) else col
    label = name or (col if isinstance(col, str) else "expr")
    if lo is None or hi is None:
        if not auto_range:
            raise ValueError(
                "histogram: lo/hi not given — pass explicit bounds (one scan) "
                "or auto_range=True to accept a min/max pre-pass (two scans)"
            )
        row = df.agg(F.min(c).cast("double").alias("lo"), F.max(c).cast("double").alias("hi")).collect()[0]
        lo = row["lo"] if lo is None else lo
        hi = row["hi"] if hi is None else hi
        # all-null column: only the UNSUPPLIED bound(s) fall back — a
        # caller-given bound must never be silently rebound
        if lo is None and hi is None:
            lo, hi = 0.0, 1.0
        elif lo is None:
            lo = min(0.0, float(hi))
        elif hi is None:
            hi = max(1.0, float(lo) + 1.0)
    b = bin_expr(c, bins=bins, lo=float(lo), hi=float(hi))
    return (
        df.where(c.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.lit(label).alias("column"), "bin", "count")
    )


def bin_expr(c: F.Column, *, bins: int, lo: float, hi: float) -> F.Column:
    """THE fixed-width bin expression — shared by :func:`histogram`,
    the one-scan multi-column histogram (images/suite.py), and the
    streaming windowed histogram, so every surface bins identically
    (baseline snapshots compare like with like)."""
    width = (float(hi) - float(lo)) / bins or 1.0
    return F.least(
        F.greatest(F.floor((c.cast("double") - F.lit(float(lo))) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")


def _to_probs(hist: dict[int, int], bins: int, eps: float = 1e-9) -> np.ndarray:
    arr = np.array([hist.get(i, 0) for i in range(bins)], dtype=np.float64)
    total = arr.sum()
    if total == 0:
        return np.full(bins, 1.0 / bins)
    return np.clip(arr / total, eps, None)


def ks_statistic(cur: dict[int, int], base: dict[int, int], bins: int) -> float:
    p = _to_probs(cur, bins)
    q = _to_probs(base, bins)
    return float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))


def psi(cur: dict[int, int], base: dict[int, int], bins: int) -> float:
    p = _to_probs(cur, bins)
    q = _to_probs(base, bins)
    return float(np.sum((p - q) * np.log(p / q)))


def _hist_dict(hdf: DataFrame) -> dict[str, dict[int, int]]:
    out: dict[str, dict[int, int]] = {}
    for r in hdf.collect():
        out.setdefault(r["column"], {})[r["bin"]] = r["count"]
    return out


def drift_report(
    current: DataFrame,
    baseline: DataFrame,
    *,
    bins: int = 32,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.25,
) -> list[dict]:
    """Compare two (column, bin, count) histogram tables; one dict per
    column with ks/psi + pass verdicts."""
    cur = _hist_dict(current)
    base = _hist_dict(baseline)
    report = []
    for col in sorted(set(cur) | set(base)):
        ks = ks_statistic(cur.get(col, {}), base.get(col, {}), bins)
        p = psi(cur.get(col, {}), base.get(col, {}), bins)
        report.append(
            {
                "column": col,
                "ks": ks,
                "psi": p,
                "ks_pass": ks <= ks_threshold,
                "psi_pass": p <= psi_threshold,
            }
        )
    return report


def drift_violations(spark, report: list[dict]) -> DataFrame:
    """Table-level violation rows (code 'drift') for failed columns."""
    rows = [
        (
            None,
            [r["column"]],
            "drift",
            f"distribution drift on {r['column']}: KS={r['ks']:.4f} PSI={r['psi']:.4f}",
            {"ks": f"{r['ks']:.6f}", "psi": f"{r['psi']:.6f}"},
        )
        for r in report
        if not (r["ks_pass"] and r["psi_pass"])
    ]
    from ..errors import VIOLATION_DDL
    from ..session import local_frame

    return local_frame(spark, rows, VIOLATION_DDL)
