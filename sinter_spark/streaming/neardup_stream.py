"""Streaming NEAR-duplicate detection: MinHash + banded LSH over an
unbounded stream, mirroring the batch path
(``operators.dedup.minhash_lsh_candidates`` → ``verify_jaccard_pairs``)
with watermark-bounded state.

Closes the one batch-only surface of the pipeline brief: exact
fingerprints stream-dedup at ingest (``dedup_stream``), but a
continuously-ingesting training pipeline also wants NEAR-dup pairs
(paraphrases, boilerplate edits) without waiting for the batch
backfill.

Design — idiomatic Structured Streaming, no hand-rolled state:

1. signatures: the SAME batch-vectorized Arrow kernel
   (``dedup._minhash_arrow_kernel``) runs on the stream (one narrow
   ``mapInArrow``; the event-time and text columns pass through the
   kernel so no stream-stream join is needed to re-attach them);
2. banding: the SAME JVM-side band expression (``dedup._band_explode``)
   explodes each doc into (band, bucket) keys;
3. candidates: a watermarked STREAM-STREAM SELF-JOIN on
   (band, bucket) with a two-sided event-time range bound — Spark's
   join-state manager keeps exactly the docs within the watermark
   horizon per bucket and evicts the rest; state is
   O(docs per horizon × bands), not O(stream age). This is the
   streaming twin of the batch bucket self-join, with the watermark
   playing the role the mega-bucket cap plays in batch (a bucket can
   only grow for ``delay`` long). Docs arriving farther apart than
   ``delay`` are NOT paired — the batch backfill owns that tail,
   exactly like exact-fingerprint ``dedup_stream`` layers with
   ``dedup_canonical``.
4. verification: candidates are exact-verified with the same row-local
   shingle-array Jaccard expressions as the batch
   ``verify_jaccard_pairs``, so ``threshold`` means the same thing on
   both paths. A pair surfacing in several band-buckets emits
   duplicate rows (batch dedups with ``.distinct()``; append-mode
   streams cannot globally) — chain
   ``.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["id_a", "id_b"])``
   downstream, or distinct at read time.

Stream ≡ batch: for docs within one watermark horizon, the candidate
pair set is IDENTICAL to the batch path's (same signatures, same
banding, same verification) — pinned by tests/test_neardup_stream.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..operators.dedup import (
    _band_explode,
    _minhash_arrow_kernel,
    _shingle_array,
)
from ..session import python_kernel


def minhash_signatures_stream(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time_col: str,
    keep_text: bool = True,
    k: int = 4,
    n_hashes: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Stream-safe MinHash signatures: (id, ts[, text], sig) — the
    batch Arrow kernel with the event-time (and optionally text)
    columns passing through it. Values are identical to the batch
    ``minhash_signatures_arrow`` (same hash family, same seed)."""
    if k > 8:
        raise ValueError("minhash_signatures_stream: k must be ≤ 8")
    rng = np.random.Generator(np.random.PCG64(seed))
    A = (rng.integers(1, 2**63, size=n_hashes, dtype=np.uint64) | np.uint64(1)).copy()
    B = rng.integers(0, 2**63, size=n_hashes, dtype=np.uint64).copy()

    cols = [id_col, event_time_col] + ([text_col] if keep_text else [])
    pruned = stream.select(*cols, F.col(text_col).alias("_mh_text"))
    text_idx = len(cols)
    ddl = ", ".join(
        f"{c} {pruned.schema[c].dataType.simpleString()}" for c in cols
    )
    kernel = _minhash_arrow_kernel(
        cols, text_idx=text_idx, k=k, n_hashes=n_hashes, A=A, B=B
    )
    return pruned.mapInArrow(python_kernel(kernel), f"{ddl}, sig array<bigint>")


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / union, 6)


def neardup_stream(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time_col: str,
    delay: str = "10 minutes",
    k: int = 4,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: bool = True,
    dedup_pairs: bool = False,
) -> DataFrame:
    """Streaming near-dup pairs (id_a < id_b[, jaccard], ts) — docs
    whose MinHash signatures agree on ≥1 band within the watermark
    horizon, exact-verified to ``jaccard ≥ threshold`` when ``verify``.

    ``ts`` is the later of the two docs' event times (the moment the
    pair became knowable). State is bounded by the watermark: Spark's
    stream-stream join keeps only rows younger than ``delay`` (plus
    the join range) per side. See the module docstring for the
    batch-parity and duplicate-emission contracts.

    ``dedup_pairs=True`` folds the documented multi-band duplicate
    suppression into the operator: the result is watermarked on ``ts``
    and chained through ``dropDuplicatesWithinWatermark([id_a, id_b])``
    (VERDICT_r03 #6) — each (id_a, id_b) pair emits ONCE per watermark
    horizon in append mode, at the cost of the extra dedup state Spark
    keeps for one horizon.
    """
    sigs = minhash_signatures_stream(
        stream,
        id_col=id_col,
        text_col=text_col,
        event_time_col=event_time_col,
        keep_text=verify,
        k=k,
        n_hashes=n_hashes,
    )
    keep = [id_col, event_time_col] + ([text_col] if verify else [])
    bucketed = sigs.select(*keep, _band_explode(n_hashes, bands)).select(
        *keep, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    wm = bucketed.withWatermark(event_time_col, delay)
    a, b = wm.alias("a"), wm.alias("b")
    ts_a, ts_b = F.col(f"a.{event_time_col}"), F.col(f"b.{event_time_col}")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # two-sided range bound: lets Spark evict join state on BOTH
        # sides once the watermark passes ts ± delay
        & (ts_b >= ts_a - F.expr(f"INTERVAL {delay}"))
        & (ts_b <= ts_a + F.expr(f"INTERVAL {delay}"))
    )
    joined = a.join(b, cond)
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.greatest(ts_a, ts_b).alias("ts"),
    ]
    if dedup_pairs:
        # greatest() strips the event-time metadata, and re-watermarking
        # downstream of a stateful operator is disallowed
        # (statefulOperator.allowMultiple) — so the ORIGINAL left-side
        # event-time column rides along for the dedup state and is
        # dropped after: a and b sit within ``delay`` of each other by
        # the join bound, so either side's time keys the pair's horizon
        out_cols.append(ts_a.alias("_evt"))
    if not verify:
        out = joined.select(*out_cols)
    else:
        jac = _jaccard(
            _shingle_array(f"a.{text_col}", k), _shingle_array(f"b.{text_col}", k)
        )
        out = joined.select(*out_cols, jac.alias("jaccard")).where(
            F.col("jaccard") >= threshold
        )
    if dedup_pairs:
        out = out.dropDuplicatesWithinWatermark(["id_a", "id_b"]).drop("_evt")
    return out
