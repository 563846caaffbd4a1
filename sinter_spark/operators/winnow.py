"""Substring-level fingerprint dedup via winnowing (Schleimer,
Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2003 — the MOSS algorithm).

Doc-level MinHash (``dedup.minhash_*``) answers "are these documents
similar overall?"; winnowing answers "do these documents SHARE A
FRAGMENT?" — the boilerplate/quotation/template overlap that matters
for training-data dedup (Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022, motivates removing repeated
substrings, not just near-identical documents). The table-level
generalization of sinter's per-value string checks: each document
contributes a sparse, position-robust set of substring fingerprints,
and documents meeting in a fingerprint provably share a run of text.

Guarantee (SIGMOD 2003 §2): with k-byte grams and a winnow window of
``w`` gram hashes, any shared substring of at least ``w + k − 1``
bytes yields at least one SHARED fingerprint — so recall for long
overlaps is structural, not probabilistic. Expected density of
selected fingerprints is 2/(w+1) per gram position.

Spark shape mirrors the MinHash scale path: one narrow
``mapInArrow`` kernel (batch-level vectorized — the batch's strings
are hashed as ONE concatenated byte buffer, winnow windows evaluated
with a single strided-view argmin, windows that would cross a doc
boundary masked out; no per-doc Python loop), then a JOIN-FREE pair
derivation: one ``groupBy(fp)`` collects each fingerprint's member
array and the (a < b) pairs explode bucket-locally in the Arrow
``dedup._pair_explode_kernel`` — only documents sharing a fingerprint
ever meet, and the fingerprint table is never shuffled twice. The
kernel sums each output batch's ``_w`` per pair before the JVM sees
it: on a 1,000-doc corpus it hands the JVM's ``sum(_w)`` 556,125 rows
where the uncombined explode had 1,326,377. A
fingerprint shared by more than ``max_bucket`` docs (ubiquitous
boilerplate) is dropped AND reported via ``dedup.dropped_mass``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import python_kernel
from .dedup import _attach_cache, _attach_drop_audit


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    window: int = 8,
) -> DataFrame:
    """(id, fp, pos): winnowed substring fingerprints per document.

    ``fp`` is the splitmix64 hash of a ``k``-byte gram (same packing
    as the MinHash kernel — bytes big-endian into uint64, so k ≤ 8);
    ``pos`` is the gram's byte offset in the document. In every window
    of ``window`` consecutive gram hashes the minimum is selected
    (rightmost on ties, the SIGMOD 2003 rule); consecutive windows
    selecting the same position emit one row. Rows are distinct on
    (id, pos) by construction; dedupe to (id, fp) before joining —
    :func:`substring_overlap_pairs` does.

    Docs with NULL text are omitted; docs shorter than ``w + k − 1``
    bytes emit no fingerprints (no full window fits — they are below
    the guarantee threshold by definition and exact dedup owns them).

    Plan shape: one narrow PythonMapInArrow over a 2-column scan —
    zero exchanges, partition-parallel at any scale.
    """
    if k > 8:
        raise ValueError("winnow_fingerprints: k must be ≤ 8 (bytes pack into uint64)")
    if window < 1:
        raise ValueError("winnow_fingerprints: window must be ≥ 1")
    pruned = df.select(F.col(id_col), F.col(text_col))
    id_type = pruned.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, fp bigint, pos int"

    from ..plans import widen_small_scan

    return widen_small_scan(pruned).mapInArrow(
        python_kernel(_winnow_arrow_kernel(id_col, k=k, window=window)), out_schema
    )


def _winnow_arrow_kernel(id_col: str, *, k: int, window: int):
    """Factory for the batch-vectorized winnowing Arrow kernel."""
    import numpy as np
    import pyarrow as pa

    def _kernel(batches):
        U64 = np.uint64
        SHIFTS = [U64(8 * (k - 1 - j)) for j in range(k)]
        M1, M2 = U64(0xBF58476D1CE4E5B9), U64(0x94D049BB133111EB)
        GOLD = U64(0x9E3779B97F4A7C15)

        def splitmix64(x):
            x = x + GOLD
            x = (x ^ (x >> U64(30))) * M1
            x = (x ^ (x >> U64(27))) * M2
            return x ^ (x >> U64(31))

        for batch in batches:
            ids = batch.column(0)
            txt = batch.column(1)
            keep = np.flatnonzero(txt.is_valid().to_numpy(zero_copy_only=False))
            if keep.size == 0:
                continue
            docs = txt.take(pa.array(keep, type=pa.int64()))
            off_dtype = np.int64 if pa.types.is_large_string(docs.type) else np.int32
            offs = np.frombuffer(docs.buffers()[1], dtype=off_dtype)[: len(docs) + 1].astype(np.int64)
            data_buf = docs.buffers()[2]
            vals = (
                np.frombuffer(data_buf, dtype=np.uint8)[: offs[-1]]
                if data_buf is not None and offs[-1]
                else np.empty(0, dtype=np.uint8)
            )
            total = int(offs[-1])
            span = window + k - 1  # bytes one winnow window covers
            sel_doc = np.empty(0, dtype=np.int64)
            sel_pos = np.empty(0, dtype=np.int64)
            sel_fp = np.empty(0, dtype=U64)
            if total >= span:
                with np.errstate(over="ignore"):
                    # gram hash at EVERY byte position of the whole
                    # batch buffer (positions whose gram crosses a doc
                    # boundary hold garbage that no valid window reads)
                    m = total - k + 1
                    p = np.arange(m, dtype=np.int64)
                    codes = vals[p].astype(U64) << SHIFTS[0]
                    for j in range(1, k):
                        codes |= vals[p + j].astype(U64) << SHIFTS[j]
                    h = splitmix64(codes)
                    # valid window starts: the full span stays inside
                    # the start position's own document
                    nq = m - window + 1
                    q = np.arange(nq, dtype=np.int64)
                    d = np.searchsorted(offs, q, side="right") - 1
                    ok = q + span <= offs[d + 1]
                    if ok.any():
                        # per-window min + rightmost-match arg in
                        # O(window) shifted passes over ONE nq-sized
                        # buffer (a sliding_window_view + fancy index
                        # would materialize an nq×window copy)
                        win_min = h[:nq].copy()
                        for j in range(1, window):
                            np.minimum(win_min, h[j : j + nq], out=win_min)
                        arg = np.zeros(nq, dtype=np.int64)
                        found = np.zeros(nq, dtype=bool)
                        # rightmost minimum (SIGMOD 2003 tie rule)
                        for j in range(window - 1, -1, -1):
                            mask = (~found) & (h[j : j + nq] == win_min)
                            arg[mask] = j
                            found |= mask
                        qv = q[ok]
                        gpos = np.unique(qv + arg[qv])  # overlapping windows re-select
                        sel_doc = np.searchsorted(offs, gpos, side="right") - 1
                        sel_pos = gpos - offs[sel_doc]
                        sel_fp = h[gpos]
            idx = pa.array(keep[sel_doc], type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(idx),
                    pa.array(sel_fp.view(np.int64)),
                    pa.array(sel_pos.astype(np.int32)),
                ],
                names=[id_col, "fp", "pos"],
            )

    return _kernel


def substring_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    window: int = 8,
    min_shared: int = 2,
    max_bucket: int | None = 1000,
    cache: bool = True,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing ≥ ``min_shared``
    distinct winnowed fingerprints, a < b — fragment-level overlap
    candidates with structural recall for shared runs ≥ w + k − 1
    bytes (each such run contributes ≥ 1 shared fingerprint).

    Self-join-free shape (via :func:`dedup.grouped_bucket_pairs`): one
    exchange, then a ``dense_rank`` window per fingerprint so the
    aggregate counts its distinct members exactly but collects at most
    ``max_bucket`` of them (no degenerate fingerprint concentrates its
    membership in one aggregation state), oversized fingerprints
    (ubiquitous boilerplate — a quadratic pair bomb) filtered out, and
    the (a < b) pairs exploded BUCKET-LOCALLY by the Arrow pair kernel
    — no self-join, so the fingerprint table is neither shuffled twice
    nor recomputed per join side. Dropped fingerprints are reported via
    ``dedup.dropped_mass`` ("no silent caps"); with ``cache`` the
    member table is persisted so the audit re-reads it (release with
    ``dedup.release_cache``).
    """
    from .dedup import grouped_bucket_pairs

    fp = winnow_fingerprints(df, id_col, text_col, k=k, window=window).select(
        id_col, "fp"
    )
    # weighted mode (round 6): fingerprints with the SAME doc set
    # collapse to one member array carrying a multiplicity — a
    # boilerplate fragment shared by one doc cluster contributes its
    # dozens of fingerprints as ONE bucket-local explode, and
    # ``sum(_w)`` reproduces the per-pair shared-fingerprint count
    # exactly (n_shared = Σ over member sets containing both docs ×
    # how many fps have that set).
    bucket_pairs, audit, handle = grouped_bucket_pairs(
        fp, ["fp"], id_col, max_bucket, cache, pair_mode="weighted"
    )
    pairs = (
        bucket_pairs.groupBy("id_a", "id_b")
        .agg(F.sum("_w").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    pairs = _attach_drop_audit(pairs, audit)
    return _attach_cache(pairs, handle) if handle is not None else pairs
