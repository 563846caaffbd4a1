"""Reference-corpus dedup with a distributed Bloom-filter prefilter.

``dedup_against(df, reference_df)`` keeps the rows of ``df`` whose
normalized-text fingerprint (``operators.text.fingerprint``: md5 of
whitespace-collapsed lowercase text) does NOT occur in
``reference_df`` — "drop everything we already have / everything in
the eval set", the cross-corpus exact-dedup primitive (the reference
library's scope ends at validation, `lib/sinter.ex:1`; this is part
of the engine's pipeline charter like `operators/packing.py`).

Exactness contract: the result is BYTE-IDENTICAL to the plain
``left_anti`` join on the fingerprint — the Bloom filter is only a
prefilter (no false negatives by construction; its false positives
are removed by an exact confirm join on the fingerprint). The pytest
gate pins ``use_bloom=True ≡ use_bloom=False`` including under an
adversarially tiny filter (fpr→1).

Why a Bloom prefilter at 100 TB
-------------------------------
The anti-join's shuffle moves BOTH corpora on the fingerprint key.
When ``df`` is the 100 TB crawl and ``reference_df`` is large (too
big to broadcast as a hash relation — say 10^9 fingerprints), the
bloom replaces "shuffle 100 TB" with:

1. Build: one vectorized Arrow pass over the REFERENCE fingerprints
   producing per-partition bitmaps, OR-combined by a shuffle keyed on
   fixed-size bitmap chunks (data moved: partitions × m/8 bytes of
   bitmap, independent of row count), then one driver assembly of
   m/8 bytes (~1.2 GB for 10^9 keys at 1% fpr).
2. Probe: a broadcast of the bitmap + a zero-shuffle Arrow pass over
   ``df`` — only the ~fpr·|df| false positives plus the true
   duplicates enter the confirm join's shuffle.

Spark's own runtime bloom pushdown
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) covers the
same idea for sub-broadcast creation sides; this operator is for the
regime above that threshold, and makes the filter an explicit,
testable artifact (it can be persisted and reused across runs).

The bit positions use double hashing (Kirsch–Mitzenmacher 2006):
``pos_i = (h1 + i*h2) mod m`` with ``h1 = xxhash64(norm_text)`` and
``h2 = xxhash64(norm_text, '\x01') | 1`` — both computed JVM-side so
the Python side only ever sees int64 columns (no per-row Python
anywhere; the probe is one vectorized numpy gather per batch).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..session import python_kernel
from .text import fingerprint, normalized_text

#: bitmap chunk size for the distributed OR-combine (bytes)
_CHUNK_BYTES = 1 << 22


def _norm(text_col: str) -> F.Column:
    # the ONE shared normalization (text.normalized_text) — the probe
    # hash and the confirm-join fingerprint must see identical bytes or
    # the no-false-negative contract breaks; only the NULL handling
    # differs (probe coalesces, fingerprint propagates NULL — the
    # confirm join restores SQL NULL semantics, see dedup_against)
    return normalized_text(F.coalesce(F.col(text_col), F.lit("")))


def _hash_cols(text_col: str):
    """(h1, h2) int64 columns for double hashing, JVM-side."""
    n = _norm(text_col)
    return (
        F.xxhash64(n).alias("_h1"),
        F.xxhash64(n, F.lit("\x01")).alias("_h2"),
    )


def bloom_params(expected_n: int, fpr: float) -> tuple[int, int]:
    """(m_bits, k) for ``expected_n`` keys at false-positive rate
    ``fpr`` — the standard optimum, m rounded up to a whole byte."""
    if expected_n < 1:
        expected_n = 1
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m = math.ceil(-expected_n * math.log(fpr) / (math.log(2) ** 2))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, round(m / expected_n * math.log(2)))
    return m, k


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len, k) uint64 bit positions via double hashing. Works on the
    uint64 REINTERPRETATION of the signed JVM hashes (mod of a
    negative int64 would diverge between engines)."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).view(np.uint64) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (u1[:, None] + i * u2[:, None]) % np.uint64(m)


@dataclass
class BloomFilter:
    """Immutable bitmap + params; probe is vectorized numpy.

    Persistable: ``save``/``load`` round-trip the filter so a build
    over a slow-moving reference corpus is paid once and reused by
    later runs (`dedup_against(bloom=BloomFilter.load(path))`).

    ``n_ref`` / ``digest`` record the reference the filter was built
    from (count + order-independent ``bit_xor`` of its DISTINCT
    ``_h1`` probe hashes — :func:`reference_provenance`; the filter's
    bits are a pure function of that distinct set). A persisted filter
    reused against a DIFFERENT reference produces genuine false
    negatives (true duplicates silently kept: the filter says
    "definitely absent" for keys it never saw), so loaders should
    verify provenance before trusting the exactness contract — the
    CLI's ``dedup-against --bloom-in`` does, and refuses on mismatch.
    Filters saved by older builds (``SBLM0001``) load with provenance
    ``None``: unverifiable, caveat emptor.
    """

    bits: np.ndarray  # uint8, length m//8
    k: int
    n_ref: int | None = None
    digest: int | None = None

    #: format tags guarding against reading a foreign/old file layout
    _MAGIC = b"SBLM0002"
    _MAGIC_V1 = b"SBLM0001"

    @property
    def m(self) -> int:
        return len(self.bits) * 8

    def save(self, path: str) -> None:
        """Write magic | k | has_prov (1 byte) | n_ref | digest
        (8-byte LE each) | bitmap. The explicit flag keeps a filter
        constructed WITHOUT provenance (``BloomFilter(bits, k)``)
        honest across a save/load round trip: it must come back as
        "unverifiable" (None), not as a claimed provenance of (0, 0)
        that any loader would then hard-refuse against a real
        reference."""
        import os

        has_prov = self.n_ref is not None and self.digest is not None
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(self._MAGIC)
            f.write(int(self.k).to_bytes(8, "little"))
            f.write(b"\x01" if has_prov else b"\x00")
            f.write(int(self.n_ref if has_prov else 0).to_bytes(8, "little"))
            f.write(
                int(self.digest if has_prov else 0).to_bytes(8, "little", signed=True)
            )
            f.write(self.bits.tobytes())
        os.replace(tmp, path)  # atomic publish

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        with open(path, "rb") as f:
            magic = f.read(len(cls._MAGIC))
            if magic == cls._MAGIC:
                k = int.from_bytes(f.read(8), "little")
                has_prov = f.read(1) == b"\x01"
                n_ref = int.from_bytes(f.read(8), "little")
                digest = int.from_bytes(f.read(8), "little", signed=True)
                if not has_prov:
                    n_ref, digest = None, None
                bits = np.frombuffer(f.read(), dtype=np.uint8)
            elif magic == cls._MAGIC_V1:
                k = int.from_bytes(f.read(8), "little")
                n_ref, digest = None, None
                bits = np.frombuffer(f.read(), dtype=np.uint8)
            else:
                raise ValueError(f"{path}: not a sinter bloom filter")
        if k < 1 or len(bits) == 0:
            raise ValueError(f"{path}: corrupt bloom filter (k={k}, m={len(bits) * 8})")
        return cls(bits=bits, k=k, n_ref=n_ref, digest=digest)

    def might_contain(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = _positions(h1, h2, self.k, self.m)
        byte = (pos >> np.uint64(3)).astype(np.int64)
        mask = np.left_shift(
            np.uint8(1), (pos & np.uint64(7)).astype(np.uint8), dtype=np.uint8
        )
        return ((self.bits[byte] & mask) == mask).all(axis=1)


def reference_provenance(
    reference_df: DataFrame, text_col: str = "text"
) -> tuple[int, int]:
    """(distinct-fingerprint count, order-independent digest)
    identifying a reference corpus for Bloom-filter reuse: ``bit_xor``
    of the DISTINCT ``_h1`` probe hashes (the same JVM-side hash the
    filter bits are set from, NULL text coalesced to "" exactly as the
    probe does). The filter's bits are a pure function of the distinct
    fingerprint set — not of row multiplicities — so the identity is
    over that set too; two references with the same distinct texts but
    different duplication produce identical filters and identical
    provenance, both correctly. Digesting over DISTINCT values also
    means xor's self-cancellation cannot fire (each value contributes
    once): without the distinct, any corpus whose texts all repeat an
    even number of times would digest to 0 and collide with every
    other such corpus. Partition- and order-independent."""
    h1, _ = _hash_cols(text_col)
    row = (
        reference_df.select(h1)
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(_h1)"), F.lit(0)).alias("x"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["x"])


def build_bloom(
    reference_df: DataFrame,
    text_col: str = "text",
    *,
    expected_n: int | None = None,
    fpr: float = 0.01,
) -> BloomFilter:
    """Distributed Bloom build over ``reference_df``'s fingerprints.

    Vectorized end to end: a ``mapInArrow`` pass sets bits into
    per-partition bitmaps emitted as fixed-size (chunk_id, bytes)
    rows; a second ``mapInArrow`` after ``repartition(chunk_id)``
    ORs each chunk's copies together (numpy, grouped within the
    partition); the driver assembles the m/8 final bytes. Shuffle
    volume is partitions × m/8 regardless of reference row count —
    the rows themselves never move.

    ``expected_n`` defaults to the reference row count; either way ONE
    aggregate over the hash projection computes the count together
    with the provenance digest the filter is stamped with
    (:func:`reference_provenance` — what lets a persisted filter be
    verified against the reference it is later used for). Passing
    ``expected_n`` only overrides the SIZING, it no longer skips the
    aggregate.
    """
    hashed = reference_df.select(*_hash_cols(text_col))
    n_ref, digest = reference_provenance(reference_df, text_col)
    if expected_n is None:
        expected_n = n_ref
    m, k = bloom_params(expected_n, fpr)
    n_bytes = m // 8
    n_chunks = (n_bytes + _CHUNK_BYTES - 1) // _CHUNK_BYTES
    chunk_schema = pa.schema(
        [pa.field("chunk_id", pa.int32()), pa.field("bits", pa.binary())]
    )

    def _partition_bitmap(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for b in batches:
            if b.num_rows == 0:
                continue
            seen = True
            h1 = b.column("_h1").to_numpy(zero_copy_only=False)
            h2 = b.column("_h2").to_numpy(zero_copy_only=False)
            pos = _positions(h1, h2, k, m).ravel()
            byte = (pos >> np.uint64(3)).astype(np.int64)
            mask = np.left_shift(
                np.uint8(1), (pos & np.uint64(7)).astype(np.uint8), dtype=np.uint8
            )
            np.bitwise_or.at(bits, byte, mask)
        if not seen:
            return
        for c in range(n_chunks):
            lo, hi = c * _CHUNK_BYTES, min((c + 1) * _CHUNK_BYTES, n_bytes)
            chunk = bits[lo:hi]
            if chunk.any():  # all-zero chunks carry no information
                yield pa.RecordBatch.from_pydict(
                    {"chunk_id": [c], "bits": [chunk.tobytes()]},
                    schema=chunk_schema,
                )

    def _or_chunks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[int, np.ndarray] = {}
        for b in batches:
            ids = b.column("chunk_id").to_pylist()
            blobs = b.column("bits").to_pylist()
            for cid, blob in zip(ids, blobs):
                arr = np.frombuffer(blob, dtype=np.uint8)
                if cid in acc:
                    acc[cid] |= arr
                else:
                    acc[cid] = arr.copy()
        for cid in sorted(acc):
            yield pa.RecordBatch.from_pydict(
                {"chunk_id": [cid], "bits": [acc[cid].tobytes()]},
                schema=chunk_schema,
            )

    chunks = hashed.mapInArrow(python_kernel(_partition_bitmap), "chunk_id int, bits binary")
    combined = chunks.repartition(max(1, n_chunks), "chunk_id").mapInArrow(
        python_kernel(_or_chunks), "chunk_id int, bits binary"
    )
    bits = np.zeros(n_bytes, dtype=np.uint8)
    for row in combined.collect():
        lo = row.chunk_id * _CHUNK_BYTES
        arr = np.frombuffer(row.bits, dtype=np.uint8)
        bits[lo : lo + len(arr)] |= arr
    return BloomFilter(bits=bits, k=k, n_ref=n_ref, digest=digest)


def dedup_against(
    df: DataFrame,
    reference_df: DataFrame,
    text_col: str = "text",
    *,
    use_bloom: bool = True,
    fpr: float = 0.01,
    expected_reference_count: int | None = None,
    bloom: BloomFilter | None = None,
) -> DataFrame:
    """Rows of ``df`` whose normalized text does not occur in
    ``reference_df`` (exact fingerprint anti-join semantics).

    With ``use_bloom`` (default), rows whose fingerprint the filter
    rules out bypass the join entirely (no false negatives), and only
    bloom-positive candidates enter the exact confirm anti-join — see
    the module docstring for the 100 TB rationale. Pass a prebuilt
    ``bloom`` (e.g. persisted from a previous run) to skip the build.

    NULL-text rows are always kept (``fingerprint(NULL)`` is NULL and
    never joins — SQL semantics); the empty string matches the empty
    string. The bloom probe coalesces NULL to "" and so over-flags
    such rows as candidates, but the exact confirm join restores the
    NULL semantics — pinned in ``test_null_and_empty_text``.

    The result is pinned equal to ``use_bloom=False`` in
    ``tests/test_bloom.py``.
    """
    spark = df.sparkSession
    ref_fps = reference_df.select(fingerprint(text_col).alias("_fp")).distinct()
    if not use_bloom:
        return df.join(
            ref_fps, fingerprint(text_col) == F.col("_fp"), "left_anti"
        )

    if bloom is None:
        bloom = build_bloom(
            reference_df,
            text_col,
            expected_n=expected_reference_count,
            fpr=fpr,
        )
    bc = spark.sparkContext.broadcast((bloom.bits, bloom.k))

    @F.pandas_udf("boolean")
    @python_kernel
    def _might_contain(h1, h2):
        import pandas as pd

        bits, k = bc.value
        flt = BloomFilter(bits=bits, k=k)
        return pd.Series(
            flt.might_contain(h1.to_numpy(np.int64), h2.to_numpy(np.int64))
        )

    h1, h2 = _hash_cols(text_col)
    tagged = df.select("*", h1, h2).withColumn(
        "_cand", _might_contain("_h1", "_h2")
    )
    clean = tagged.where(~F.col("_cand"))
    confirmed = tagged.where(F.col("_cand")).join(
        ref_fps, fingerprint(text_col) == F.col("_fp"), "left_anti"
    )
    drop = ["_h1", "_h2", "_cand"]
    return clean.drop(*drop).unionByName(confirmed.drop(*drop))
