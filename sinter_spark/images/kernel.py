"""The decode-once multi-check Arrow kernel (SURVEY.md §4).

One ``mapInPandas`` pass over Arrow batches implements the per-row
payload invariant from BASELINE.json: decode ``bytes`` per ``fmt``
(discriminated-union dispatch, ``/root/reference/lib/sinter/
types.ex:334-381``), verify decoded pixels against the deterministic
reference render (exact allclose for lossless fmts, PSNR ≥ 40 dB for
lossy — the distributed generalization of a custom field validator,
``validator.ex:362-408``), check exact caption equality, and verify
the stored ``phash`` against the pixel fingerprint (cross-field
metadata integrity — the fingerprint column must describe the payload
it travels with).

Scale notes: decode is the expensive check, so it runs exactly once per
row and *all* byte-dependent checks share the decoded array; the pass
is a narrow map (no shuffle); column pruning keeps ``bytes`` out of
every other pass. Emits violation rows in the reference error-struct
shape (``error.ex:224-237``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..errors import VIOLATION_DDL
from ..session import python_kernel
from . import codecs
from .synth import expected_caption, phash64, render_reference

PSNR_MIN_DB = 40.0


def _check_row(
    image_id, data, w, h, fmt, caption, phash, check_caption: bool, check_phash: bool
) -> list[dict]:
    out: list[dict] = []
    rk = image_id

    def v(path, code, message, context=None):
        out.append(
            {"row_key": rk, "path": list(path), "code": code, "message": message, "context": context}
        )

    if data is None:
        v(["bytes"], "required", "field is required")
        return out
    if fmt not in codecs.DECODERS:
        v(["bytes"], "decode", f"unknown fmt '{fmt}'", {"fmt": str(fmt)})
        return out
    try:
        pixels = codecs.decode(fmt, bytes(data))
    except codecs.DecodeError as e:
        v(["bytes"], "decode", f"decode failed: {e}", {"fmt": str(fmt)})
        return out

    # stored dimensions must describe the payload they travel with —
    # the same cross-field integrity rule as the phash check (a wrong
    # but in-range w/h would otherwise pass the row pass's bounds and
    # every payload check, which compares at the DECODED shape)
    dec_h, dec_w = pixels.shape[0], pixels.shape[1]
    if w is not None and int(w) != dec_w:
        v(["w"], "dim_mismatch", f"stored w={w} but payload decodes {dec_w} wide", {"decoded": str(dec_w)})
    if h is not None and int(h) != dec_h:
        v(["h"], "dim_mismatch", f"stored h={h} but payload decodes {dec_h} high", {"decoded": str(dec_h)})

    if image_id is not None:
        ref = render_reference(image_id, pixels.shape[1], pixels.shape[0])
        if fmt == "gif":
            # gif payloads are palette-limited at origin (synth F1):
            # the expected pixels — and the phash below — are the
            # posterized render, which gif round-trips losslessly
            ref = codecs.posterize_rgb332(ref)
        if fmt in codecs.LOSSY_FMTS:
            p = codecs.psnr(pixels, ref)
            if not p >= PSNR_MIN_DB:
                v(
                    ["bytes"],
                    "psnr",
                    f"PSNR {p:.2f} dB below {PSNR_MIN_DB:.0f} dB",
                    {"psnr_db": f"{p:.4f}", "fmt": str(fmt)},
                )
        else:
            # memcmp beats elementwise == (no boolean temp array)
            if pixels.shape != ref.shape or pixels.tobytes() != ref.tobytes():
                v(
                    ["bytes"],
                    "decode",
                    "decoded pixels differ from reference render",
                    {"fmt": str(fmt)},
                )
        if check_caption and caption is not None:
            exp = expected_caption(image_id)
            if caption != exp:
                v(
                    ["caption"],
                    "caption_mismatch",
                    "caption differs from reference",
                    {"expected_len": str(len(exp)), "got_len": str(len(caption))},
                )
        # phash integrity: the stored fingerprint must match the one the
        # payload's true pixels produce. The reference render is already
        # in hand (computed for the pixel check), so this costs one hash
        # — and it works for lossy fmts too, where hashing the DECODED
        # pixels would always mismatch (phash is taken pre-encoding).
        if check_phash and phash is not None:
            expected_ph = phash64(ref)
            if int(phash) != expected_ph:
                v(
                    ["phash"],
                    "phash_mismatch",
                    "stored phash differs from pixel fingerprint",
                    {"fmt": str(fmt)},
                )
    return out


def decode_violations(
    df: DataFrame,
    *,
    check_caption: bool = True,
    check_phash: bool = True,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Violations from the decode/PSNR/caption/phash invariant, one
    decode per row, Arrow-batched. Input needs columns
    (image_id, bytes, w, h, fmt, caption, phash).

    The decode is CPU-bound Python, so under-parallel inputs (few/large
    files) starve cores: if the scan yields fewer partitions than half
    the cluster's parallelism, repartition first (one extra shuffle of
    the payload — cheaper than idle cores; real deployments instead
    size spark.sql.files.maxPartitionBytes)."""
    from pyspark.sql import functions as F

    from ..plans import widen_small_scan

    # phash travels as a STRING: Arrow→pandas turns a nullable int64
    # column into float64 (None→NaN), silently corrupting values above
    # 2^53 — a decimal string round-trips all 64 bits exactly.
    cols = [
        "image_id", "bytes", "w", "h", "fmt", "caption",
        F.col("phash").cast("string").alias("phash"),
    ]
    df = widen_small_scan(df, min_parallelism=min_parallelism)

    def run(batches):
        for pdf in batches:
            rows: list[dict] = []
            for t in pdf.itertuples(index=False):
                rows.extend(
                    _check_row(
                        t.image_id, t.bytes, t.w, t.h, t.fmt, t.caption, t.phash,
                        check_caption, check_phash,
                    )
                )
            if rows:
                yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(python_kernel(run), VIOLATION_DDL)
