"""Multimodal payload plumbing: opaque binary columns + typed metadata.

Images/audio/video travel as ``binary`` columns with typed metadata
(the image table's (bytes, w, h, fmt) is the pattern). The Spark-side
plumbing — schema contracts, Arrow batch shape, partition sizing — is
real and tested. Decode is REAL for every builtin codec
(raw/png/qjpg, and since round 4 baseline+progressive JPEG and
GIF87a/89a, all via ``images/codecs.py``; ``rawvid`` video and
animated-GIF clips with indexed/sequential frame decode via
``images/video.py``; RIFF/WAV audio via ``operators/audio.py``); only
formats that require external native libraries (mp3/mp4/flac/webm…)
are STUBBED behind ``NotImplementedError`` or a clearly-marked
deterministic fake, because no imaging/audio libs ship in this
container (SURVEY.md §7.0). Swapping a stub for Pillow/ffmpeg changes
one function, not the plumbing.

Scale note: every operator here is ``mapInPandas`` over Arrow batches
(no per-row Python round trips) and prunes to exactly the columns it
needs; `spark.sql.files.maxPartitionBytes` bounds decode-task memory.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..images import codecs
from ..images.perceptual import dct_phash64
from ..session import python_kernel

IMAGE_FEATURES_DDL = (
    "row_key string, ok boolean, err string, dec_w int, dec_h int, "
    "mean_r double, mean_g double, mean_b double, brightness double, "
    "phash64 bigint"
)

#: formats the built-in numpy codecs decode; anything else is a stub
BUILTIN_FMTS = frozenset(codecs.DECODERS)


def decode_image_features(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    strict_stub: bool = False,
) -> DataFrame:
    """Decode → per-image feature extraction in one Arrow pass:
    decoded dims, channel means, brightness, and a DCT perceptual hash
    (``phash64`` — the near-duplicate fingerprint
    :func:`image_near_dup_pairs` buckets on).

    For builtin fmts the decode is real; unknown fmts either raise
    (``strict_stub=True``) or yield ok=False with err='stub:<fmt>'."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf.itertuples(index=False):
                rk = getattr(t, id_col)
                fmt = getattr(t, fmt_col)
                data = getattr(t, bytes_col)
                rec = {
                    "row_key": rk, "ok": False, "err": None,
                    "dec_w": None, "dec_h": None,
                    "mean_r": None, "mean_g": None, "mean_b": None,
                    "brightness": None, "phash64": None,
                }
                if fmt not in BUILTIN_FMTS:
                    if strict_stub:
                        raise NotImplementedError(
                            f"codec for fmt '{fmt}' not available in this container"
                        )
                    rec["err"] = f"stub:{fmt}"
                elif data is None:
                    rec["err"] = "null payload"
                else:
                    try:
                        px = codecs.decode(fmt, bytes(data))
                        means = px.reshape(-1, 3).mean(axis=0)
                        rec.update(
                            ok=True,
                            dec_w=int(px.shape[1]),
                            dec_h=int(px.shape[0]),
                            mean_r=float(means[0]),
                            mean_g=float(means[1]),
                            mean_b=float(means[2]),
                            brightness=float(means.mean()),
                            phash64=dct_phash64(px),
                        )
                    except codecs.DecodeError as e:
                        rec["err"] = str(e)
                out.append(rec)
            pdf_out = pd.DataFrame(out)
            # Build the hash column as nullable Int64 FROM THE RAW
            # PYTHON INTS: pd.DataFrame coerces a mixed None/int column
            # to float64 at construction (before any astype could fix
            # it), silently corrupting the low bits of values > 2^53 —
            # and any batch containing one failed/stub decode is mixed.
            pdf_out["phash64"] = pd.array([r["phash64"] for r in out], dtype="Int64")
            yield pdf_out

    return df.select(id_col, bytes_col, fmt_col).mapInPandas(
        python_kernel(run), IMAGE_FEATURES_DDL
    )


def image_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_hamming: int = 6,
    max_bucket: int | None = 1000,
    cache: bool = True,
) -> DataFrame:
    """Image near-duplicate pairs (id_a < id_b, hamming): decode each
    payload ONCE, fingerprint it with the DCT perceptual hash, then
    hamming-block LSH instead of all-pairs.

    The default hamming budget (6) is calibrated to the re-encode
    channel: a lossy ``qjpg`` round trip of the synthetic renders moves
    the fingerprint ≤ 6 bits while unrelated images sit ≥ 14 apart
    (mean ~28 — measured, pinned in tests). Recall at ≤ 6 is GUARANTEED
    by pair-of-blocks bucketing over 8×8-bit blocks (6 differing bits
    leave ≥ 2 clean blocks → their pair key matches; see
    :func:`~sinter_spark.operators.dedup.hamming_block_pairs`).

    Scale shape: one narrow Arrow decode pass (``bytes`` pruned from
    everything downstream), a persisted fingerprint/bucket projection,
    one bucket-join exchange, mega-buckets capped."""
    from .dedup import hamming_block_pairs

    sigs = (
        decode_image_features(
            df, id_col=id_col, bytes_col=bytes_col, fmt_col=fmt_col
        )
        .where(F.col("ok"))
        .select(F.col("row_key").alias(id_col), F.col("phash64"))
    )
    return hamming_block_pairs(
        sigs,
        id_col,
        "phash64",
        n_blocks=8,
        block_bits=8,
        pair_blocks=True,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
        cache=cache,
    )


RESIZE_DDL = "row_key string, bytes binary, w int, h int, fmt string"


def resize_images(
    df: DataFrame,
    target: int,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Nearest-neighbor resize to target×target, re-encoded as raw.

    Real for builtin fmts (pure numpy index resampling); non-builtin
    fmts pass through with bytes=None (stub marker)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf.itertuples(index=False):
                fmt = getattr(t, fmt_col)
                data = getattr(t, bytes_col)
                rec = {"row_key": getattr(t, id_col), "bytes": None, "w": target, "h": target, "fmt": "raw"}
                if fmt in BUILTIN_FMTS and data is not None:
                    try:
                        px = codecs.decode(fmt, bytes(data))
                        ys = (np.arange(target) * px.shape[0] // target).clip(0, px.shape[0] - 1)
                        xs = (np.arange(target) * px.shape[1] // target).clip(0, px.shape[1] - 1)
                        rec["bytes"] = codecs.encode_raw(px[ys][:, xs])
                    except codecs.DecodeError:
                        pass
                out.append(rec)
            yield pd.DataFrame(out)

    return df.select(id_col, bytes_col, fmt_col).mapInPandas(python_kernel(run), RESIZE_DDL)


FRAME_SAMPLE_DDL = (
    "row_key string, frame_idx int, ok boolean, err string, "
    "frame_w int, frame_h int, brightness double, phash64 bigint, "
    "frame_digest string"
)


def sample_video_frames(
    df: DataFrame,
    n_frames: int = 4,
    *,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    fmt_col: str | None = None,
) -> DataFrame:
    """Video frame sampler: k uniformly-spread frames per clip with
    per-frame features (dims, brightness, DCT pHash, digest).

    REAL for two builtin containers:

    * ``rawvid`` (``images/video.py``): the frame INDEX lets the kernel
      decode ONLY the k sampled frames — O(k) inflate work per clip
      regardless of clip length, the access pattern an mp4 keyframe
      sampler has at scale.
    * ``gif`` animations (``images/gif.py``): GIF is delta-coded with
      no frame index (frame i composites on 0..i-1), so the kernel
      decodes sequentially up to the last sampled frame — the honest
      cost model for index-less formats; clips are short by nature.

    Non-builtin container fmts (mp4/webm — no ffmpeg in this
    container, SURVEY §7.0) fall back to the stub path: deterministic
    payload-slice digests with ``ok=False, err='stub:<fmt>'``,
    preserving output shape so the plumbing downstream is exercised
    either way. With ``fmt_col=None`` every row takes the stub path
    (legacy behavior).
    """
    from ..images.gif import gif_frames, probe_gif
    from ..images.video import decode_rawvid_frame, probe_rawvid, sample_indices

    cols = [id_col, bytes_col] + ([fmt_col] if fmt_col else [])
    out_cols = [
        "row_key", "frame_idx", "ok", "err", "frame_w",
        "frame_h", "brightness", "phash64", "frame_digest",
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf.itertuples(index=False):
                rk = getattr(t, id_col)
                data = getattr(t, bytes_col)
                fmt = getattr(t, fmt_col) if fmt_col else None
                if data is None:
                    continue
                b = bytes(data)
                if fmt in ("rawvid", "gif"):
                    try:
                        if fmt == "rawvid":
                            meta = probe_rawvid(b)
                            pairs = (
                                (i, decode_rawvid_frame(b, i))
                                for i in sample_indices(meta["n_frames"], n_frames)
                            )
                        else:
                            # sequential decode up to the last sampled
                            # frame (GIF frames composite on their
                            # predecessors — there is no seek index)
                            idxs = sample_indices(probe_gif(b)["n_frames"], n_frames)
                            decoded = gif_frames(b, max_frames=idxs[-1] + 1)
                            pairs = ((i, decoded[i][0]) for i in idxs)
                        for i, px in pairs:
                            out.append(
                                {
                                    "row_key": rk, "frame_idx": i,
                                    "ok": True, "err": None,
                                    "frame_w": int(px.shape[1]),
                                    "frame_h": int(px.shape[0]),
                                    "brightness": float(px.mean()),
                                    "phash64": dct_phash64(px),
                                    "frame_digest": hashlib.md5(px.tobytes()).hexdigest(),
                                }
                            )
                    # blanket wrapper (mirrors codecs.decode): a crafted
                    # header that slips past probe validation must land
                    # as an ok=False row, never fail the whole task
                    except Exception as e:  # noqa: BLE001 — containment contract
                        out.append(
                            {
                                "row_key": rk, "frame_idx": 0,
                                "ok": False,
                                "err": str(e) if isinstance(e, codecs.DecodeError)
                                else f"decode crash: {type(e).__name__}: {e}",
                                "frame_w": None, "frame_h": None,
                                "brightness": None, "phash64": None,
                                "frame_digest": None,
                            }
                        )
                    continue
                # stub path: unknown container (or no fmt column)
                step = max(len(b) // n_frames, 1)
                for i in range(n_frames):
                    chunk = b[i * step : (i + 1) * step]
                    out.append(
                        {
                            "row_key": rk, "frame_idx": i,
                            "ok": False,
                            "err": f"stub:{fmt}" if fmt else "stub:unknown",
                            "frame_w": None, "frame_h": None,
                            "brightness": None, "phash64": None,
                            "frame_digest": hashlib.md5(chunk).hexdigest(),
                        }
                    )
            if out:
                pdf_out = pd.DataFrame(out, columns=out_cols)
                # int64 phash through pandas: nullable Int64 from the
                # raw ints BEFORE any float coercion can eat low bits
                pdf_out["phash64"] = pd.array(
                    [r["phash64"] for r in out], dtype="Int64"
                )
                yield pdf_out

    return df.select(*cols).mapInPandas(python_kernel(run), FRAME_SAMPLE_DDL)
