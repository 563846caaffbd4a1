"""Deterministic synthetic image+caption table (the north-star input).

Input shape per BASELINE.json input_hint:
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)``. Generation rules and violation-injection
rates follow FIXTURES.md F1 — skewed ``fmt`` (raw 85% / png 12% /
qjpg 3%) to exercise salting, plus seeded violations of every kind the
validation suite must catch.

Everything is a pure function of ``(seed, row_index)`` — independent of
partitioning and cluster size — so the same table can be generated
distributed at any scale (``spark.range(n)`` → ``mapInPandas``), and a
row's *reference render* and *expected caption* can be recomputed from
``image_id`` alone inside the decode kernel (the per-row invariant:
decoded-pixel allclose / PSNR ≥ 40 dB + exact caption equality).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

from ..session import python_kernel
from . import codecs

IMAGE_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)

#: bump when render_reference / make_row output changes — cached tables
#: generated by an older version no longer match the reference render
#: (v4: real GIF codec — `gif` became a KNOWN fmt with palette-limited
#: payloads, and the injected bad-fmt sentinel moved to `webp`)
RENDER_VERSION = 4

_WORDS = (
    "cat dog tree river mountain sky café naïve 東京 résumé road cloud "
    "bridge night day forest 雪 stone glass echo"
).split()

#: violation-injection rates (FIXTURES.md F1)
RATES = {
    "dup_id": 0.001,
    "null_id": 0.0005,
    "bad_id": 0.001,
    "corrupt": 0.002,
    "bad_dim": 0.001,
    "huge_dim": 0.001,
    "bad_fmt": 0.001,
    "empty_caption": 0.002,
    # appended in v3 (after the original keys, so draws for the
    # original violation kinds are unchanged for a given (seed, i))
    "bad_phash": 0.001,
}


#: default fmt mix (FIXTURES F1): raw 85% / png 12% / qjpg 3% — kept
#: byte-identical to the original single-threshold draw
DEFAULT_FMT_MIX = (("raw", 0.85), ("png", 0.12), ("qjpg", 0.03))

#: crawl-realistic mix for the jpeg-bearing bench leg (VERDICT_r03 #1:
#: jpeg is the real-world dominant interchange format and must be in
#: the measured path, not only in tests; v4 adds a gif share — the
#: next-most-common crawl format after jpeg/png)
JPEG_FMT_MIX = (
    ("raw", 0.41), ("jpeg", 0.25), ("pjpeg", 0.15), ("png", 0.12),
    ("gif", 0.04), ("qjpg", 0.03),
)


def _encode_payload(fmt: str, pixels) -> bytes:
    if fmt in ("jpeg", "pjpeg"):
        # q98: the sharp synthetic renders carry ≥ 43 dB at q98 (q95
        # measures ~36 dB — below the suite's 40 dB lossy floor, which
        # would make every clean jpeg row a violation)
        from .jpeg import encode_jpeg

        return encode_jpeg(pixels, quality=98, progressive=fmt == "pjpeg")
    # gif: the registry encoder posterizes (palette-limited at origin,
    # idempotent when make_row already posterized for the phash)
    return codecs.ENCODERS[fmt](pixels)


def _digest(*parts: str) -> bytes:
    return hashlib.md5("|".join(parts).encode()).digest()


def uuid_for(seed: int, i: int) -> str:
    d = _digest("uuid", str(seed), str(i)).hex()
    return f"{d[:8]}-{d[8:12]}-{d[12:16]}-{d[16:20]}-{d[20:32]}"


@functools.lru_cache(maxsize=4096)
def _gradient_planes(w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """The two (h, w) float32 gradient planes of a render: ``(1-gx)(1-gy)``
    weighting ``c0`` and ``(gx+gy)/2`` weighting ``c1``. Read-only and
    cached: the default tables draw from 48×48 distinct shapes."""
    gx = np.linspace(0.0, 1.0, max(w, 1), dtype=np.float32)[None, :]
    gy = np.linspace(0.0, 1.0, max(h, 1), dtype=np.float32)[:, None]
    a = (1 - gx) * (1 - gy)
    b = gx * 0.5 + gy * 0.5
    a.setflags(write=False)
    b.setflags(write=False)
    return a, b


def render_reference(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic per-id render: seeded gradient + noise (h, w, 3).

    float32 with minimal temporaries: this runs once per row in the
    decode kernel across every core, so memory bandwidth (not FLOPs) is
    the scaling limiter at high core counts — float64 + extra temps
    measurably flattened the 8→32-core speedup. The gradient is built
    channel-major, (3, h, w), so every op runs over contiguous planes
    (broadcasting over a trailing axis of 3 is several times slower),
    with the same float32 ops in the same order as
    ``((1-gx)(1-gy))·c0 + ((gx+gy)/2)·c1 + noise`` over (h, w, 3): the
    output is bit-identical."""
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(_digest("px", image_id)[:8], "big"))
    )
    c0 = rng.integers(0, 256, 3).astype(np.float32)
    c1 = rng.integers(0, 256, 3).astype(np.float32)
    a, b = _gradient_planes(w, h)
    noise = rng.integers(-12, 13, (h, w, 3))
    base = a * c0[:, None, None]  # (3,h,w) f32
    base += b * c1[:, None, None]
    base += noise.transpose(2, 0, 1)
    np.clip(base, 0, 255, out=base)
    out = np.empty((h, w, 3), np.uint8)
    out.transpose(2, 0, 1)[...] = base
    return out


def expected_caption(image_id: str) -> str:
    """Deterministic caption from image_id (recomputable in the kernel)."""
    d = _digest("cap", image_id)
    n = 3 + d[0] % 8
    return " ".join(_WORDS[d[1 + k] % len(_WORDS)] for k in range(n))


def phash64(arr: np.ndarray) -> int:
    """Perceptual-hash stand-in: 64-bit digest of the pixel buffer.

    FIXTURES.md F1 requires phash "duplicated exactly when pixels
    duplicate"; a true average-hash collides on low-entropy synthetic
    gradients, so the stand-in hashes the exact pixels instead."""
    # ascontiguousarray: no copy for the (usual) already-uint8 input —
    # this runs once per row inside the decode kernel
    d = hashlib.md5(np.ascontiguousarray(arr, dtype=np.uint8).tobytes()).digest()
    return int(np.frombuffer(d[:8], dtype=np.int64)[0])


def make_row(seed: int, i: int, max_dim: int = 64, fmt_mix=DEFAULT_FMT_MIX) -> dict:
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(_digest("row", str(seed), str(i))[:8], "big"))
    )
    draw = {k: rng.random() for k in RATES}

    image_id: str | None = uuid_for(seed, i)
    if i > 0 and draw["dup_id"] < RATES["dup_id"]:
        image_id = uuid_for(seed, i - 1)  # duplicate of a neighbor
    if draw["bad_id"] < RATES["bad_id"]:
        image_id = f"not-a-uuid-{i}"
    if draw["null_id"] < RATES["null_id"]:
        image_id = None

    # log-skewed dims 16..max_dim
    lo, hi = np.log(16), np.log(max_dim)
    w = int(np.exp(rng.uniform(lo, hi)))
    h = int(np.exp(rng.uniform(lo, hi)))

    # skewed fmt draw over the mix (same single uniform draw as the
    # original raw/png/qjpg thresholds, so the default mix reproduces
    # the original tables bit-for-bit)
    r = rng.random()
    fmt, cum = fmt_mix[-1][0], 0.0
    for name, share in fmt_mix:
        cum += share
        if r < cum:
            fmt = name
            break

    render_key = image_id if image_id is not None else f"null-{seed}-{i}"
    pixels = render_reference(render_key, w, h)
    if fmt == "gif":
        # a crawled GIF is palette-limited at the ORIGIN: the row's true
        # pixels (phash source, kernel expectation) are the posterized
        # render, and the gif payload round-trips them losslessly
        from .gif import posterize_rgb332

        pixels = posterize_rgb332(pixels)
    data = _encode_payload(fmt, pixels)
    ph = phash64(pixels)
    caption = expected_caption(render_key)

    # injected violations (after encoding, so payload matches true dims)
    if draw["bad_dim"] < RATES["bad_dim"]:
        w = 0 if rng.random() < 0.5 else -int(rng.integers(1, 10))
    if draw["huge_dim"] < RATES["huge_dim"]:
        h = 16385 + int(rng.integers(0, 100))
    if draw["bad_fmt"] < RATES["bad_fmt"]:
        fmt = "webp"   # v4: gif became a real codec; webp stays unknown
    if draw["corrupt"] < RATES["corrupt"]:
        b = bytearray(data)
        k = len(b) // 2
        for j in range(k, min(k + 16, len(b))):
            b[j] ^= 0xFF
        data = bytes(b)
    if draw["empty_caption"] < RATES["empty_caption"]:
        caption = ""
    if draw["bad_phash"] < RATES["bad_phash"]:
        ph ^= 0x5A5A5A5A5A5A5A5A  # fingerprint no longer matches pixels

    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
    }


def generate_images(
    spark, n: int, seed: int = 42, max_dim: int = 64,
    partitions: int | None = None, fmt_mix=DEFAULT_FMT_MIX,
):
    """Distributed generation: spark.range(n) → mapInPandas.

    Scales to any n: each task renders only its index range; no driver
    materialization. At the 10^12 design point this is the same code
    with a bigger range."""
    if partitions is None:
        partitions = max(int(spark.sparkContext.defaultParallelism), 4)
    base = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            rows = [make_row(seed, int(i), max_dim, fmt_mix) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return base.mapInPandas(python_kernel(gen), IMAGE_DDL)


def fmt_dim(spark):
    """Dimension table for the referential check (FIXTURES F1):
    one row per known fmt; `webp` rows in images are orphans."""
    from ..session import local_frame

    return local_frame(
        spark,
        [("raw", False, 24), ("png", False, 24), ("qjpg", True, 6),
         ("jpeg", True, 24), ("pjpeg", True, 24), ("gif", False, 8)],
        "fmt string, lossy boolean, max_bpp int",
    )


def write_images(
    spark, path: str, n: int, seed: int = 42, max_dim: int = 64,
    fmt_mix=DEFAULT_FMT_MIX,
) -> None:
    generate_images(spark, n, seed, max_dim, fmt_mix=fmt_mix).write.mode(
        "overwrite"
    ).parquet(path)
