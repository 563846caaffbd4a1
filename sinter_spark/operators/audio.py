"""Audio payload operators: REAL WAV (RIFF PCM) decode + per-clip
feature extraction, Arrow-batched.

The multimodal brief treats audio as an opaque ``binary`` column with
typed metadata. WAV/PCM is the standard uncompressed interchange
format and parses with struct + numpy alone, so — unlike mp3/flac,
which stay stubbed for lack of codec libraries in this container
(SURVEY.md §7.0) — the audio path here is REAL end-to-end: a
spec-conformant RIFF/WAVE parser (PCM 8/16-bit, any channel count,
chunk-walk tolerant of extra chunks like LIST/fact), a writer (emits
files any player opens — not a synthetic stand-in format), and a
``mapInPandas`` feature kernel (duration, RMS, peak, zero-crossing
rate, spectral centroid via one rFFT per clip).

Malformed payloads raise :class:`~..images.codecs.DecodeError` and the
Spark kernel converts them to ``ok=False`` error rows — the same
containment contract as the image/video decoders (fuzz-gated).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..images.codecs import DecodeError
from ..session import python_kernel


def encode_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """(n,) or (n, channels) int16/float[-1,1] → canonical RIFF/WAVE
    PCM-16 bytes (playable by any audio tool)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.dtype.kind == "f":
        s = np.clip(s, -1.0, 1.0)
        s = (s * 32767.0).round().astype(np.int16)
    s = s.astype(np.int16)
    n, ch = s.shape
    data = s.tobytes()
    byte_rate = rate * ch * 2
    hdr = b"".join(
        [
            b"RIFF", struct.pack("<I", 36 + len(data)), b"WAVE",
            b"fmt ", struct.pack("<IHHIIHH", 16, 1, ch, rate, byte_rate, ch * 2, 16),
            b"data", struct.pack("<I", len(data)),
        ]
    )
    return hdr + data


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM → (sample_rate, float64 (n_samples, channels) in
    [-1, 1]). Walks chunks (tolerates LIST/fact/…); PCM 8-bit unsigned
    and 16-bit signed supported; anything else raises DecodeError."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise DecodeError("wav: bad RIFF/WAVE header")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise DecodeError(f"wav: truncated chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise DecodeError("wav: short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise DecodeError("wav: missing fmt/data chunk")
    audio_fmt, ch, rate, _brate, _align, bits = fmt
    if audio_fmt != 1:
        raise DecodeError(f"wav: unsupported audio format {audio_fmt} (PCM only)")
    if ch < 1 or rate < 1:
        raise DecodeError("wav: invalid channel count / sample rate")
    if bits == 16:
        n = len(raw) // (2 * ch)
        if n == 0:
            raise DecodeError("wav: empty data chunk")
        s = np.frombuffer(raw[: n * 2 * ch], dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        n = len(raw) // ch
        if n == 0:
            raise DecodeError("wav: empty data chunk")
        s = (np.frombuffer(raw[: n * ch], dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise DecodeError(f"wav: unsupported bit depth {bits}")
    return rate, s.reshape(n, ch)


def synth_audio(
    duration_s: float = 1.0, rate: int = 16_000, *, freq: float = 440.0, seed: int = 7
) -> bytes:
    """Deterministic test clip: a sine at ``freq`` + low noise floor."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(duration_s * rate)) / rate
    wave = 0.6 * np.sin(2 * np.pi * freq * t) + 0.01 * rng.standard_normal(len(t))
    return encode_wav(wave, rate)


AUDIO_FEATURES_DDL = (
    "row_key string, ok boolean, err string, sample_rate int, "
    "n_samples bigint, duration_s double, channels int, rms double, "
    "peak double, zero_crossing_rate double, spectral_centroid_hz double"
)

#: formats the builtin parser decodes; anything else is a stub
BUILTIN_AUDIO_FMTS = frozenset({"wav"})


def decode_audio_features(
    df: DataFrame,
    *,
    id_col: str = "audio_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    strict_stub: bool = False,
) -> DataFrame:
    """Decode → per-clip features in one Arrow pass: duration, RMS,
    peak, zero-crossing rate, spectral centroid (one rFFT of the
    mono mixdown per clip — numpy-vectorized, no per-sample Python).

    WAV decodes for real; other fmts (mp3/flac — no codec libs in this
    container) raise (``strict_stub=True``) or yield
    ``ok=False, err='stub:<fmt>'``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf.itertuples(index=False):
                rec = {
                    "row_key": getattr(t, id_col), "ok": False, "err": None,
                    "sample_rate": None, "n_samples": None, "duration_s": None,
                    "channels": None, "rms": None, "peak": None,
                    "zero_crossing_rate": None, "spectral_centroid_hz": None,
                }
                fmt = getattr(t, fmt_col)
                data = getattr(t, bytes_col)
                if fmt not in BUILTIN_AUDIO_FMTS:
                    if strict_stub:
                        raise NotImplementedError(
                            f"audio codec for fmt '{fmt}' not available in this container"
                        )
                    rec["err"] = f"stub:{fmt}"
                elif data is None:
                    rec["err"] = "null payload"
                else:
                    try:
                        rate, s = decode_wav(bytes(data))
                        mono = s.mean(axis=1)
                        n = len(mono)
                        # power-weighted centroid: robust to a wideband
                        # noise floor that magnitude weighting lets
                        # dominate (8000 tiny bins outvote one tone)
                        spec = np.abs(np.fft.rfft(mono)) ** 2
                        freqs = np.fft.rfftfreq(n, d=1.0 / rate)
                        power = spec.sum()
                        rec.update(
                            ok=True,
                            sample_rate=int(rate),
                            n_samples=int(n),
                            duration_s=float(n / rate),
                            channels=int(s.shape[1]),
                            rms=float(np.sqrt(np.mean(mono**2))),
                            peak=float(np.abs(s).max()),
                            zero_crossing_rate=float(
                                np.mean(np.diff(np.signbit(mono)) != 0)
                            ),
                            spectral_centroid_hz=float(
                                (freqs * spec).sum() / power
                            )
                            if power > 0
                            else 0.0,
                        )
                    except DecodeError as e:
                        rec["err"] = str(e)
                out.append(rec)
            yield pd.DataFrame(out)

    return df.select(id_col, bytes_col, fmt_col).mapInPandas(
        python_kernel(run), AUDIO_FEATURES_DDL
    )
