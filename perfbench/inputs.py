"""Seeded, cached inputs for the benchmark workloads.

Image tables are pure functions of ``(seed, row index)`` through the
engine's own generator (``images.synth.make_row``). One worker process
per core writes them straight to parquet, without Spark, and derives the
expected violation census of its rows in the same pass. The census is
``media_fixtures.suite_expected_code_counts`` generalised to any fmt
mix: the fixture fixes the default mix, the jpeg workload needs
``JPEG_FMT_MIX``. ``python3 perfbench/inputs.py`` checks the two agree.

The document corpus is fixed (the seed does not apply to it), so its
DuckDB oracle is computed once per checkout and cached beside it.

Everything lives under ``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
INPUTS = os.path.join(WORK, "inputs")

MAX_DIM = 64
#: image tables kept on disk; older ones are evicted (each is ~3.4 KB/row)
KEEP_TABLES = 8


def fmt_mix(mix: str):
    from sinter_spark.images.synth import DEFAULT_FMT_MIX, JPEG_FMT_MIX

    return {"default": DEFAULT_FMT_MIX, "jpeg": JPEG_FMT_MIX}[mix]


def _census_row(r: dict, row_codes: Counter, codes: Counter) -> None:
    """Per-row checks of the full suite, as media_fixtures re-derives
    them: the row pass, the decode kernel and the referential check."""
    from sinter_spark.images import codecs
    from sinter_spark.images.synth import expected_caption, phash64, render_reference
    from sinter_spark.media_fixtures import _SUITE_FMTS
    from sinter_spark.types import UUID_RE

    iid, data, w, h = r["image_id"], r["bytes"], r["w"], r["h"]
    fmt, cap, ph = r["fmt"], r["caption"], r["phash"]

    if iid is None:
        row_codes["required"] += 1
    elif not UUID_RE.match(iid):
        row_codes["format"] += 1
    for dim in (w, h):
        if not dim > 0:
            row_codes["gt"] += 1
        if not dim <= 16384:
            row_codes["lteq"] += 1
    if fmt not in _SUITE_FMTS:
        row_codes["choices"] += 1
    if len(cap) < 1:
        row_codes["min_length"] += 1
    if len(cap) > 512:
        row_codes["max_length"] += 1

    px = None
    if data is None:
        codes["required"] += 1
    elif fmt not in codecs.DECODERS:
        codes["decode"] += 1
    else:
        try:
            px = codecs.decode(fmt, bytes(data))
        except codecs.DecodeError:
            codes["decode"] += 1
    if px is not None:
        dec_h, dec_w = px.shape[0], px.shape[1]
        codes["dim_mismatch"] += (w is not None and int(w) != dec_w) + (h is not None and int(h) != dec_h)
        if iid is not None:
            ref = render_reference(iid, dec_w, dec_h)
            if fmt == "gif":
                ref = codecs.posterize_rgb332(ref)
            if fmt in codecs.LOSSY_FMTS:
                if not codecs.psnr(px, ref) >= 40.0:
                    codes["psnr"] += 1
            elif px.shape != ref.shape or px.tobytes() != ref.tobytes():
                codes["decode"] += 1
            if cap is not None and cap != expected_caption(iid):
                codes["caption_mismatch"] += 1
            if ph is not None and int(ph) != phash64(ref):
                codes["phash_mismatch"] += 1
    if fmt not in _SUITE_FMTS:
        codes["referential"] += 1


def _image_chunk(seed: int, lo: int, hi: int, mix: str, path: str) -> tuple[Counter, Counter, list, list]:
    """Write rows [lo, hi) to one parquet file and return (row-pass
    codes, other per-row codes, image ids, phashes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sinter_spark.images.synth import make_row

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ])
    row_codes: Counter = Counter()
    codes: Counter = Counter()
    rows = [make_row(seed, i, MAX_DIM, fmt_mix(mix)) for i in range(lo, hi)]
    for r in rows:
        _census_row(r, row_codes, codes)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return row_codes, codes, [r["image_id"] for r in rows], [r["phash"] for r in rows]


def _census(parts) -> dict:
    row_codes: Counter = Counter()
    codes: Counter = Counter()
    ids: Counter = Counter()
    phs: Counter = Counter()
    for rc, c, i, p in parts:
        row_codes.update(rc)
        codes.update(c)
        ids.update(i)
        phs.update(p)
    # one violation per repeated non-null key: uniqueness_violations
    # drops null keys first (media_fixtures counts a repeated NULL id as
    # a duplicate too, which differs only when a table holds two nulls)
    unique = sum(v > 1 for k, v in ids.items() if k is not None)
    unique += sum(v > 1 for k, v in phs.items() if k is not None)
    suite = codes + row_codes
    if unique:
        suite["unique"] = unique
    return {
        "suite_codes": dict(sorted(suite.items())),
        "row_pass_violations": sum(row_codes.values()),
        "distinct_ids": sum(1 for k in ids if k is not None),
    }


def _evict(root: str, keep: set[str]) -> None:
    if not os.path.isdir(root):
        return
    tables = [
        os.path.join(root, d) for d in os.listdir(root)
        if d.startswith("images_") and ".tmp-" not in d
    ]
    tables = [t for t in tables if t not in keep]
    tables.sort(key=os.path.getmtime, reverse=True)
    for t in tables[KEEP_TABLES - len(keep):]:
        shutil.rmtree(t, ignore_errors=True)


def image_table(
    mix: str, n: int, seed: int, *, root: str = INPUTS, keep: tuple[str, ...] = ()
) -> tuple[str, dict, float]:
    """Path of the cached (RENDER_VERSION, mix, n, seed) table, its
    census, and the seconds spent generating it (0.0 on a cache hit)."""
    from sinter_spark.images.synth import RENDER_VERSION

    path = os.path.join(root, f"images_v{RENDER_VERSION}_{mix}_n{n}_s{seed}")
    census_file = os.path.join(path, "_census.json")
    if os.path.exists(census_file):
        os.utime(path)
        with open(census_file) as f:
            return path, json.load(f), 0.0
    _evict(root, {path, *keep})
    t0 = time.perf_counter()
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one worker process per core, each a contiguous slice of rows
    chunks = len(os.sched_getaffinity(0))
    bounds = [n * k // chunks for k in range(chunks + 1)]
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "chunk", str(seed), str(bounds[k]),
             str(bounds[k + 1]), mix, os.path.join(tmp, f"part-{k:03d}.parquet")],
            stdout=subprocess.PIPE,
        )
        for k in range(chunks) if bounds[k + 1] > bounds[k]
    ]
    parts = []
    try:
        for p in procs:
            out, _ = p.communicate()
            if p.returncode != 0:
                raise RuntimeError(f"image generation worker exited with {p.returncode}")
            parts.append(json.loads(out))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    census = _census(parts)
    census.update(mix=mix, n=n, seed=seed, render_version=RENDER_VERSION)
    with open(os.path.join(tmp, "_census.json"), "w") as f:
        json.dump(census, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, census, time.perf_counter() - t0


# -- document corpus -----------------------------------------------------------

DOCS_N = 1000
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def docs_corpus(n: int = DOCS_N) -> str:
    """Directory holding ``documents.parquet``: ``n`` documents shaped
    like the repository's sf0.1 test corpus (10–100 words over a 30-word
    vocabulary, 5% near-duplicates of an earlier document marked by a
    trailing ``dup``). A fixed function of ``n``."""
    path = os.path.join(INPUTS, f"docs_v1_n{n}")
    target = os.path.join(path, "documents.parquet")
    if os.path.exists(target):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(20261016)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, target + ".tmp")
    os.replace(target + ".tmp", target)
    return path


def _check_census_against_fixture(n: int = 3000, seed: int = 42) -> None:
    """The default-mix census must equal media_fixtures' own oracle."""
    import tempfile

    from sinter_spark.media_fixtures import suite_expected_code_counts

    root = tempfile.mkdtemp()
    try:
        _, census, _ = image_table("default", n, seed, root=root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    want = {k: v for k, v in sorted(suite_expected_code_counts(n, seed, MAX_DIM).items()) if v}
    if census["suite_codes"] != want:
        raise SystemExit(f"census mismatch:\n ours    {census['suite_codes']}\n fixture {want}")
    print(f"census matches media_fixtures at n={n} seed={seed}: {want}")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if sys.argv[1:2] == ["chunk"]:
        seed, lo, hi = (int(a) for a in sys.argv[2:5])
        json.dump(_image_chunk(seed, lo, hi, *sys.argv[5:7]), sys.stdout)
    else:
        _check_census_against_fixture()
