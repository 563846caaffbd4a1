"""``synth.render_reference`` is the pixel ground truth of every cached
image table and of the decode kernel's equality check, so a faster
implementation must be bit-identical to the one the tables were
generated with (``RENDER_VERSION`` 4). ``_frozen_render`` is a verbatim
copy of that implementation."""

import numpy as np

from sinter_spark.images import synth


def _frozen_render(image_id: str, w: int, h: int) -> np.ndarray:
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(synth._digest("px", image_id)[:8], "big"))
    )
    c0 = rng.integers(0, 256, 3).astype(np.float32)
    c1 = rng.integers(0, 256, 3).astype(np.float32)
    gx = np.linspace(0.0, 1.0, max(w, 1), dtype=np.float32)[None, :, None]
    gy = np.linspace(0.0, 1.0, max(h, 1), dtype=np.float32)[:, None, None]
    base = (1 - gx) * (1 - gy) * c0
    base += (gx * 0.5 + gy * 0.5) * c1
    base += rng.integers(-12, 13, (h, w, 3)).astype(np.float32)
    np.clip(base, 0, 255, out=base)
    return base.astype(np.uint8)


def test_every_shape_up_to_64_is_bit_identical():
    rng = np.random.default_rng(20261017)
    for w in range(1, 65):
        for h in range(1, 65):
            image_id = synth.uuid_for(int(rng.integers(1 << 30)), int(rng.integers(1 << 30)))
            got = synth.render_reference(image_id, w, h)
            want = _frozen_render(image_id, w, h)
            assert got.dtype == want.dtype and got.shape == want.shape == (h, w, 3)
            assert got.tobytes() == want.tobytes(), (image_id, w, h)


def test_cached_planes_are_not_mutated_by_renders():
    a, b = synth._gradient_planes(17, 9)
    before = a.tobytes() + b.tobytes()
    for k in range(20):
        synth.render_reference(f"id-{k}", 17, 9)
    assert a.tobytes() + b.tobytes() == before
    assert not a.flags.writeable and not b.flags.writeable


def test_table_rows_and_odd_ids_match_frozen():
    for i in range(200):
        row = synth.make_row(7, i)
        key = row["image_id"] if row["image_id"] is not None else f"null-7-{i}"
        for w, h in ((row["w"], row["h"]), (1, 64), (64, 1)):
            if w > 0 and h > 0:
                assert synth.render_reference(key, w, h).tobytes() == _frozen_render(key, w, h).tobytes()
    for key in ("", "東京", "not-a-uuid-3", "x" * 500):
        assert synth.render_reference(key, 33, 17).tobytes() == _frozen_render(key, 33, 17).tobytes()
