"""Adversarial hardening for the round-3 operators: massive score ties
at the top-k boundary (the case the batched-ANN pruning slack must
never lose), duplicated vectors through IVF, and property-based JPEG
roundtrip on arbitrary (non-smooth) content."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sinter_spark.images import codecs, jpeg


class TestBatchTopkTies:
    def test_batch_equals_per_query_under_massive_ties(self, spark):
        """Vectors drawn from a tiny discrete set → many EXACT cos_sim
        ties straddling the k boundary across partitions; the per-batch
        pruning must keep every tie candidate that per-query
        ``cosine_topk`` would rank in."""
        from sinter_spark.operators.similarity import cosine_topk, cosine_topk_batch

        rng = np.random.default_rng(42)
        protos = rng.standard_normal((4, 6))  # only 4 distinct directions
        rows = [
            (i, (protos[i % 4] * float(1 + (i % 3))).tolist())  # scaled dups
            for i in range(120)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).repartition(10)
        qs = (
            emb.orderBy("vec_id")
            .limit(4)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        got = sorted(
            tuple(r) for r in cosine_topk_batch(emb, qs, k=9, round_to=5).collect()
        )
        want = sorted(
            (q["query_id"], r["vec_id"], r["cos_sim"])
            for q in qs.collect()
            for r in cosine_topk(emb, list(q["embedding"]), k=9, round_to=5).collect()
        )
        assert got == want
        assert len(got) == 4 * 9

    def test_ivf_batch_with_duplicate_vectors(self, spark):
        from sinter_spark.operators import ivf

        rng = np.random.default_rng(5)
        protos = rng.standard_normal((6, 8))
        rows = [(i, protos[i % 6].tolist()) for i in range(90)]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).repartition(7)
        cents = ivf.train_centroids(emb, n_clusters=4, sample_size=90, seed=3)
        qrows = emb.orderBy("vec_id").limit(3).collect()
        qs = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in qrows],
            "query_id bigint, embedding array<double>",
        )
        got = {
            (r["query_id"], r["vec_id"], r["cos_sim"])
            for r in ivf.ivf_topk_batch(
                emb, cents, qs, k=6, n_probe=2, round_to=5
            ).collect()
        }
        want = set()
        for r in qrows:
            one = ivf.ivf_topk(
                emb, cents, [float(x) for x in r["embedding"]],
                k=6, n_probe=2, round_to=5,
            )
            want |= {(r["vec_id"], x["vec_id"], x["cos_sim"]) for x in one.collect()}
        assert got == want


class TestJpegProperty:
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 10_000),
        h=st.integers(4, 33),
        w=st.integers(4, 33),
        sub=st.sampled_from(["444", "420"]),
    )
    def test_q100_roundtrip_high_fidelity_any_content(self, seed, h, w, sub):
        """At quality 100 the luma quant table is all-ones — roundtrip
        error is pure DCT rounding, so even white noise must come back
        at high fidelity (and exactly for uniform blocks)."""
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=100, subsampling=sub))
        assert out.shape == img.shape
        # The q100 invariant that holds regardless of subsampling is on
        # the LUMA plane: the luma quant table is all-ones, so the Y
        # stored in the stream is pure DCT rounding (~48+ dB even on
        # white noise). Recomputing luma from the decoded RGB adds one
        # confound: out-of-gamut chroma gets clipped in RGB space, and
        # that clipping leaks into the recomputed Y (empirical min over
        # a 1500-case sweep at h,w∈[4,33]: 40.3 dB) — so the floor is
        # 36 dB, comfortably above any real codec defect (a luma-table
        # or entropy bug lands below 20 dB). Whole-image PSNR under
        # 4:2:0 is dominated by 2×2 chroma averaging — a property of
        # the format itself, and on per-pixel noise at tiny heights
        # (chroma plane only 2 rows) it dips below 12 dB (hypothesis:
        # seed=8605, h=4, w=18 → 11.86 dB) — so 420 only gets a ~10 dB
        # whole-image sanity floor.
        def luma(a):
            f = a.astype(np.float64)
            return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]

        assert codecs.psnr(luma(img), luma(out)) >= 36.0
        floor = 48.0 if sub == "444" else 10.0
        assert codecs.psnr(img, out) >= floor

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(seed=st.integers(0, 10_000))
    def test_decoder_never_crashes_on_header_mutations(self, seed):
        rng = np.random.default_rng(seed)
        data = bytearray(jpeg.encode_jpeg(np.full((9, 9, 3), 77, np.uint8)))
        for _ in range(4):
            data[int(rng.integers(2, min(len(data), 220)))] = int(rng.integers(0, 256))
        try:
            out = codecs.decode("jpeg", bytes(data))
            assert out.dtype == np.uint8 and out.ndim == 3
        except codecs.DecodeError:
            pass
