"""Round-4 regression tests: ADVICE_r03 defects + VERDICT_r03 items.

ADVICE items covered here:
  #1 (medium) crafted zero-dim rawvid must be contained (DecodeError /
     ok=False row), never an uncaught IndexError failing the task;
  #3 (low) ivf.train_centroids default sample must span a physically
     clustered table, not head-n the first partition.
"""

import struct
import zlib

import numpy as np
import pytest

from sinter_spark.images import codecs
from sinter_spark.images.video import _HDR, _IDX, MAGIC, probe_rawvid


def _crafted_rawvid(n=1, w=0, h=0, c=3, frame=b""):
    blob = zlib.compress(frame)
    return (
        _HDR.pack(MAGIC, 1, n, w, h, c)
        + _IDX.pack(0, len(blob))
        + blob
    )


class TestRawvidHeaderValidation:
    def test_zero_dims_rejected(self):
        with pytest.raises(codecs.DecodeError, match="bad dimensions"):
            probe_rawvid(_crafted_rawvid(w=0, h=0))

    def test_zero_width_only_rejected(self):
        with pytest.raises(codecs.DecodeError, match="bad dimensions"):
            probe_rawvid(_crafted_rawvid(w=0, h=4))

    def test_bad_channel_count_rejected(self):
        with pytest.raises(codecs.DecodeError, match="channel count"):
            probe_rawvid(_crafted_rawvid(w=4, h=4, c=1))

    def test_zero_dim_payload_contained_in_spark_kernel(self, spark):
        """The ADVICE #1 scenario end-to-end: one malformed row in a
        batch must yield an ok=False row, not fail the Spark task."""
        from sinter_spark.images.video import synth_video
        from sinter_spark.operators.multimodal import sample_video_frames

        rows = [
            ("good", synth_video(4, 16, 12), "rawvid"),
            ("evil", _crafted_rawvid(w=0, h=0), "rawvid"),
        ]
        df = spark.createDataFrame(rows, "video_id string, bytes binary, fmt string")
        out = sample_video_frames(df, 2, fmt_col="fmt").collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["row_key"], []).append(r)
        assert all(r["ok"] for r in by_key["good"])
        assert len(by_key["evil"]) == 1
        assert by_key["evil"][0]["ok"] is False
        assert "dimensions" in by_key["evil"][0]["err"]

    def test_any_unexpected_decode_exception_contained(self, spark):
        """Even a decode path that raises a NON-DecodeError must land
        as an ok=False row (blanket containment, mirroring codecs.decode)."""
        from sinter_spark.operators.multimodal import sample_video_frames

        # header claims a frame index far past the buffer with a length
        # that overflows reads; any exception class must be contained
        evil = _HDR.pack(MAGIC, 1, 2, 4, 4, 3) + _IDX.pack(0, 10) + _IDX.pack(
            2**31, 2**31
        )
        df = spark.createDataFrame(
            [("evil2", evil, "rawvid")], "video_id string, bytes binary, fmt string"
        )
        out = sample_video_frames(df, 2, fmt_col="fmt").collect()
        assert len(out) == 1 and out[0]["ok"] is False


class TestIvfDefaultSampleSpansTable:
    def test_default_sample_covers_clustered_partitions(self, spark):
        """ADVICE #3: a table whose physical order is clustered (all of
        direction A before direction B) must still train centroids for
        both directions under the DEFAULT sampling."""
        from sinter_spark.operators.ivf import train_centroids

        rng = np.random.default_rng(0)
        rows = [
            (i, ([1.0, 0.0] if i < 200 else [0.0, 1.0])
             + [float(x) for x in rng.normal(0, 0.01, 2)])
            for i in range(400)
        ]
        # two partitions, physically clustered by range: 0 all-A, 1 all-B
        df = (
            spark.createDataFrame(rows, "ord int, embedding array<double>")
            .repartitionByRange(2, "ord")
            .select("embedding")
        )
        assert df.rdd.getNumPartitions() == 2
        # head-n of 100 rows would see ONLY partition 0 (the A cluster)
        cents = train_centroids(df, n_clusters=2, sample_size=100, seed=3)
        dirs = cents[:, :2]
        assert dirs[:, 0].max() > 0.9  # a centroid near A
        assert dirs[:, 1].max() > 0.9  # a centroid near B

    def test_default_sample_bounded(self, spark):
        """The per-partition head must stay ≈ sample_size even on a
        many-partition scan (no unbounded driver collect)."""
        from sinter_spark.operators.ivf import train_centroids

        df = (
            spark.range(0, 5000, 1, 16)
            .selectExpr("array(cast(id as double), cast(id % 7 as double)) as embedding")
        )
        cents = train_centroids(df, n_clusters=4, sample_size=64, seed=1)
        assert cents.shape == (4, 2)


class TestJpegFmtMix:
    """VERDICT_r03 #1a: jpeg rows in the MEASURED synthetic mix."""

    def test_default_mix_unchanged(self):
        """The default draw must reproduce the original raw/png/qjpg
        thresholds bit-for-bit (cached fixtures stay valid)."""
        from sinter_spark.images.synth import DEFAULT_FMT_MIX, make_row, _digest
        import numpy as np

        for i in range(120):
            row = make_row(7, i)
            # recompute the original single-threshold fmt draw
            rng = np.random.Generator(np.random.PCG64(
                int.from_bytes(_digest("row", "7", str(i))[:8], "big")))
            from sinter_spark.images.synth import RATES
            for _ in RATES:
                rng.random()
            rng.uniform(np.log(16), np.log(64)); rng.uniform(np.log(16), np.log(64))
            r = rng.random()
            want = "raw" if r < 0.85 else ("png" if r < 0.97 else "qjpg")
            injected_bad_fmt = row["fmt"] == "webp"
            if not injected_bad_fmt:
                assert row["fmt"] == want, i
        assert [m[0] for m in DEFAULT_FMT_MIX] == ["raw", "png", "qjpg"]

    def test_jpeg_mix_share_and_clean_rows_pass_suite(self, spark):
        from sinter_spark.images import fmt_dim, validate_images_full
        from sinter_spark.images.synth import JPEG_FMT_MIX, generate_images

        df = generate_images(spark, 400, seed=11, fmt_mix=JPEG_FMT_MIX).cache()
        counts = dict(
            (r["fmt"], r["count"])
            for r in df.groupBy("fmt").count().collect()
        )
        # jpeg ~25% + progressive ~15%: together the crawl-realistic 40%
        assert 0.18 <= counts.get("jpeg", 0) / 400 <= 0.35
        assert 0.08 <= counts.get("pjpeg", 0) / 400 <= 0.22
        res = validate_images_full(df, fmt_dim(spark))
        viols = res.violations.collect()
        # injected violation rate is ~1%; clean jpeg rows must NOT be
        # flagged (q98 clears the 40 dB lossy floor)
        assert len({v["row_key"] for v in viols}) <= 0.05 * 400
        jpeg_ids = {r["image_id"] for r in df.where("fmt = 'jpeg'").collect()}
        jpeg_viols = [v for v in viols if v["row_key"] in jpeg_ids]
        # any jpeg violations must be injected kinds (corrupt payloads,
        # tampered phash/dims/caption), not systematic psnr failures
        for v in jpeg_viols:
            assert v["code"] != "psnr" or "decode" in (v["observed"] or ""), v
        df.unpersist()


class TestDroppedMassReuse:
    def test_audit_reads_persisted_annotation(self, spark):
        """VERDICT_r03 #7: with cache=True the dropped_mass audit must
        scan the SAME persisted size-annotated bucket table the join
        uses (InMemoryRelation in its plan) — not re-derive the
        signature subtree — and report the same numbers as before."""
        from sinter_spark.operators import dedup

        rows = [(i, "boilerplate text repeated everywhere in the corpus") for i in range(30)]
        rows += [(100 + i, f"unique document number {i} talking about topic {i}") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = dedup.minhash_lsh_candidates(df, max_bucket=10, cache=True)
        try:
            audit = pairs._sinter_dropped
            plan = audit._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan
            mass = dedup.dropped_mass(pairs)
            assert mass["n_buckets"] > 0 and mass["n_member_entries"] >= 30
            # uncached twin reports the same audit numbers
            pairs2 = dedup.minhash_lsh_candidates(df, max_bucket=10, cache=False)
            assert dedup.dropped_mass(pairs2) == mass
        finally:
            dedup.release_cache(pairs)

    def test_zero_drop_audit_unchanged(self, spark):
        from sinter_spark.operators import dedup

        df = spark.createDataFrame(
            [(i, f"unique document number {i} about topic {i}") for i in range(8)],
            "doc_id bigint, text string",
        )
        pairs = dedup.minhash_lsh_candidates(df, max_bucket=100, cache=True)
        try:
            assert dedup.dropped_mass(pairs) == {"n_buckets": 0, "n_member_entries": 0}
        finally:
            dedup.release_cache(pairs)


class TestStarOneActionPerRound:
    def test_star_actions_bounded_by_rounds(self, spark, monkeypatch):
        """VERDICT_r03 #4: the convergence probe is ONE signature
        aggregate per round (plus the initial signature) — no
        exceptAll set-ops, no extra actions."""
        from pyspark.sql.classic.dataframe import DataFrame as CDF

        from sinter_spark.operators import dedup

        calls = {"n": 0}
        orig_collect, orig_count = CDF.collect, CDF.count

        def counting_collect(self):
            calls["n"] += 1
            return orig_collect(self)

        def counting_count(self):
            calls["n"] += 1
            return orig_count(self)

        monkeypatch.setattr(CDF, "collect", counting_collect)
        monkeypatch.setattr(CDF, "count", counting_count)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(128)], "id_a bigint, id_b bigint"
        )
        dedup.connected_components(pairs, max_iter=15)
        n_actions = calls["n"]
        monkeypatch.undo()
        # ~log2(128) rounds + fixpoint round + the initial signature
        assert n_actions <= 12, n_actions


class TestExactStatsNoExpand:
    """Round-4 perf rewrite: exact column_stats over atomic columns must
    avoid Catalyst's multi-count_distinct Expand (×(N+1) row
    multiplication) while keeping count_distinct semantics exactly."""

    def test_plan_has_no_expand(self, spark, sf_dir):
        from sinter_spark.operators.stats import column_stats

        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plan = column_stats(
            df, ["l_quantity", "l_extendedprice", "l_linenumber"], approx=False
        )._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan

    def test_exact_semantics_vs_count_distinct(self, spark):
        """NaN and -0.0/0.0 normalization, nulls, all-null column, and a
        string column — each must match the count_distinct answer."""
        import math

        from pyspark.sql import functions as F

        from sinter_spark.operators.stats import column_stats

        df = spark.createDataFrame(
            [
                (1.0, "a", None),
                (-0.0, "b", None),
                (0.0, "a", None),
                (math.nan, None, None),
                (math.nan, "c", None),
                (None, "c", None),
            ],
            "x double, s string, dead double",
        )
        got = {r["column"]: r for r in column_stats(df, approx=False).collect()}
        want = df.agg(
            F.count_distinct("x"), F.count_distinct("s"), F.count_distinct("dead")
        ).collect()[0]
        assert got["x"]["n_distinct"] == want[0]  # {1.0, 0.0≡-0.0, NaN} = 3
        assert got["s"]["n_distinct"] == want[1]
        assert got["dead"]["n_distinct"] == want[2] == 0
        assert got["x"]["n_nulls"] == 1 and got["dead"]["n_nulls"] == 6
        assert got["s"]["min_value"] is None  # non-numeric: no min/max

    def test_non_atomic_falls_back_and_matches(self, spark):
        from sinter_spark.operators.stats import column_stats

        df = spark.createDataFrame(
            [([1, 2], 1.0), ([1, 2], 2.0), ([3], None)],
            "arr array<bigint>, x double",
        )
        got = {r["column"]: r for r in column_stats(df, approx=False).collect()}
        assert got["arr"]["n_distinct"] == 2
        assert got["x"]["n_distinct"] == 2 and got["x"]["n_nulls"] == 1


class TestIvfOracleTwin:
    """The ivf_topk_cosine DuckDB oracle rests on two equalities the
    fixture cannot check in SQL: (a) the content-deterministic sample
    mode of train_centroids reproduces the fixture's pyarrow-read
    centroids bit-exactly, (b) the per-row scalar assignment twin
    equals the batch Arrow matmul kernel on every vector."""

    def test_ordered_sample_centroids_bitexact(self, spark, sf_dir):
        from sinter_spark.lsh_fixtures import (
            IVF_N_CLUSTERS, IVF_SAMPLE, IVF_SEED, ivf_fixture_centroids,
        )
        from sinter_spark.operators import ivf

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = ivf.train_centroids(
            emb, n_clusters=IVF_N_CLUSTERS, sample_size=IVF_SAMPLE,
            sample_order_by="vec_id", seed=IVF_SEED,
        )
        fix = ivf_fixture_centroids(sf_dir)
        assert cents.shape == fix.shape
        assert np.array_equal(cents, fix)

    def test_scalar_assignment_equals_arrow_kernel(self, spark, sf_dir):
        from sinter_spark.lsh_fixtures import (
            ivf_assign_scalar, ivf_fixture_centroids,
        )
        from sinter_spark.operators import ivf

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = ivf_fixture_centroids(sf_dir)
        got = {
            r["vec_id"]: r["cluster_id"]
            for r in ivf.assign_clusters(emb, cents).select("vec_id", "cluster_id").collect()
        }
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
        rows = list(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))
        assert len(got) == len(rows)
        mismatches = [
            (v, got[v], ivf_assign_scalar(e, cents))
            for v, e in rows if got[v] != ivf_assign_scalar(e, cents)
        ]
        assert mismatches == []

    def test_ordered_sample_is_take_ordered_not_global_sort(self, spark, sf_dir):
        # the reproducible mode must plan as TakeOrdered (per-partition
        # top-n + driver merge), never a full global sort-exchange
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        plan = (
            emb.orderBy("vec_id").select("embedding").limit(50)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrdered" in plan
