"""Round-3 regression tests: VERDICT_r02 'Next round' items and
ADVICE_r02 defects.

- merge_schemas hook precedence now reference-exact (sinter.ex:584:
  post_validate = FIRST non-nil; pre_validate not merged).
- near_dup_components releases the LSH bucket cache (no per-call
  MEMORY_AND_DISK leak).
- connected_components: exactly ONE action per round (convergence read
  from the same persisted table) and a RuntimeWarning on max_iter
  exhaustion instead of a silent split-component result.
- widen_small_scan is a no-op on streaming DataFrames.
- ivf.train_centroids runs no full-table count() job.
- mega-bucket cap: dropped mass is reportable (no silent caps) on
  every composed candidate-pair path.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.classic.dataframe import DataFrame  # concrete class: monkeypatching
# pyspark.sql.DataFrame is the abstract facade in PySpark 4 — patching
# it never intercepts method calls on real (classic) DataFrames

from sinter_spark.operators import dedup


class TestMergeHookPrecedence:
    def test_post_validate_first_non_nil_wins(self):
        from sinter_spark.schema import Schema, merge_schemas

        first = lambda d: True  # noqa: E731
        second = lambda d: False  # noqa: E731
        a = Schema.define([("x", "integer")], post_validate=first)
        b = Schema.define([("y", "string")], post_validate=second)
        m = merge_schemas([a, b])
        assert m.config.post_validate is first  # sinter.ex find_first_non_nil
        # fields still later-wins (unchanged)
        m2 = merge_schemas([b, a])
        assert m2.config.post_validate is second

    def test_pre_validate_not_merged(self):
        from sinter_spark.schema import Schema, merge_schemas

        hook = lambda d: d  # noqa: E731
        a = Schema.define([("x", "integer")], pre_validate=hook)
        m = merge_schemas([a, Schema.define([("y", "string")])])
        assert m.config.pre_validate is None  # reference merges only post_validate
        # explicit opts still win
        m3 = merge_schemas([a], pre_validate=hook)
        assert m3.config.pre_validate is hook


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class TestCacheAndComponents:
    def test_near_dup_components_releases_bucket_cache(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
        base = _n_persistent(spark)
        cc = dedup.near_dup_components(docs)
        cc.count()
        # the returned label table stays persisted (callers consume it);
        # the LSH bucket cache must NOT remain — before the fix every
        # call leaked one extra MEMORY_AND_DISK table
        assert _n_persistent(spark) - base <= 1

    def test_connected_components_one_action_per_round(self, spark, monkeypatch):
        calls = {"n": 0}
        orig = DataFrame.count

        def counting(self):
            calls["n"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "count", counting)
        # triangle: converges after round 2 (round 1 relabels, round 2 confirms)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "id_a bigint, id_b bigint"
        )
        labels = dedup.connected_components(pairs)
        n_actions = calls["n"]
        monkeypatch.undo()
        assert n_actions == 2  # one count per round, nothing else
        got = {r["node"]: r["component"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_connected_components_warns_on_max_iter(self, spark):
        # a 6-node path graph needs ~5 rounds; max_iter=2 cannot converge
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "id_a bigint, id_b bigint"
        )
        with pytest.warns(RuntimeWarning, match="no fixpoint"):
            dedup.connected_components(pairs, max_iter=2)

    def test_connected_components_converged_result_unchanged(self, spark):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "id_a bigint, id_b bigint"
        )
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {i: 1 for i in range(1, 7)}


class TestStarComponents:
    def _labels(self, df):
        return {r["node"]: r["component"] for r in df.collect()}

    def test_star_equals_label_prop_on_mixed_graph(self, spark):
        rng = np.random.default_rng(17)
        # mixed shape: two cliques + a chain + singleton pairs
        edges = (
            [(i, j) for i in range(5) for j in range(i + 1, 5)]
            + [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
            + [(20 + i, 21 + i) for i in range(12)]
            + [(50, 51), (60, 61)]
            + [(int(a), int(b)) for a, b in rng.integers(100, 140, size=(30, 2)) if a != b]
        )
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        star = self._labels(dedup.connected_components_star(pairs))
        prop = self._labels(dedup.connected_components(pairs, max_iter=50))
        assert star == prop

    def test_star_self_pairs_match_label_prop_singletons(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (7, 7), (9, 9)], "id_a bigint, id_b bigint"
        )
        star = self._labels(dedup.connected_components_star(pairs))
        prop = self._labels(dedup.connected_components(pairs))
        assert star == prop == {1: 1, 2: 1, 7: 7, 9: 9}

    def test_star_converges_on_long_chain_where_label_prop_cannot(self, spark):
        """A 64-node path: label propagation needs ~63 rounds; the
        star rounds need O(log n) — the documented scale upgrade."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], "id_a bigint, id_b bigint"
        )
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)  # no-fixpoint would raise
            labels = self._labels(
                dedup.connected_components_star(pairs, max_iter=12)
            )
        assert labels == {i: 0 for i in range(65)}

    def test_star_round_count_is_logarithmic(self, spark, monkeypatch):
        calls = {"n": 0}
        orig = DataFrame.count

        def counting(self):
            calls["n"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "count", counting)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(128)], "id_a bigint, id_b bigint"
        )
        dedup.connected_components_star(pairs, max_iter=15)
        n_actions = calls["n"]
        monkeypatch.undo()
        assert n_actions <= 10  # one count per round; ~log2(128)+fixpoint


class TestStreamingWiden:
    def test_widen_small_scan_noop_on_stream(self, spark):
        from sinter_spark.plans import widen_small_scan

        stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        out = widen_small_scan(stream)
        assert out is stream  # untouched, no df.rdd access, no exception


class TestIvfTraining:
    def test_train_centroids_runs_no_count_job(self, spark, monkeypatch):
        from sinter_spark.operators import ivf

        def boom(self):
            raise AssertionError("train_centroids must not run a count() job")

        monkeypatch.setattr(DataFrame, "count", boom)
        rng = np.random.default_rng(3)
        df = spark.createDataFrame(
            [(i, rng.standard_normal(8).tolist()) for i in range(64)],
            "vec_id bigint, embedding array<double>",
        )
        cents = ivf.train_centroids(df, n_clusters=4, sample_size=64)
        assert cents.shape == (4, 8)


class TestDroppedMassReporting:
    def test_minhash_cap_drop_reported(self, spark):
        # adversarial corpus: many identical docs land in one bucket per
        # band; the cap drops them all — the loss must be reportable
        docs = spark.createDataFrame(
            [(i, "the same boilerplate text repeated everywhere") for i in range(500)],
            "doc_id bigint, text string",
        )
        pairs = dedup.minhash_lsh_candidates(docs, max_bucket=100, cache=False)
        assert pairs.count() == 0  # every bucket oversized -> dropped
        mass = dedup.dropped_mass(pairs)
        assert mass["n_buckets"] == 16  # one mega-bucket per band
        assert mass["n_member_entries"] == 16 * 500
        # and exact dedup still owns those members (the documented recall story)
        assert dedup.exact_dup_groups(docs).count() == 1

    def test_simhash_cap_drop_reported(self, spark):
        docs = spark.createDataFrame(
            [(i, "identical tokens for every single row") for i in range(300)],
            "doc_id bigint, text string",
        )
        pairs = dedup.simhash_near_pairs(docs, max_bucket=50, cache=False)
        assert pairs.count() == 0
        mass = dedup.dropped_mass(pairs)
        assert mass["n_buckets"] == 4 and mass["n_member_entries"] == 4 * 300

    def test_no_drop_reports_zero(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
        pairs = dedup.minhash_lsh_candidates(docs, cache=False)
        pairs.count()
        assert dedup.dropped_mass(pairs) == {"n_buckets": 0, "n_member_entries": 0}

    def test_uncapped_has_no_audit(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        pairs = dedup.minhash_lsh_candidates(docs, max_bucket=None, cache=False)
        assert dedup.dropped_mass(pairs) == {"n_buckets": 0, "n_member_entries": 0}

    def test_batch_topk_equals_per_query_topk(self, spark, sf_dir):
        """The pruned Arrow matmul path must return EXACTLY the union of
        per-query ``cosine_topk`` (the JVM ``cosine()`` expression) —
        including rounded boundary ties, which the per-batch pruning
        slack must never lose."""
        from sinter_spark.operators.similarity import cosine_topk, cosine_topk_batch

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(8)
        qs = (
            emb.orderBy("vec_id")
            .limit(4)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        got = sorted(
            tuple(r) for r in cosine_topk_batch(emb, qs, k=7, round_to=5).collect()
        )
        want = sorted(
            (q["query_id"], r["vec_id"], r["cos_sim"])
            for q in qs.collect()
            for r in cosine_topk(emb, list(q["embedding"]), k=7, round_to=5).collect()
        )
        assert got == want
        assert len(got) == 4 * 7

    def test_batch_topk_bounds(self, spark):
        from sinter_spark.operators.similarity import cosine_topk_batch

        rng = np.random.default_rng(5)
        emb = spark.createDataFrame(
            [(i, rng.standard_normal(4).tolist()) for i in range(20)],
            "vec_id bigint, embedding array<double>",
        )
        qs = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        with pytest.raises(ValueError, match="max_queries"):
            cosine_topk_batch(emb, qs, max_queries=5)
        with pytest.raises(ValueError, match="empty"):
            cosine_topk_batch(emb, qs.where("query_id < 0"))

    def test_batch_topk_plan_shape(self, spark, sf_dir):
        """Scale hygiene: one MapInArrow matmul pass, candidates only
        shuffle ONCE (the per-query window; the widen repartition fires
        only on under-split test scans), and Catalyst adds its own
        partial WindowGroupLimit so even the candidate shuffle is
        map-side top-k-pruned."""
        from sinter_spark.operators.similarity import cosine_topk_batch

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = (
            emb.orderBy("vec_id")
            .limit(3)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        plan = (
            cosine_topk_batch(emb, qs, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") <= 2
        assert "MapInArrow" in plan
        assert "WindowGroupLimit" in plan

    def test_ivf_topk_batch_equals_per_query_loop(self, spark, sf_dir):
        """Batched IVF ANN ≡ one ivf_topk job per query (same probe
        sets, same candidate restriction, same ranking)."""
        from sinter_spark.operators import ivf

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(6)
        cents = ivf.train_centroids(emb, n_clusters=8, seed=7)
        qrows = emb.orderBy("vec_id").limit(3).collect()
        qs = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in qrows],
            "query_id bigint, embedding array<double>",
        )
        batch = ivf.ivf_topk_batch(emb, cents, qs, k=5, n_probe=3, round_to=5)
        got = {
            (r["query_id"], r["vec_id"], r["cos_sim"]) for r in batch.collect()
        }
        want = set()
        for r in qrows:
            one = ivf.ivf_topk(
                emb, cents, [float(x) for x in r["embedding"]],
                k=5, n_probe=3, round_to=5,
            )
            want |= {(r["vec_id"], x["vec_id"], x["cos_sim"]) for x in one.collect()}
        assert got == want and len(got) == 15

    def test_rp_lsh_drop_reported(self, spark):
        from sinter_spark.operators.similarity import rp_lsh_near_pairs

        # identical vectors -> identical signature -> every block shared
        df = spark.createDataFrame(
            [(i, [1.0, 0.5, -0.25, 0.75]) for i in range(200)],
            "vec_id bigint, embedding array<double>",
        )
        pairs = rp_lsh_near_pairs(df, dim=4, max_bucket=50, cache=False)
        assert pairs.count() == 0
        mass = dedup.dropped_mass(pairs)
        assert mass["n_buckets"] == 4 and mass["n_member_entries"] == 4 * 200
