"""Plan-shape pins for the round-2 dedup rewrites (VERDICT r1 items
1-3): signatures and banding must be shuffle-free row-local
projections (the signature kernels' own pin is
``test_dedup_arrow.py::test_arrow_kernels_zero_exchanges``), and the
LSH bucket table must be computed once (persisted) with no join.

These are the properties the 100 TB design depends on; a regression
(e.g. someone reintroducing explode+groupBy signatures) fails here
even while answers stay correct.
"""

import pytest
from pyspark.sql import functions as F

from sinter_spark import plans
from sinter_spark.operators import dedup


@pytest.fixture()
def docs(spark):
    rows = [(f"d{i}", f"some little document number {i} " * 3) for i in range(50)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_minhash_buckets_zero_exchanges(spark, docs):
    # banding is explode of a row-local array — still no shuffle
    b = dedup.minhash_buckets(docs, n_hashes=16, bands=4)
    assert plans.count_exchanges(b) == 0


def _assert_capped_bucket_plan(plan: str) -> None:
    """The round-6 single-pass concentration-proof capped shape
    (VERDICT_r04 #3 invariant, rebuilt without the round-5 broadcast
    anti-join):

    * join-free entirely — no join operator of any kind (round 5 still
      paid a broadcast LEFT ANTI + its build job);
    * the collect aggregate's state is bounded BEFORE aggregation: a
      window ``dense_rank`` over the bucket key ranks each key's
      distinct members through the spillable external sort and only
      ranks ≤ max_bucket enter ``collect_list`` (the same
      rank-before-collect pattern as ``exact_dup_groups``) — the tree
      prints parent-first, so the collect must appear above the window
      that feeds it;
    * ONE persisted bounded bucket table (audit + pair probe share
      it), never recomputing signatures.
    """
    assert "Join" not in plan
    assert "dense_rank" in plan
    assert "collect_list(CASE WHEN" in plan
    assert plan.index("collect_list") < plan.index("dense_rank")
    assert plan.count("InMemoryTableScan") == 1


def test_lsh_candidates_anti_join_prefiltered_collect(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs, n_hashes=16, bands=4)
    _assert_capped_bucket_plan(plans.physical_plan(cand))
    try:
        cand.count()  # materialize to keep the persist honest
    finally:
        spark.catalog.clearCache()


def test_lsh_candidates_capless_join_free_single_bucket_scan(spark, docs):
    # without a cap the v4 one-aggregate shape is kept: pairs explode
    # bucket-locally from ONE persisted aggregated bucket table — no
    # join operators at all, signature subtree never appears twice
    cand = dedup.minhash_lsh_candidates(
        docs, n_hashes=16, bands=4, max_bucket=None
    )
    plan = plans.physical_plan(cand)
    assert plan.count("InMemoryTableScan") == 1
    assert "Join" not in plan
    spark.catalog.clearCache()


def test_simhash_candidates_anti_join_prefiltered_collect(spark, docs):
    cand = dedup.simhash_near_pairs(docs)
    _assert_capped_bucket_plan(plans.physical_plan(cand))
    spark.catalog.clearCache()


def test_mega_bucket_cap_drops_degenerate_clusters(spark):
    # 500 identical docs land in identical buckets; with the cap the
    # candidate join must not blow up quadratically, and the audit view
    # reports the dropped mass
    rows = [(f"d{i}", "exactly the same boilerplate text") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    cand = dedup.minhash_lsh_candidates(df, n_hashes=16, bands=4, max_bucket=100)
    assert cand.count() == 0  # all buckets oversized -> dropped
    audit = dedup.oversized_buckets(
        dedup.minhash_buckets(df, n_hashes=16, bands=4), ["band", "bucket"], 100
    )
    assert audit.count() > 0
    assert audit.agg(F.max("n_members")).collect()[0][0] == 500
    spark.catalog.clearCache()
