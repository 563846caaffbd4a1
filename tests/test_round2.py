"""Round-2 regression tests: shuffle-free signatures, mega-bucket cap,
null-element semantics, nested coercion, datetime strictness,
referential null keys, derived checkpoint buckets."""

import time

import pytest
from pyspark.sql import functions as F

from sinter_spark import Schema, validate
from sinter_spark.binding import bind
from sinter_spark.operators import dedup, referential, similarity
from sinter_spark.types import coerce_value, validate_value


# ---------------------------------------------------------------------------
# dedup: signature plan shape
# ---------------------------------------------------------------------------


def test_minhash_signature_plan_is_shuffle_free(spark, sf_dir):
    """The signature COMPUTATION is a pure projection: no aggregation
    shuffle anywhere. (A tiny single-file scan gets one widen
    repartition from widen_small_scan — since round 6 keyed on
    xxhash64(row) rather than round-robin, which would pay a local
    sort — that's input widening, not a computation shuffle, and
    disappears on any real-scale table.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    for q in (dedup.minhash_signatures_arrow(docs), dedup.simhash_arrow(docs)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        # the only partitioning allowed is the widen's content-hash key
        # — never a grouping key like doc_id (that would mean an
        # explode+groupBy signature shape crept back in)
        assert plan.count("hashpartitioning") == plan.count(
            "hashpartitioning(xxhash64"
        )
        assert "HashAggregate" not in plan
    # non-file input: zero exchanges of any kind
    mem = spark.createDataFrame([("a", "hello world abcdef")], "doc_id string, text string")
    for q in (dedup.minhash_signatures_arrow(mem), dedup.simhash_arrow(mem)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_mega_bucket_cap_adversarial(spark):
    """10k identical docs: every LSH bucket is one 10k-member mega
    bucket → uncapped join would generate ~50M pairs per band. The cap
    drops them (exact dedup owns identical docs) in near-linear time."""
    n = 10_000
    df = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("same boilerplate text repeated everywhere forever").alias("text"),
    )
    t0 = time.time()
    cands = dedup.minhash_lsh_candidates(df, max_bucket=1000, cache=False).count()
    took = time.time() - t0
    assert cands == 0  # all buckets oversized → dropped
    assert took < 60
    # the audit view reports the dropped mass
    buckets = dedup.minhash_buckets(df)
    over = dedup.oversized_buckets(buckets, ["band", "bucket"], 1000).collect()
    assert len(over) == 16  # one mega bucket per band
    assert all(r["n_members"] == n for r in over)
    # exact dedup still catches the cluster, with bounded doc_ids
    groups = dedup.exact_dup_groups(df, max_ids=50).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == n
    assert len(groups[0]["doc_ids"]) == 50


def test_exact_dup_groups_bounded_ids(spark):
    df = spark.createDataFrame(
        [("a", "x x"), ("b", "x x"), ("c", "x x"), ("d", "unique")],
        "doc_id string, text string",
    )
    rows = dedup.exact_dup_groups(df, max_ids=2).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 3
    assert rows[0]["doc_ids"] == ["a", "b"]  # sorted, capped


def test_lsh_counts_unchanged_with_cap(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    capped = dedup.minhash_lsh_candidates(docs).count()
    uncapped = dedup.minhash_lsh_candidates(docs, max_bucket=None, cache=False).count()
    assert capped == uncapped  # no real bucket anywhere near the cap


# ---------------------------------------------------------------------------
# referential: null fact keys are not orphans
# ---------------------------------------------------------------------------


def test_orphans_ignore_null_fact_keys(spark):
    fact = spark.createDataFrame(
        [("r1", "u1"), ("r2", None), ("r3", "ghost")], "rid string, user_id string"
    )
    dim = spark.createDataFrame([("u1",), ("u2",)], "user_id string")
    got = referential.orphans(fact, dim, "user_id").collect()
    assert [r["rid"] for r in got] == ["r3"]  # null key row excluded


# ---------------------------------------------------------------------------
# null elements inside present arrays/maps: both grains agree
# ---------------------------------------------------------------------------


def test_null_array_element_violates_both_grains(spark):
    schema = Schema.define([("tags", ("array", "string"), {})])
    # driver grain
    ok, _, errs = validate(schema, {"tags": ["a", None, "b"]})
    assert not ok
    assert (errs[0].path, errs[0].code) == (("tags", "1"), "type")
    assert "nil" in errs[0].message
    # table grain
    df = spark.createDataFrame([("r1", ["a", None, "b"]), ("r2", ["x"])],
                               "__id string, tags array<string>")
    res = bind(schema, df, row_key="__id")
    v = [(r["row_key"], tuple(r["path"]), r["code"], r["message"]) for r in res.violations.collect()]
    assert v == [("r1", ("tags", "1"), "type", "expected string, got nil")]


def test_nullable_element_spec_allows_null_both_grains(spark):
    schema = Schema.define([("vals", ("array", ("nullable", "integer")), {})])
    ok, _, errs = validate(schema, {"vals": [1, None, 3]})
    assert ok
    df = spark.createDataFrame([("r1", [1, None, 3])], "__id string, vals array<long>")
    res = bind(schema, df, row_key="__id")
    assert res.violations.count() == 0


def test_null_map_value_violates(spark):
    schema = Schema.define([("m", ("map", "string", "integer"), {})])
    df = spark.createDataFrame(
        [("r1", {"a": 1, "b": None})], "__id string, m map<string,long>"
    )
    res = bind(schema, df, row_key="__id")
    v = [(tuple(r["path"]), r["code"]) for r in res.violations.collect()]
    assert v == [(("m", "b"), "type")]


def test_null_element_coercion_both_grains(spark):
    """Under coerce, a nil element is a :coercion error (types.ex:437)."""
    schema = Schema.define([("nums", ("array", "integer"), {})])
    ok, _, errs = validate(schema, {"nums": ["1", None]}, coerce=True)
    assert not ok
    assert (errs[0].path, errs[0].code) == (("nums", "1"), "coercion")
    assert "nil" in errs[0].message
    df = spark.createDataFrame([("r1", ["1", None])], "__id string, nums array<string>")
    res = bind(schema, df, row_key="__id", coerce=True)
    v = [(tuple(r["path"]), r["code"], r["message"]) for r in res.violations.collect()]
    assert v == [(("nums", "1"), "coercion", "cannot coerce 'nil' to integer")]


def test_constraints_short_circuit_on_type_failure(spark):
    """Reference with-chain: a failed type stage suppresses constraint
    checks (no max_items noise on an array with bad elements)."""
    schema = Schema.define([("tags", ("array", "string"), {"max_items": 2})])
    data = {"tags": [None, None, None]}
    ok, _, errs = validate(schema, data)
    codes_driver = sorted(e.code for e in errs)
    df = spark.createDataFrame([("r1", [None, None, None])], "__id string, tags array<string>")
    res = bind(schema, df, row_key="__id")
    codes_table = sorted(r["code"] for r in res.violations.collect())
    assert codes_driver == codes_table == ["type", "type", "type"]


# ---------------------------------------------------------------------------
# nested object coercion (nullable/array wrappers)
# ---------------------------------------------------------------------------


def test_nullable_object_nested_coercion():
    inner = Schema.define([("n", "integer", {})])
    schema = Schema.define([("obj", ("nullable", ("object", inner)), {"optional": True})])
    ok, out, errs = validate(schema, {"obj": {"n": "42"}}, coerce=True)
    assert ok and out["obj"]["n"] == 42
    ok2, out2, _ = validate(schema, {"obj": None}, coerce=True)
    assert ok2 and out2["obj"] is None
    ok3, _, errs3 = validate(schema, {"obj": {"n": "x"}}, coerce=True)
    assert not ok3 and errs3[0].code == "coercion"


def test_array_of_object_nested_coercion():
    inner = Schema.define([("n", "integer", {})])
    spec = ("array", ("object", inner))
    ok, out, _ = coerce_value(spec, [{"n": "1"}, {"n": "2"}])
    assert ok and [d["n"] for d in out] == [1, 2]
    ok2, _, errs2 = coerce_value(spec, [{"n": "1"}, {"n": "bad"}])
    assert not ok2
    assert errs2[0].path == ("1", "n")
    assert errs2[0].code == "coercion"


# ---------------------------------------------------------------------------
# date/datetime strictness: driver ≡ binding ≡ reference
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "val,ok",
    [
        ("2023-01-01T10:00:00", True),
        ("2023-01-01 10:00:00", True),
        ("2023-01-01T10:00:00Z", True),
        ("2023-01-01T10:00:00+05:30", True),
        ("2023-01-01T10:00:00.123", True),
        ("2023-01-01", False),  # date-only: NaiveDateTime.from_iso8601 rejects
        ("2023-1-1", False),
        ("20230101T100000", False),
        ("2023-01-01T10:00", False),  # seconds required
    ],
)
def test_datetime_strictness_driver(val, ok):
    got, _, _ = validate_value("datetime", val)
    assert got is ok


@pytest.mark.parametrize("val,ok", [("2023-01-01", True), ("20230101", False), ("2023-1-1", False)])
def test_date_strictness_driver(val, ok):
    got, _, _ = validate_value("date", val)
    assert got is ok


def test_datetime_strictness_table_grain(spark):
    schema = Schema.define([("ts", "datetime", {})])
    vals = ["2023-01-01T10:00:00", "2023-01-01", "2023-1-1", "2023-01-01 10:00:00"]
    df = spark.createDataFrame([(str(i), v) for i, v in enumerate(vals)], "__id string, ts string")
    res = bind(schema, df, row_key="__id")
    bad = sorted(r["row_key"] for r in res.violations.collect())
    driver_bad = sorted(
        str(i) for i, v in enumerate(vals) if not validate_value("datetime", v)[0]
    )
    assert bad == driver_bad == ["1", "2"]


# ---------------------------------------------------------------------------
# checkpoint: buckets derived from row_key, never -1
# ---------------------------------------------------------------------------


def test_checkpoint_buckets_always_valid(spark, tmp_path):
    from sinter_spark.checkpoint import CheckpointStore, read_violations, run_checkpointed

    df = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") % 7).alias("v"),
    )
    schema = Schema.define([("key", "string", {}), ("v", "integer", {"lt": 5})])

    def pass_fn(sub):
        return bind(schema, sub, row_key="key").violations

    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_id = run_checkpointed(df, pass_fn, store, run_id="rv", key_col="key", n_buckets=8, buckets_per_job=4)
    viol = read_violations(store, run_id)
    assert viol.where(F.col("ckpt_bucket") < 0).count() == 0
    assert viol.count() == pass_fn(df).count()
    # state metrics: rows sum to table size, violations sum matches
    m = store.metrics(run_id).agg(F.sum("rows").alias("r"), F.sum("violations").alias("v")).collect()[0]
    assert m["r"] == 200
    assert m["v"] == viol.count()


# ---------------------------------------------------------------------------
# rp_lsh: cap + persist path still superset-correct on real embeddings
# ---------------------------------------------------------------------------


def test_rp_lsh_cap_keeps_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_self_pairs(emb, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.rp_lsh_near_pairs(
            emb, dim=dim, threshold=0.95, n_planes=16, bands=8
        ).collect()
    }
    assert approx.issubset(exact) or not exact


# ---------------------------------------------------------------------------
# drift.histogram: the min/max pre-pass is opt-in, never silent
# ---------------------------------------------------------------------------


def test_histogram_requires_bounds_or_explicit_auto_range(spark):
    from sinter_spark.operators.drift import histogram

    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="auto_range"):
        histogram(df, "x", bins=4)
    # explicit bounds: one scan, counts land in the right bins
    h = {r["bin"]: r["count"] for r in histogram(df, "x", bins=4, lo=0.0, hi=100.0).collect()}
    assert sum(h.values()) == 100 and h[0] == 25
    # opted-in auto range: same totals
    h2 = {r["bin"]: r["count"] for r in histogram(df, "x", bins=4, auto_range=True).collect()}
    assert sum(h2.values()) == 100
