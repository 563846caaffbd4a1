"""connected_components / near_dup_components / dedup_canonical:
graph-shape unit tests (chain diameter, multiple components, empty
graph), a property test against a union-find oracle, cache hygiene,
and the end-to-end keep-one-per-cluster property. The oracled
entries (near_dup_components_docs, dedup_canonical_docs) are covered
by the generic DuckDB gate in test_entry_oracle.py.
"""

import itertools
import warnings

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as CDF

from sinter_spark.operators import dedup
from sinter_spark.session import local_frame


def _cc(spark, edges, **kw):
    pairs = local_frame(spark, edges, "id_a bigint, id_b bigint")
    return {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs, **kw).collect()
    }


def union_find(edges):
    """(node, component) oracle: component = minimum node reachable."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # every root is its component's min
    return {(n, find(n)) for n in parent}


@st.composite
def pair_graphs(draw):
    """Disjoint cliques, paths of up to 200 nodes, stars and lone
    self-pairs under a random relabelling (so a component's minimum can
    sit anywhere in it), plus duplicated, reversed and self-pair copies
    of some of those edges; zero pieces is the empty graph."""
    edges, n_nodes = [], 0
    for kind in draw(st.lists(st.sampled_from(["clique", "path", "star", "self"]), max_size=4)):
        n = {"clique": (2, 6), "path": (2, 200), "star": (3, 30), "self": (1, 1)}[kind]
        n = draw(st.integers(*n))
        nodes = range(n_nodes, n_nodes + n)
        if kind == "clique":
            edges += list(itertools.combinations(nodes, 2))
        elif kind == "path":
            edges += list(zip(nodes, nodes[1:]))
        elif kind == "star":
            edges += [(nodes[0], v) for v in nodes[1:]]
        else:
            edges.append((nodes[0], nodes[0]))
        n_nodes += n
    if edges:
        for (a, b), how in draw(
            st.lists(st.tuples(st.sampled_from(edges), st.sampled_from(["dup", "rev", "self"])))
        ):
            edges.append({"dup": (a, b), "rev": (b, a), "self": (b, b)}[how])
    label = draw(st.permutations(range(n_nodes)))
    base = draw(st.sampled_from([0, 10**12]))
    return [(base + label[a], base + label[b]) for a, b in edges]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=pair_graphs())
@example(edges=[])
@example(edges=[(i, i + 1) for i in range(199)])
@example(edges=[(7, 7), (3, 3), (3, 5), (5, 3), (5, 3)])
def test_connected_components_equals_union_find(spark, edges):
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no fixpoint would raise
        got = _cc(spark, edges)
    assert got == union_find(edges)


def test_mixed_graph_equals_union_find(spark):
    rng = np.random.default_rng(17)
    # mixed shape: two cliques + a chain + singleton pairs
    edges = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]
        + [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
        + [(20 + i, 21 + i) for i in range(12)]
        + [(50, 51), (60, 61)]
        + [(int(a), int(b)) for a, b in rng.integers(100, 140, size=(30, 2)) if a != b]
    )
    assert _cc(spark, edges) == union_find(edges)


def test_rounds_leave_only_the_result_cached(spark, monkeypatch):
    """Every round's localCheckpoint is released explicitly (a frame's
    unpersist() does not reach it): after a run of 6+ rounds only the
    returned, materialized result stays persisted."""
    jsc = spark.sparkContext._jsc
    pairs = local_frame(spark, [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint")
    actions = {"n": 0}
    orig = CDF.collect

    def counting(self):
        actions["n"] += 1
        return orig(self)

    base = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(CDF, "collect", counting)
    out = dedup.connected_components(pairs)
    monkeypatch.undo()
    assert jsc.getPersistentRDDs().size() - base <= 1
    assert actions["n"] >= 7  # the initial signature + 6 or more rounds
    assert {(r["node"], r["component"]) for r in out.collect()} == {
        (i, 0) for i in range(64)
    }


def test_chain_converges_past_diameter(spark):
    # 1-2-3-4-5 chain: min label must propagate 4 hops
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}


def test_multiple_components_and_direction(spark):
    # labels flow against edge direction too (graph is undirected)
    got = _cc(spark, [(7, 2), (2, 9), (20, 30)])
    assert got == {(2, 2), (7, 2), (9, 2), (20, 20), (30, 20)}


def test_empty_pair_graph(spark):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = dedup.connected_components(pairs)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_round_plan_is_three_exchanges_and_no_join(spark):
    """Both halves of a round take their per-node minimum with a window,
    not a groupBy joined back: hash(u), hash(hi), then the distinct."""
    from sinter_spark.plans import count_exchanges, physical_plan

    edges = local_frame(spark, [(1, 2), (2, 3), (3, 4)], "lo bigint, hi bigint")
    rnd = dedup._star_round(edges)
    assert count_exchanges(rnd) == 3
    assert "Join" not in physical_plan(rnd)


def test_dedup_canonical_keeps_one_per_cluster(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
            (3, "alpha beta gamma delta epsilon zet"),  # near dup of 1
            (4, "completely unrelated content here xyz"),
        ],
        "doc_id bigint, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_canonical(df, exact=True).collect())
    assert kept == [1, 4]


def test_near_dup_components_lsh_path_matches_exact(spark, sf_dir):
    """With candidate verification, the scale path equals the exact
    path whenever banding recall is full (it is on this table):
    verified candidates ⊆ exact J≥0.5 pairs by construction, and the
    (64,16) banding catches every exact pair here."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact_nodes = {
        r["node"] for r in dedup.near_dup_components(docs, exact=True).collect()
    }
    lsh_nodes = {r["node"] for r in dedup.near_dup_components(docs).collect()}
    assert lsh_nodes == exact_nodes


def test_verify_jaccard_equals_exact_oracle(spark, sf_dir):
    """verify_jaccard_pairs over ALL-PAIRS candidates must equal the
    shingle-join oracle jaccard_pairs exactly — same similarity
    definition, same rounding."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80).cache()
    ids = docs.select("doc_id")
    allpairs = (
        ids.withColumnRenamed("doc_id", "id_a")
        .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
        .where(F.col("id_a") < F.col("id_b"))
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.verify_jaccard_pairs(docs, allpairs, threshold=0.2).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert got == want and len(want) > 0
    docs.unpersist()


def test_lsh_threshold_is_honored(spark):
    """regression: threshold used to be silently dropped on the LSH
    path — raw banding candidates (J ≳ 0.5) became cluster edges even
    when the caller asked for 0.9, over-merging and DELETING docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                  # J = 1.0 with 1
            (3, base + " lambda mu nu xi omicron pi"),  # moderate J vs 1
            (4, "unrelated content entirely different"),
        ],
        "doc_id bigint, text string",
    )
    strict = {
        frozenset((r["node"], r["component"]))
        for r in dedup.near_dup_components(df, threshold=0.95).collect()
        if r["node"] != r["component"]
    }
    loose_kept = sorted(
        r["doc_id"] for r in dedup.dedup_canonical(df, threshold=0.5).collect()
    )
    assert strict == {frozenset((1, 2))}   # doc 3 not merged at 0.95
    assert loose_kept == [1, 4] or loose_kept == [1, 3, 4]
    spark.catalog.clearCache()
