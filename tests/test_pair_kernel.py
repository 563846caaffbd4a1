"""The shared (a < b) pair expansion every LSH candidate path uses:
``dedup._pair_explode_kernel`` (the Arrow kernel) and
``dedup.grouped_bucket_pairs`` (bucket aggregate + cap + kernel),
checked against a naive ``itertools.combinations`` reference.

Kernel edges: all three pair modes (plain, struct payload, weighted),
chunk sizes small enough that buckets straddle and exceed a chunk,
null and empty member arrays, sliced and empty Arrow batches."""

import functools
from collections import Counter
from itertools import combinations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sinter_spark.operators import dedup

_STRUCT = pa.struct([("i", pa.int64()), ("v", pa.int64())])


def _batch(members, weights=None, is_struct=False):
    """One input batch: ``_ids`` = member arrays (None = null array),
    plus ``_w`` when weighted. Struct members carry payload v = 10·i."""
    if is_struct:
        ids = pa.array(
            [None if m is None else [{"i": x, "v": 10 * x} for x in m] for m in members],
            type=pa.list_(_STRUCT),
        )
    else:
        ids = pa.array(members, type=pa.list_(pa.int64()))
    cols, names = [ids], ["_ids"]
    if weights is not None:
        cols.append(pa.array(weights, type=pa.int64()))
        names.append("_w")
    return pa.RecordBatch.from_arrays(cols, names=names)


def _run(batches, *, has_weight, is_struct, chunk):
    kernel = dedup._pair_explode_kernel(
        has_weight=has_weight, is_struct=is_struct, max_pairs_per_chunk=chunk
    )
    out = list(kernel(iter(batches)))
    rows = [r for b in out for r in zip(*(c.to_pylist() for c in b.columns))]
    return out, rows


def _ref(members, weights=None, is_struct=False):
    """Row-major (a < b) pairs in member order, as the kernel emits them."""
    rows = []
    for r, m in enumerate(members):
        for a, b in combinations(m or [], 2):
            row = (a, b, 10 * a, 10 * b) if is_struct else (a, b)
            rows.append(row + ((weights[r],) if weights is not None else ()))
    return rows


_members = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.integers(-50, 50), unique=True, max_size=9).map(sorted),
    ),
    max_size=12,
)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    members=_members,
    mode=st.sampled_from(["plain", "struct", "weighted"]),
    chunk=st.sampled_from([1, 2, 3, 7, 1 << 20]),
    cut=st.tuples(st.integers(0, 12), st.integers(0, 12)),
)
# null, empty and singleton arrays only: no pairs and no empty batches
@example(members=[None, [], [7], None], mode="plain", chunk=4, cut=(1, 3))
def test_kernel_matches_combinations(members, mode, chunk, cut):
    weights = [3 * r + 1 for r in range(len(members))] if mode == "weighted" else None
    is_struct = mode == "struct"
    batch = _batch(members, weights, is_struct)
    lo = min(cut[0], len(members))
    hi = max(lo, min(cut[1], len(members)))
    # the whole batch, a slice of it (offset into the list buffers), and
    # an empty batch between them
    sl = batch.slice(lo, hi - lo)
    out, got = _run(
        [batch, batch.slice(0, 0), sl],
        has_weight=weights is not None, is_struct=is_struct, chunk=chunk,
    )
    want = _ref(members, weights, is_struct) + _ref(
        members[lo:hi], weights[lo:hi] if weights else None, is_struct
    )
    assert got == want
    names = ["id_a", "id_b"] + (["va", "vb"] if is_struct else []) + (
        ["_w"] if weights is not None else []
    )
    for b in out:
        assert b.schema.names == names
        assert b.num_rows > 0
        # a chunk only exceeds the bound when one bucket alone does
        if b.num_rows > chunk:
            assert b.num_rows in {len(m) * (len(m) - 1) // 2 for m in members if m}


def test_kernel_chunks_straddle_and_exceed():
    # 6 + 3 + 10 + 0 + 1 pairs; chunk 5 → [6] alone (exceeds), [3], [10]
    # alone (exceeds), [0, 1]
    members = [[1, 2, 3, 4], [5, 6, 7], [10, 11, 12, 13, 14], [], [20, 21]]
    out, got = _run([_batch(members)], has_weight=False, is_struct=False, chunk=5)
    assert got == _ref(members)
    assert [b.num_rows for b in out] == [6, 3, 10, 1]


# ---------------------------------------------------------------------------
# grouped_bucket_pairs: bucket aggregate + cap + kernel vs a naive reference
# ---------------------------------------------------------------------------


def _raw_rows():
    """(key, id, payload) with duplicate memberships, a singleton bucket,
    and two buckets with identical member sets (distinct_sets/weighted
    collapse them)."""
    buckets = {
        0: [1, 2, 3, 3, 2],
        1: [1, 2, 3],
        2: [4, 5, 6, 7, 8, 9],  # above the cap of 5
        3: [10],
        4: [11, 12, 4, 11],
        5: list(range(30, 40)),  # above the cap of 5
    }
    return [(k, i, 100 * i) for k, ids in buckets.items() for i in ids]


def _ref_grouped(rows, cap, mode, with_payload):
    sets = {}
    for k, i, _ in rows:
        sets.setdefault(k, set()).add(i)
    kept = {k: tuple(sorted(s)) for k, s in sets.items() if cap is None or len(s) <= cap}
    audit = sorted((k, len(s)) for k, s in sets.items() if cap is not None and len(s) > cap)
    per_set = Counter(kept.values())
    if mode == "bucket":
        groups = [(m, None) for m in kept.values()]
    elif mode == "distinct_sets":
        groups = [(m, None) for m in per_set]
    else:
        groups = list(per_set.items())
    pairs = Counter()
    for m, w in groups:
        for a, b in combinations(m, 2):
            row = (a, b) + ((100 * a, 100 * b) if with_payload else ())
            pairs[row + ((w,) if w is not None else ())] += 1
    return pairs, audit


@pytest.mark.parametrize("chunk", [None, 2])
@pytest.mark.parametrize("cap", [None, 5])
@pytest.mark.parametrize("mode", ["bucket", "distinct_sets", "weighted"])
@pytest.mark.parametrize("with_payload", [False, True])
def test_grouped_bucket_pairs_matches_reference(
    spark, monkeypatch, chunk, cap, mode, with_payload
):
    if chunk is not None:
        monkeypatch.setattr(
            dedup,
            "_pair_explode_kernel",
            functools.partial(dedup._pair_explode_kernel, max_pairs_per_chunk=chunk),
        )
    rows = _raw_rows()
    raw = spark.createDataFrame(rows, "key int, id bigint, p bigint").repartition(3)
    pairs, audit, handle = dedup.grouped_bucket_pairs(
        raw, ["key"], "id", cap, cache=True,
        extra_col="p" if with_payload else None, pair_mode=mode,
    )
    try:
        got = Counter(tuple(r) for r in pairs.collect())
        want, want_audit = _ref_grouped(rows, cap, mode, with_payload)
        assert got == want
        if cap is None:
            assert audit is None
        else:
            assert sorted(tuple(r) for r in audit.collect()) == want_audit
    finally:
        if handle is not None:
            handle.unpersist()
