"""The shared (a < b) pair expansion every LSH candidate path uses:
``dedup._pair_explode_kernel`` (the Arrow kernel) and
``dedup.grouped_bucket_pairs`` (bucket aggregate + cap + kernel),
checked against a naive ``itertools.combinations`` reference.

The kernel's contract is what its callers consume: without weights,
the set of (a < b) pairs (the caller applies ``.distinct()``); with
weights, the exact Σ``_w`` per pair (the caller sums it). Each output
batch carries a pair at most once.

Kernel edges: both pair modes, plain and struct-payload members,
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


def _payload(x, r):
    """Payload of struct member ``x`` in row ``r``. It depends on the
    row's parity, so one id meets the kernel with two payloads."""
    return 10 * x + r % 2


def _batch(members, weights=None, is_struct=False):
    """One input batch: ``_ids`` = member arrays (None = null array),
    plus ``_w`` when weighted."""
    if is_struct:
        ids = pa.array(
            [
                None if m is None
                else [{"i": x, "v": _payload(x, r)} for x in m]
                for r, m in enumerate(members)
            ],
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
    per_batch = [list(zip(*(c.to_pylist() for c in b.columns))) for b in out]
    return out, per_batch


def _ref(members, weights=None, is_struct=False):
    """Σ weight per distinct pair row (weight 1 without weights)."""
    sums = Counter()
    for r, m in enumerate(members):
        for a, b in combinations(m or [], 2):
            row = (a, b) + ((_payload(a, r), _payload(b, r)) if is_struct else ())
            sums[row] += weights[r] if weights is not None else 1
    return sums


def _consumed(per_batch, has_weight):
    """What the caller computes: the pair set, or Σ``_w`` per pair."""
    sums = Counter()
    for rows in per_batch:
        for row in rows:
            sums[row[:-1] if has_weight else row] += row[-1] if has_weight else 1
    return sums if has_weight else set(sums)


def _assert_combined(per_batch, has_weight):
    for rows in per_batch:
        keys = [row[:-1] if has_weight else row for row in rows]
        assert len(keys) == len(set(keys))


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
    is_struct=st.booleans(),
    has_weight=st.booleans(),
    chunk=st.sampled_from([1, 2, 3, 7, 1 << 20]),
    cut=st.tuples(st.integers(0, 12), st.integers(0, 12)),
)
# null, empty and singleton arrays only: no pairs and no empty batches
@example(members=[None, [], [7], None], is_struct=False, has_weight=False,
         chunk=4, cut=(1, 3))
# one id with two payloads (rows 0 and 1), and a repeated set
@example(members=[[1, 2], [1, 2], [1, 2]], is_struct=True, has_weight=True,
         chunk=1 << 20, cut=(0, 3))
def test_kernel_matches_combinations(members, is_struct, has_weight, chunk, cut):
    weights = [3 * r + 1 for r in range(len(members))] if has_weight else None
    batch = _batch(members, weights, is_struct)
    lo = min(cut[0], len(members))
    hi = max(lo, min(cut[1], len(members)))
    # the whole batch, a slice of it (offset into the list buffers), and
    # an empty batch between them
    sl = batch.slice(lo, hi - lo)
    out, per_batch = _run(
        [batch, batch.slice(0, 0), sl],
        has_weight=has_weight, is_struct=is_struct, chunk=chunk,
    )
    # the slice keeps its rows' payloads: reference rows lo..hi-1
    want = _ref(members, weights, is_struct) + _ref(
        [None] * lo + members[lo:hi], weights[:hi] if weights else None, is_struct
    )
    assert _consumed(per_batch, has_weight) == (want if has_weight else set(want))
    _assert_combined(per_batch, has_weight)
    names = ["id_a", "id_b"] + (["va", "vb"] if is_struct else []) + (
        ["_w"] if has_weight else []
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
    out, per_batch = _run([_batch(members)], has_weight=False, is_struct=False, chunk=5)
    assert _consumed(per_batch, False) == set(_ref(members))
    assert [b.num_rows for b in out] == [6, 3, 10, 1]


def test_kernel_combines_within_a_chunk_only():
    # the same member set in three rows: one chunk emits each pair once
    # with Σw; a chunk per row emits each pair once per chunk
    members = [[1, 2, 3]] * 3
    weights = [2, 5, 11]
    out, per_batch = _run(
        [_batch(members, weights)], has_weight=True, is_struct=False, chunk=1 << 20
    )
    assert sorted(per_batch[0]) == [(1, 2, 18), (1, 3, 18), (2, 3, 18)]
    out, per_batch = _run(
        [_batch(members, weights)], has_weight=True, is_struct=False, chunk=3
    )
    assert [sorted(rows) for rows in per_batch] == [
        [(1, 2, w), (1, 3, w), (2, 3, w)] for w in weights
    ]


def test_kernel_struct_identity_is_id_and_payload():
    # id 1 carries payload 5 in one row and 7 in another: two rows;
    # the repeated (1, 5), (2, 6) set collapses to one
    ids = pa.array(
        [
            [{"i": 1, "v": 5}, {"i": 2, "v": 6}],
            [{"i": 1, "v": 7}, {"i": 2, "v": 6}],
            [{"i": 1, "v": 5}, {"i": 2, "v": 6}],
        ],
        type=pa.list_(_STRUCT),
    )
    batch = pa.RecordBatch.from_arrays([ids], names=["_ids"])
    out, per_batch = _run([batch], has_weight=False, is_struct=True, chunk=1 << 20)
    assert sorted(per_batch[0]) == [(1, 2, 5, 6), (1, 2, 7, 6)]


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


def _ref_grouped(rows, cap, with_payload):
    """Per kept bucket, its (a < b) pairs: Σ``_w`` per pair counts the
    buckets it meets in; the distinct pairs are that Counter's keys."""
    sets = {}
    for k, i, _ in rows:
        sets.setdefault(k, set()).add(i)
    kept = [sorted(s) for s in sets.values() if cap is None or len(s) <= cap]
    audit = sorted((k, len(s)) for k, s in sets.items() if cap is not None and len(s) > cap)
    pairs = Counter()
    for m in kept:
        for a, b in combinations(m, 2):
            pairs[(a, b) + ((100 * a, 100 * b) if with_payload else ())] += 1
    return pairs, audit


@pytest.mark.parametrize("chunk", [None, 2])
@pytest.mark.parametrize("cap", [None, 5])
@pytest.mark.parametrize("mode", ["distinct_sets", "weighted"])
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
        # what each caller consumes: the pair set (.distinct()) or
        # Σ_w per pair (groupBy(id_a, id_b).sum("_w"))
        got = [tuple(r) for r in pairs.collect()]
        want, want_audit = _ref_grouped(rows, cap, with_payload)
        has_weight = mode == "weighted"
        assert _consumed([got], has_weight) == (want if has_weight else set(want))
        if cap is None:
            assert audit is None
        else:
            assert sorted(tuple(r) for r in audit.collect()) == want_audit
    finally:
        if handle is not None:
            handle.unpersist()


def test_grouped_bucket_pairs_rejects_bucket_mode(spark):
    # per-bucket multiplicity is no longer a mode: every caller
    # distincts or sums, and the kernel combines for both
    raw = spark.createDataFrame(_raw_rows(), "key int, id bigint, p bigint")
    with pytest.raises(ValueError, match="unknown pair_mode 'bucket'"):
        dedup.grouped_bucket_pairs(raw, ["key"], "id", 5, cache=False, pair_mode="bucket")
