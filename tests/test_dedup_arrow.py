"""Arrow-kernel dedup signatures: value pins against a pure-python
reference of the documented algorithm, edge semantics (null / short /
token-less docs), hamming-proximity properties, and plan shape.

The kernels (dedup.minhash_signatures_arrow / simhash_arrow) are the
only signature implementations (north_star: vectorized Arrow UDFs, no
per-row Python). These tests pin them to their own documented hash
families so a numpy refactor can't silently change buckets.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sinter_spark.operators import dedup

U64 = np.uint64
GOLD = 0x9E3779B97F4A7C15
M1, M2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + GOLD) & MASK
    x = ((x ^ (x >> 30)) * M1) & MASK
    x = ((x ^ (x >> 27)) * M2) & MASK
    return x ^ (x >> 31)


def _ref_minhash(text: str, k: int = 4, n_hashes: int = 64, seed: int = 7) -> list[int]:
    """Pure-python reference of the documented kernel algorithm."""
    rng = np.random.Generator(np.random.PCG64(seed))
    A = (rng.integers(1, 2**63, size=n_hashes, dtype=np.uint64) | np.uint64(1)).tolist()
    B = rng.integers(0, 2**63, size=n_hashes, dtype=np.uint64).tolist()
    b = text.encode("utf-8")
    if len(b) < k:
        hs = [_splitmix64(0)]
    else:
        codes = {int.from_bytes(b[i : i + k], "big") for i in range(len(b) - k + 1)}
        hs = [_splitmix64(c) for c in codes]
    sig = []
    for a, bb in zip(A, B):
        m = min((h * a + bb) & MASK for h in hs)
        sig.append(m - (1 << 64) if m >= 1 << 63 else m)  # int64 view
    return sig


def _ref_simhash(text: str) -> int:
    """Pure-python reference: byte tokens (> 0x20), polynomial hash
    h = Σ b·P^(L-1-i) mod 2^64, splitmix64 finalizer, ±1 bit sums."""
    P = 0x100000001B3
    raw = text.lower().encode("utf-8")
    tokens, cur = [], bytearray()
    for byte in raw:
        if byte > 0x20:
            cur.append(byte)
        elif cur:
            tokens.append(bytes(cur))
            cur = bytearray()
    if cur:
        tokens.append(bytes(cur))
    if not tokens:
        return None
    hs = []
    for t in tokens:
        h = 0
        for byte in t:
            h = (h * P + byte) & MASK
        hs.append(_splitmix64(h))
    fp = 0
    for i in range(64):
        ones = sum((h >> i) & 1 for h in hs)
        if 2 * ones > len(hs):
            fp |= 1 << i
    return fp - (1 << 64) if fp >= 1 << 63 else fp


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dog"),
            ("c", "the quick brown fox jumps over the lazy cat"),
            ("d", "completely different text about engines and tables"),
            ("e", ""),
            ("f", "   "),
            ("g", None),
            ("h", "ab"),
            ("i", "ONE one OnE two"),
            ("j", "thé qüick brown føx"),
        ],
        "doc_id string, text string",
    )


def test_minhash_arrow_matches_python_reference(spark, edge):
    got = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures_arrow(edge).collect()}
    assert "g" not in got  # null text omitted
    for doc_id, text in [("a", "the quick brown fox jumps over the lazy dog"),
                         ("c", "the quick brown fox jumps over the lazy cat"),
                         ("j", "thé qüick brown føx"),
                         ("h", "ab"), ("e", "")]:
        assert got[doc_id] == _ref_minhash(text), doc_id
    assert got["a"] == got["b"]  # identical docs
    # docs shorter than k share one constant signature
    assert got["e"] == got["h"]
    # similar docs share many mins; dissimilar docs share few
    share = lambda x, y: sum(1 for p, q in zip(x, y) if p == q)
    assert share(got["a"], got["c"]) > share(got["a"], got["d"])


def test_simhash_arrow_matches_python_reference(spark, edge):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_arrow(edge).collect()}
    assert set(got) == {"a", "b", "c", "d", "h", "i", "j"}  # e/f/g token-less or null
    for doc_id, text in [("a", "the quick brown fox jumps over the lazy dog"),
                         ("c", "the quick brown fox jumps over the lazy cat"),
                         ("i", "ONE one OnE two"), ("j", "thé qüick brown føx")]:
        assert got[doc_id] == _ref_simhash(text), doc_id
    ham = lambda x, y: bin((x ^ y) & MASK).count("1")
    assert ham(got["a"], got["b"]) == 0
    assert ham(got["a"], got["c"]) < ham(got["a"], got["d"])


def test_arrow_kernels_zero_exchanges(spark, edge):
    for q in (dedup.minhash_signatures_arrow(edge), dedup.simhash_arrow(edge)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInArrow" in plan


# ---------------------------------------------------------------------------
# hypothesis differential: kernels ≡ pure-python references on random text
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_texts = st.lists(
    st.one_of(
        st.text(min_size=0, max_size=60),  # arbitrary unicode incl. controls
        st.text(alphabet="ab \t\n", min_size=0, max_size=40),  # collision-heavy
        st.none(),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts)
def test_minhash_arrow_differential(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures_arrow(df).collect()}
    for i, t in enumerate(texts):
        if t is None:
            assert i not in got
        else:
            assert got[i] == _ref_minhash(t), repr(t)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts)
def test_simhash_arrow_differential(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_arrow(df).collect()}
    for i, t in enumerate(texts):
        ref = None if t is None else _ref_simhash(t)
        if ref is None:
            assert i not in got, repr(t)
        else:
            assert got[i] == ref, repr(t)
