"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force top-k vs one query vector: the exact
  baseline. One narrow projection (zip_with dot product, JVM-side) +
  a top-k sort of scalar scores. Linear scan — fine for one query at
  any scale, and the oracle for the bucketed path.
* ``cosine_self_pairs`` — exact all-pairs ≥ threshold (oracle; O(n²),
  small inputs only).
* ``rp_lsh_buckets`` / ``rp_lsh_near_pairs`` — the scale path:
  random-hyperplane (SimHash-for-vectors) bucketing; only vectors
  sharing a signature block meet in the join. Deterministic planes
  derived from a seed so runs are reproducible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel



def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = 6,
) -> DataFrame:
    """Top-k rows by cosine similarity to query_vec (ties broken by id
    for determinism).

    The scan is widened first (``plans.widen_small_scan`` — no-op at
    scale): the per-row dot product over the embedding array is the
    cost, and a single-row-group input would otherwise evaluate it on
    one core."""
    from ..plans import widen_small_scan

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(F.col(vec_col), q)
    if round_to is not None:
        sim = F.round(sim, round_to)
    # project before the widen (guide §2.3): the exchange and its
    # content-hash key must carry only (id, vector)
    return (
        widen_small_scan(df.select(F.col(id_col), F.col(vec_col)))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = 6,
    max_queries: int = 10_000,
) -> DataFrame:
    """Top-k by cosine for a TABLE of queries at once:
    (query_id, id, cos_sim), k rows per query, ties broken by id —
    the same rows as :func:`cosine_topk` run once per query.

    Offline training-data curation wants top-k against a reference
    corpus for MANY queries (dedup against a golden set, retrieval
    eval) — one job per query would scan the corpus Q times; this
    scans it ONCE.

    The query matrix is collected driver-side (bounded by
    ``max_queries`` — it ships to every task, broadcast-sized by
    construction, same shape as IVF's centroid matrix) and each Arrow
    batch computes ONE (batch × dim) · (dim × Q) matmul; per batch
    only rows that can still reach the global top-k survive
    (batch-local kth minus a 2·10^-round_to slack, so boundary ties
    are never lost to the pruning), then one final per-query top-k.
    The only shuffle is the final candidate aggregation — Q × k-ish
    rows per partition, not the corpus.
    """
    import pyarrow as pa
    from pyspark.sql import Window

    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qv")
    ).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_batch: more than max_queries={max_queries} query rows — "
            "chunk the query table (each chunk's matrix must ship to every task)"
        )
    if not qrows:
        raise ValueError("cosine_topk_batch: empty query table")
    qids = [r["query_id"] for r in qrows]
    qmat = np.array([list(r["_qv"]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    slack = 2.0 * (10.0 ** -round_to) if round_to is not None else 0.0

    pruned = df.select(F.col(id_col), F.col(vec_col))
    out_schema = f"query_id {qid_type}, {id_col} {id_type}, _sim double"

    def _kernel(batches):
        import pyarrow.compute as pc

        dim = qmat.shape[1]
        qt = (qmat / qn[:, None]).T  # (dim × Q), pre-normalized
        qid_arr = pa.array(qids)
        for batch in batches:
            col = batch.column(1)
            if len(col) == 0:
                continue
            lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            if col.null_count or not np.all(lens == dim):
                raise ValueError(
                    f"cosine_topk_batch: null or wrong-dimension {vec_col} "
                    f"(expected dim {dim}) — validate the embedding column first"
                )
            vecs = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(len(col), dim)
            )
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            sims = (vecs / norms[:, None]) @ qt  # (batch × Q)
            n = sims.shape[0]
            if n > k:
                kth = np.partition(sims, n - k, axis=0)[n - k]  # per-query kth largest
                mask = sims >= (kth - slack)[None, :]
            else:
                mask = np.ones_like(sims, dtype=bool)
            rows, qcols = np.nonzero(mask)
            yield pa.RecordBatch.from_arrays(
                [
                    qid_arr.take(pa.array(qcols, type=pa.int64())),
                    batch.column(0).take(pa.array(rows, type=pa.int64())),
                    pa.array(sims[rows, qcols]),
                ],
                names=["query_id", id_col, "_sim"],
            )

    from ..plans import widen_small_scan

    cand = widen_small_scan(pruned).mapInArrow(_kernel, out_schema)
    sim = F.round(F.col("_sim"), round_to) if round_to is not None else F.col("_sim")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        cand.select("query_id", id_col, sim.alias("cos_sim"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_self_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact all-pairs with cosine ≥ threshold (a < b). Quadratic —
    the oracle baseline for rp_lsh_near_pairs."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


def rp_lsh_buckets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """(id, bucket): sign-pattern of n_planes random hyperplanes, built
    as one JVM-side expression (no UDF): bit i = [Σ_j v_j·p_ij > 0]."""
    from ..plans import widen_small_scan

    planes = _planes(dim, n_planes, seed)
    df = widen_small_scan(df)
    v = F.col(vec_col)
    acc = F.lit(0).cast("bigint")
    for i in range(n_planes):
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(x)) for x in planes[i]]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        acc = acc + F.when(dot > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
    return df.select(F.col(id_col), acc.alias("bucket"))


def rp_lsh_near_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    round_to: int | None = 6,
    max_bucket: int | None = 1000,
    cache: bool = True,
) -> DataFrame:
    """Approximate near-dup pairs: random-hyperplane signature split
    into ``bands`` blocks; pairs sharing ≥1 block get their exact
    cosine verified. Recall grows with bands; cost stays near-linear.

    Join-free candidates (v4): blocks aggregate to one row per (blk,
    val) and pairs explode bucket-locally
    (``dedup.grouped_bucket_pairs`` — the signature subtree is computed
    once even uncached and never shuffled twice); blocks larger than
    ``max_bucket`` are dropped — a degenerate embedding distribution
    (e.g. millions of zero vectors in one block) would otherwise make
    the pair volume quadratic. The dropped mass is reportable via
    ``dedup.dropped_mass`` on the result (no silent caps).
    """
    sigs = rp_lsh_buckets(df, id_col=id_col, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed)
    bits_per = n_planes // bands
    blocks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("blk"),
                    F.shiftright(F.col("bucket"), bi * bits_per)
                    .bitwiseAND(F.lit((1 << bits_per) - 1))
                    .alias("val"),
                )
                for bi in range(bands)
            ]
        )
    ).alias("bb")
    bt = sigs.select(id_col, blocks).select(id_col, F.col("bb.blk").alias("blk"), F.col("bb.val").alias("val"))
    from .dedup import grouped_bucket_pairs

    bucket_pairs, audit, handle = grouped_bucket_pairs(
        bt, ["blk", "val"], id_col, max_bucket, cache,
        pair_mode="distinct_sets",
    )
    cand = bucket_pairs.distinct()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
    from .dedup import _attach_cache, _attach_drop_audit

    out = _attach_drop_audit(out, audit)
    if handle is not None:
        out = _attach_cache(out, handle)  # release via dedup.release_cache
    return out


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    exact: bool = False,
    dim: int | None = None,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """SemDeDup-style keep-one dedup in embedding space: cluster rows
    whose cosine similarity reaches ``threshold`` (transitively) and
    keep each cluster's minimum-id member; rows in no cluster pass
    through. Complements the text-space `dedup.dedup_canonical` — this
    catches paraphrases exact/minhash fingerprints can't.

    Default path is the scale one: `rp_lsh_near_pairs` (join-free
    banded hyperplane LSH, capped + audited, exact-cosine verified)
    feeding min-label connected components; ``exact=True`` swaps in
    the documented O(n²) `cosine_self_pairs` — the oracle-comparable
    path the driver query uses at small sf (same convention as
    `dedup.near_dup_components(exact=True)`).
    """
    from .dedup import connected_components, release_cache

    if exact:
        pairs = cosine_self_pairs(
            df, id_col=id_col, vec_col=vec_col, threshold=threshold
        )
        comp = connected_components(pairs.select("id_a", "id_b"))
    else:
        if dim is None:
            raise ValueError("dim is required for the LSH path (exact=False)")
        pairs = rp_lsh_near_pairs(
            df,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            threshold=threshold,
            n_planes=n_planes,
            bands=bands,
            seed=seed,
            max_bucket=max_bucket,
        )
        try:
            # CC persists the edge list in round 1 — the LSH bucket
            # cache is dead weight after that (same pattern as
            # dedup.near_dup_components)
            comp = connected_components(pairs.select("id_a", "id_b"))
        finally:
            release_cache(pairs)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
