"""Sequence packing and deterministic source mixing for LLM pretraining.

Two operators every training-data pipeline needs between "deduped
corpus" and "training shards", absent from the reference (its scope
stops at validation — sinter's `validate_many` hands rows onward,
`lib/sinter.ex:1`) but first-class here per the engine charter:

* ``pack_documents`` — concat-and-chunk packing: a deterministic
  global order over documents, cumulative token offsets, and the
  [chunk_first, chunk_last] span each document occupies when the
  token stream is cut into fixed ``chunk_tokens`` windows. This is
  the standard pretraining packing (concatenate everything, split
  every C tokens) — not bin-packing — so it is exactly reproducible
  in ANSI SQL (window cumsum) for the correctness oracle.

* ``mix_sources`` — deterministic weighted down-sampling per source
  (the "data mixing" step: keep 100% of wikipedia, 30% of crawl).
  Membership is a pure arithmetic hash of the row key, so the same
  row is kept or dropped on every run, on every engine — no RNG
  state, no sampleBy non-determinism — and the oracle can replay it.

100 TB design notes
-------------------
The global cumsum is the scale hazard: the naive
``sum() OVER (ORDER BY id)`` window collapses to ONE partition.
``pack_documents`` instead runs the classic distributed prefix sum:

1. ``repartitionByRange(P, id)`` + ``sortWithinPartitions`` — one
   range shuffle of a two-column projection (id, n_tokens), the only
   exchange in the job.
2. Per-partition token totals: a map-side-combined groupBy on the
   partition id — P rows to the driver (P = partitions, not rows).
3. A zero-shuffle Arrow ``mapInPandas`` pass adds the partition's
   exclusive prefix to a partition-local vectorized cumsum.

Everything downstream (chunk ids) is Column arithmetic. Zero
row-at-a-time Python; driver traffic is O(partitions).

``mix_sources`` is a pure Column expression (whole-stage codegen):
a two-round Lehmer multiplicative hash over a 31-bit modulus, chosen
because every intermediate fits comfortably in an int64 so DuckDB
(which errors on overflow, unlike Spark's non-ANSI wrap) evaluates
the identical arithmetic.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F

from ..session import python_kernel
from .text import token_count

#: Lehmer / MINSTD constants: modulus 2^31-1 (prime), multiplier 48271.
#: max intermediate = (2^31-2) * 48271 ≈ 1.04e14 « 2^63 — overflow-free
#: in any engine's int64, which is the whole point (see module doc).
_LEHMER_MOD = 2147483647
_LEHMER_MUL = 48271


def _require_integral_key(df: DataFrame, key_col: str, op: str) -> None:
    """The Lehmer bucket/order hashes are integer arithmetic: a string
    or UUID key silently casts to NULL long, which would make every
    bucket NULL and (e.g.) `mix_sources` drop ALL rows while the job
    exits 0. Fail loudly instead; callers with string ids should derive
    a numeric key first (`F.xxhash64(col)` is the usual choice)."""
    dt = df.schema[key_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{op}: key column {key_col!r} must be integral for the "
            f"deterministic hash, got {dt} — derive a numeric key first "
            f"(e.g. F.xxhash64({key_col!r}))"
        )


def deterministic_bucket(
    key: Column | str, seed: int = 0, buckets: int = 10000
) -> Column:
    """Stable pseudo-random bucket in [0, buckets) from an integer key.

    Two Lehmer rounds (`x -> x*48271 mod 2^31-1`) with the seed folded
    in between. Pure int64 arithmetic — identical results in Spark,
    DuckDB, and plain Python (see ``deterministic_bucket_py``).
    """
    k = F.col(key) if isinstance(key, str) else key
    h0 = F.pmod(k.cast("long"), F.lit(_LEHMER_MOD))
    h1 = F.pmod(h0 * _LEHMER_MUL, F.lit(_LEHMER_MOD))
    h2 = F.pmod((h1 + F.lit(int(seed))) * _LEHMER_MUL, F.lit(_LEHMER_MOD))
    return F.pmod(h2, F.lit(int(buckets)))


def deterministic_bucket_py(key: int, seed: int = 0, buckets: int = 10000) -> int:
    """Scalar twin of ``deterministic_bucket`` for tests/oracles."""
    h0 = key % _LEHMER_MOD
    h1 = (h0 * _LEHMER_MUL) % _LEHMER_MOD
    h2 = ((h1 + seed) * _LEHMER_MUL) % _LEHMER_MOD
    return h2 % buckets


def deterministic_bucket_sql(key_expr: str, seed: int = 0, buckets: int = 10000) -> str:
    """The same bucket as an ANSI-SQL expression (for DuckDB oracles).

    Valid only for non-negative keys (``%`` vs ``pmod``); every id
    column in this engine's tables is non-negative.
    """
    return (
        f"(((({key_expr} % {_LEHMER_MOD}) * {_LEHMER_MUL} % {_LEHMER_MOD})"
        f" + {seed}) * {_LEHMER_MUL} % {_LEHMER_MOD}) % {buckets}"
    )


def _shuffle_multiplier(seed: int) -> int:
    """Seed-derived Lehmer multiplier: a power of the primitive root
    48271 mod 2^31-1. Folding the seed ADDITIVELY (as
    ``deterministic_bucket`` does for bucket membership) is affine in
    the seed — every key's hash shifts by the same constant, so the
    induced ORDER barely changes between seeds. A seed-dependent
    multiplier is a genuinely different unit of the multiplicative
    group: orderings for different seeds are uncorrelated."""
    return pow(_LEHMER_MUL, (int(seed) % (_LEHMER_MOD - 1)) + 1, _LEHMER_MOD)


def shuffle_order_hash(key: Column | str, seed: int = 0) -> Column:
    """31-bit order hash for deterministic global shuffles (int64-safe
    in any engine; see ``shuffle_order_hash_sql`` / ``_py`` twins)."""
    k = F.col(key) if isinstance(key, str) else key
    m = _shuffle_multiplier(seed)
    h0 = F.pmod(k.cast("long"), F.lit(_LEHMER_MOD))
    h1 = F.pmod(h0 * F.lit(m), F.lit(_LEHMER_MOD))
    return F.pmod(h1 * _LEHMER_MUL, F.lit(_LEHMER_MOD))


def shuffle_order_hash_py(key: int, seed: int = 0) -> int:
    m = _shuffle_multiplier(seed)
    return ((key % _LEHMER_MOD) * m % _LEHMER_MOD) * _LEHMER_MUL % _LEHMER_MOD


def shuffle_order_hash_sql(key_expr: str, seed: int = 0) -> str:
    """ANSI/DuckDB twin (non-negative keys, like
    ``deterministic_bucket_sql``)."""
    m = _shuffle_multiplier(seed)
    return (
        f"(({key_expr} % {_LEHMER_MOD}) * {m} % {_LEHMER_MOD})"
        f" * {_LEHMER_MUL} % {_LEHMER_MOD}"
    )


def mix_sources(
    df: DataFrame,
    weights: Mapping[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_weight: float = 1.0,
    bucket_col: str | None = None,
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic weighted sampling per source (data mixing).

    Keeps a row iff ``deterministic_bucket(key) < weight * buckets``
    for its source's weight (sources absent from ``weights`` get
    ``default_weight``). Weight 1.0 keeps everything, 0.0 nothing;
    the realized fraction converges to the weight as keys spread over
    the bucket space. Pass ``bucket_col`` to also project the bucket
    (useful for audits / the correctness oracle).

    Unlike ``df.sampleBy`` this is reproducible independent of
    partitioning, task retries, and engine — a requirement for
    training-data lineage (the kept-set must be re-derivable).

    Seed caveat: the seed folds in ADDITIVELY, so two seeds shift every
    key's bucket by the same constant — kept-set MEMBERSHIP still
    changes (the threshold window rotates over the bucket ring), but
    the seeds are not independent draws. That is sufficient for
    deterministic sampling; anything needing seed-independent ORDER
    (global shuffles) must use ``shuffle_order_hash``, whose seed
    selects a different multiplier (see its docstring for why).
    """
    for s, w in weights.items():
        if not (0.0 <= w <= 1.0):
            raise ValueError(f"weight for {s!r} must be in [0, 1], got {w}")
    if not 0.0 <= default_weight <= 1.0:
        raise ValueError(f"default_weight must be in [0, 1], got {default_weight}")
    _require_integral_key(df, key_col, "mix_sources")
    bucket = deterministic_bucket(key_col, seed=seed, buckets=buckets)
    threshold = F.lit(int(round(default_weight * buckets)))
    for s, w in sorted(weights.items()):
        threshold = F.when(F.col(source_col) == s, F.lit(int(round(w * buckets)))).otherwise(
            threshold
        )
    out = df.where(bucket < threshold)
    if bucket_col is not None:
        out = out.withColumn(bucket_col, bucket)
    return out


def pack_documents(
    df: DataFrame,
    chunk_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: Column | None = None,
    num_partitions: int | None = None,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing over a deterministic order.

    Documents are laid out end-to-end ordered by ``id_col``; the token
    stream is cut every ``chunk_tokens``. Returns one row per document:

    ``id_col, n_tokens, start_offset, chunk_first, chunk_last``

    where ``start_offset`` is the exclusive cumsum of ``n_tokens`` in
    id order and the chunk span is ``start_offset div C`` through
    ``(start_offset + max(n_tokens,1) - 1) div C`` (a zero-token
    document is attributed to the chunk at its offset). Token counts
    default to the engine's BPE-ish ``token_count`` over
    ``coalesce(text, '')``; pass ``tokens`` to override.

    Scale shape (see module doc): ONE range exchange of the
    (id, n_tokens) projection, a P-row driver collect of partition
    totals, then a zero-shuffle Arrow cumsum pass. Never a global
    single-partition window.

    ``shuffle_seed`` switches the layout order from ``id_col`` to the
    deterministic Lehmer hash of the id (ties by id) — the "global
    shuffle before packing" every pretraining pipeline does, still
    fully reproducible/engine-portable (the oracle twin orders by the
    same SQL bucket expression) and still ONE range exchange: the
    range partitioner keys on the hash instead of the id.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    # the Arrow cumsum schema and (with shuffle_seed) the order hash
    # both require an integral id
    _require_integral_key(df, id_col, "pack_documents")
    spark = df.sparkSession
    tok = tokens if tokens is not None else token_count(F.coalesce(F.col(text_col), F.lit("")))
    n_part = int(
        num_partitions
        if num_partitions is not None
        else spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # The totals pass and the cumsum pass must see the SAME partition
    # assignment, so the ranged projection is persisted (two narrow
    # columns — ~16 B/row, spills to disk) rather than trusting two
    # separate jobs to re-sample identical range bounds. The cache is
    # load-bearing for the returned (lazy) plan, so it is NOT
    # unpersisted here; it lives until session eviction or an explicit
    # `spark.catalog.clearCache()` by a memory-sensitive caller.
    # Both columns must reach the Arrow pass null-free: a null in an
    # int64 batch makes pandas promote it to float64, corrupting values
    # above 2^53 (see images/kernel.py for the same hazard). Tokens are
    # coalesced to 0; null ids have no position in a deterministic
    # order and are excluded (callers wanting them must key them
    # first).
    sort_keys = [id_col] if shuffle_seed is None else ["_ord", id_col]
    ord_proj = (
        []
        if shuffle_seed is None
        else [shuffle_order_hash(id_col, shuffle_seed).alias("_ord")]
    )
    base = (
        df.where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.coalesce(tok.cast("long"), F.lit(0)).alias("n_tokens"),
            *ord_proj,
        )
        .repartitionByRange(n_part, *[F.col(c) for c in sort_keys])
        .sortWithinPartitions(*sort_keys)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    totals = {
        r["_pid"]: r["t"]
        for r in base.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    prefix: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):  # range partition 0 holds the lowest ids
        prefix[pid] = acc
        acc += int(totals[pid] or 0)

    out_schema = f"{id_col} long, n_tokens long, start_offset long"

    def _cumsum(batches):
        running = None
        for b in batches:
            if len(b) == 0:
                continue
            if running is None:
                running = prefix[int(b["_pid"].iloc[0])]
            csum = b["n_tokens"].cumsum()
            starts = running + csum - b["n_tokens"]
            running += int(csum.iloc[-1])
            yield type(b)(
                {
                    id_col: b[id_col],
                    "n_tokens": b["n_tokens"],
                    "start_offset": starts,
                }
            )

    packed = base.mapInPandas(python_kernel(_cumsum), schema=out_schema)
    c = int(chunk_tokens)
    return packed.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("start_offset"),
        F.expr(f"start_offset div {c}").alias("chunk_first"),
        F.expr(f"(start_offset + greatest(n_tokens, 1L) - 1) div {c}").alias(
            "chunk_last"
        ),
    )


def sample_stratified(
    df: DataFrame,
    quotas: Mapping[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_quota: int = 0,
) -> DataFrame:
    """Exact per-source quotas: keep AT MOST ``quotas[source]`` rows
    per source, chosen by the deterministic Lehmer-hash order (ties
    broken by the key) — the "give me exactly 1M wikipedia, 100k
    forums" step, reproducible across runs/engines like
    ``mix_sources`` (same bucket hash, so the kept set is re-derivable
    for lineage and the DuckDB oracle can replay it with a QUALIFY
    window).

    Scale shape: ``row_number() <= k`` window filters get Catalyst's
    partial ``WindowGroupLimit`` BELOW the exchange — each map task
    pre-prunes to the max quota per source before shuffling, so the
    exchange carries at most partitions × max_quota rows per source,
    not the full table. The redundant constant conjunct
    ``rn <= max_quota`` exists to keep that rewrite applicable when
    per-source quotas differ (the literal is what the optimizer keys
    on); the per-source CASE bound then trims exactly.
    """
    from pyspark.sql import Window

    for s, q in quotas.items():
        if q < 0:
            raise ValueError(f"quota for {s!r} must be >= 0, got {q}")
    if default_quota < 0:
        raise ValueError(f"default_quota must be >= 0, got {default_quota}")
    max_quota = max([default_quota, *quotas.values()], default=0)
    if max_quota == 0:
        return df.where(F.lit(False))
    _require_integral_key(df, key_col, "sample_stratified")
    bucket = deterministic_bucket(key_col, seed=seed)
    w = Window.partitionBy(source_col).orderBy(bucket, F.col(key_col))
    quota = F.lit(int(default_quota))
    for s, q in sorted(quotas.items()):
        quota = F.when(F.col(source_col) == s, F.lit(int(q))).otherwise(quota)
    rn = F.row_number().over(w)
    return (
        df.withColumn("_rn", rn)
        .where((F.col("_rn") <= F.lit(int(max_quota))) & (F.col("_rn") <= quota))
        .drop("_rn")
    )


def sample_stratified_sql(
    quotas: Mapping[str, int],
    table: str = "documents",
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_quota: int = 0,
) -> str:
    """DuckDB twin of ``sample_stratified`` (QUALIFY window)."""
    cases = " ".join(
        f"WHEN '{s}' THEN {int(q)}" for s, q in sorted(quotas.items())
    )
    bucket = deterministic_bucket_sql(key_col, seed=seed)
    return f"""
SELECT * FROM {table}
QUALIFY row_number() OVER (
    PARTITION BY {source_col} ORDER BY {bucket}, {key_col}
) <= CASE {source_col} {cases} ELSE {int(default_quota)} END
"""
