"""Checkpoint/resume with per-partition lineage + metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Spark batch has no cross-job operator state (SURVEY.md §4),
so the engine keeps its own checkpoint state in catalog tables through
the Iceberg-shaped abstraction in :mod:`sinter_spark.catalog` — a
``state`` table (one row per finished bucket: counts, stats, HLL
sketch) plus one partitioned ``violations/<run_id>`` table per run.
With Iceberg jars configured these land in a real Iceberg catalog;
here they use the parquet+manifest backend. Either way the engine code
below only talks to the catalog API.

Partition identity must survive restarts, so it is *derived from the
data*, not from ``spark_partition_id()``: bucket = pmod(xxhash64(key),
n_buckets). Resume = anti-join of pending buckets against the state
table (the distributed analogue of re-validating only the failed
indices of ``validate_many``, ``validator.ex:148-181``). Violations are
committed per bucket with dynamic partition overwrite, and the state
row lands *after* the data — a crash between the two re-runs that
bucket idempotently.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from .catalog import get_catalog
from .session import local_frame

STATE_DDL = (
    "run_id string, bucket int, status string, rows bigint, "
    "violations bigint, stats map<string,double>, sketch binary, "
    "updated_at double"
)


class CheckpointStore:
    """Checkpoint state over an Iceberg-shaped catalog.

    ``path`` is the warehouse directory for the local backend; when the
    session is Iceberg-configured the catalog resolves to the real one
    and ``path`` is unused by it.
    """

    def __init__(self, spark, path: str, catalog=None):
        self.spark = spark
        self.path = path.rstrip("/")
        self.catalog = catalog or get_catalog(spark, self.path)
        self._state = self.catalog.create_or_load("state", STATE_DDL)

    # -- run lineage (state-table properties) --------------------------------

    def begin_run(self, run_id: str | None, *, n_buckets: int, key_col: str, meta: dict | None = None) -> str:
        run_id = run_id or uuid.uuid4().hex[:12]
        prop_key = f"run.{run_id}"
        props = self._state.properties
        if prop_key not in props:
            self._state.update_properties(
                **{
                    prop_key: json.dumps(
                        {
                            "n_buckets": n_buckets,
                            "key_col": key_col,
                            "bucket_fn": BUCKET_FN,
                            "created_at": time.time(),
                            "meta": meta or {},
                        }
                    )
                }
            )
        else:
            prev = json.loads(props[prop_key])
            if prev["n_buckets"] != n_buckets or prev["key_col"] != key_col:
                raise ValueError(
                    f"run {run_id!r} was started with n_buckets={prev['n_buckets']} "
                    f"key_col={prev['key_col']!r}; cannot resume with different lineage"
                )
            # bucket ids denote ROW SETS: resuming under a different
            # hash basis would skip 'done' buckets that now name
            # different rows (older runs predate the stamp → hash basis
            # unknowable → refuse, same as a mismatch)
            if prev.get("bucket_fn") != BUCKET_FN:
                raise ValueError(
                    f"run {run_id!r} was bucketed with "
                    f"{prev.get('bucket_fn', '<unstamped pre-v2 run>')!r}; this engine "
                    f"buckets with {BUCKET_FN!r} — done-bucket ids are not comparable, "
                    f"start a new run"
                )
        return run_id

    def run_info(self, run_id: str) -> dict:
        return json.loads(self._state.properties[f"run.{run_id}"])

    # -- state table ----------------------------------------------------------

    def state(self) -> DataFrame:
        return self._state.read()

    def done_buckets(self, run_id: str) -> set[int]:
        rows = (
            self.state()
            .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("bucket")
            .collect()
        )
        return {r["bucket"] for r in rows}

    def mark_done(self, run_id: str, bucket_stats: list[dict]) -> None:
        now = time.time()
        rows = [
            (
                run_id,
                int(b["bucket"]),
                "done",
                int(b.get("rows", 0)),
                int(b.get("violations", 0)),
                {k: float(v) for k, v in (b.get("stats") or {}).items()},
                b.get("sketch"),
                now,
            )
            for b in bucket_stats
        ]
        self._state.append(local_frame(self.spark, rows, STATE_DDL).coalesce(1))

    def metrics(self, run_id: str) -> DataFrame:
        return self.state().where(F.col("run_id") == run_id)

    # -- violations tables ------------------------------------------------------

    def violations_table(self, run_id: str, like: DataFrame | None = None):
        name = f"violations/{run_id}"
        if like is not None:
            return self.catalog.create_or_load(name, like.schema, partition_by=["ckpt_bucket"])
        return self.catalog.load_table(name)


#: identifies the bucket mapping (hash fn + key representation). Bump
#: whenever bucket_col/violation_bucket change semantics: the stamp is
#: stored in run lineage and begin_run refuses to resume across
#: different stamps (done-bucket ids would name different row sets).
BUCKET_FN = "xxhash64(cast(key as string)) % n, v2"


def bucket_col(key_col: str, n_buckets: int):
    """Stable data-derived partition id (restart-proof lineage key).

    Hashes the STRING form of the key so that a violation row's bucket
    is derivable from its ``row_key`` (which is the key cast to string)
    without joining back to the source — see :func:`violation_bucket`.
    The mapping's identity is stamped into run lineage as
    :data:`BUCKET_FN`.
    """
    return violation_bucket(F.col(key_col).cast("string"), n_buckets)


def violation_bucket(row_key_col, n_buckets: int):
    """Same bucket mapping applied to a violation's string row_key."""
    return F.pmod(F.xxhash64(row_key_col), F.lit(n_buckets)).cast("int")


def run_checkpointed(
    df: DataFrame,
    pass_fn: Callable[[DataFrame], DataFrame],
    store: CheckpointStore,
    *,
    run_id: str | None = None,
    key_col: str = "image_id",
    n_buckets: int = 32,
    buckets_per_job: int = 8,
    fail_after: int | None = None,
) -> str:
    """Run ``pass_fn`` (sub-DataFrame → violation rows) over the table in
    resumable bucket chunks.

    Each chunk is exactly TWO source scans:

    1. violations: compute ``pass_fn`` once; each violation's
       ``ckpt_bucket`` is DERIVED from its ``row_key`` (the same hash the
       source bucketing uses on the string-cast key — no join back to the
       source, and no unattributable bucket is possible), persisted, then
       committed to the run's violations table with dynamic partition
       overwrite (idempotent) and counted from the persisted result;
    2. metrics: one ``hll_by_bucket`` pass yielding per-bucket row counts
       AND the HLL key sketch together.

    The per-bucket state row commits *after* the data write, so a crash
    between the two re-runs that bucket idempotently. ``fail_after``
    kills the run after N chunks (test hook for crash/resume).
    """
    run_id = store.begin_run(run_id, n_buckets=n_buckets, key_col=key_col)
    done = store.done_buckets(run_id)
    pending = [b for b in range(n_buckets) if b not in done]
    bcol = bucket_col(key_col, n_buckets).alias("ckpt_bucket")
    src = df.withColumn("ckpt_bucket", bcol)
    from .operators.sketch import hll_by_bucket

    chunks = [pending[i : i + buckets_per_job] for i in range(0, len(pending), buckets_per_job)]
    for ci, chunk in enumerate(chunks):
        if fail_after is not None and ci >= fail_after:
            raise RuntimeError(f"injected failure after {ci} chunks")
        sub = src.where(F.col("ckpt_bucket").isin(chunk))
        # scan 1: violations — bucket derived from row_key, no join back
        viol = pass_fn(sub.drop("ckpt_bucket")).withColumn(
            "ckpt_bucket", violation_bucket(F.col("row_key"), n_buckets)
        )
        viol = viol.persist()
        try:
            store.violations_table(run_id, like=viol).overwrite_partitions(viol)
            vcounts = {
                r["ckpt_bucket"]: r["n"]
                for r in viol.groupBy("ckpt_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        finally:
            viol.unpersist()
        # scan 2: per-bucket rows + HLL sketch of the key in ONE pass
        # (the sketch is the resumable analogue of approx_count_distinct —
        # merged treewise at read time)
        bucket_stats = []
        for r in hll_by_bucket(sub, key_col).collect():
            b = r["bucket"]
            nrows = r["n_rows"]
            bucket_stats.append(
                {
                    "bucket": b,
                    "rows": nrows,
                    "violations": vcounts.get(b, 0),
                    "stats": {"violation_rate": (vcounts.get(b, 0) / nrows) if nrows else 0.0},
                    "sketch": bytes(r["sketch"]),
                }
            )
        # buckets with zero rows still count as done
        seen = {bs["bucket"] for bs in bucket_stats}
        for b in chunk:
            if b not in seen:
                bucket_stats.append({"bucket": b, "rows": 0, "violations": 0, "stats": {}})
        store.mark_done(run_id, [bs for bs in bucket_stats if bs["bucket"] in chunk])
    return run_id


def read_violations(store: CheckpointStore, run_id: str) -> DataFrame:
    return store.violations_table(run_id).read()


def global_distinct(store: CheckpointStore, run_id: str) -> float:
    """Treewise merge of per-bucket HLL sketches → global approx
    distinct of the run's key column, without re-scanning any data."""
    from .operators.sketch import distinct_estimate

    sketches = [
        bytes(r["sketch"])
        for r in store.metrics(run_id).select("sketch").collect()
        if r["sketch"] is not None
    ]
    return distinct_estimate(sketches)
