"""The benchmark's workloads and the engine layers they exercise.

A workload is built in two steps: ``inputs`` makes (or finds cached)
the seeded input files without Spark, then ``prepare`` binds them to a
session and returns the operation and its per-op correctness gate. ``sweep`` times every engine layer in isolation for
the traced run; it needs the inputs ``inputs(..., trace=True)`` adds.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import inputs as inp

#: rows per op; ckpt_validate reads the suite_raw table
SIZES = {"suite_raw": 12000, "suite_jpeg": 4000, "ckpt_validate": 12000, "curation_docs": inp.DOCS_N}
#: rows of the drift baseline table (a histogram sample of the mix)
BASELINE_ROWS = 4000
MIXES = {"suite_raw": "default", "suite_jpeg": "jpeg", "ckpt_validate": "default"}
#: calls of __spark_entry__.queries() that make one curation_docs op
CURATION_QUERIES = ("minhash_lsh_docs", "winnow_overlap_docs", "simhash_docs", "decontaminate_docs")
#: the layers whose isolated walls a workload's op composes
COMPOSES = {
    "suite_raw": ("binding", "images.kernel", "operators.uniqueness", "operators.referential", "operators.drift"),
    "ckpt_validate": ("checkpoint", "catalog"),
    "curation_docs": ("operators.dedup", "operators.winnow", "operators.decontam"),
}
COMPOSES["suite_jpeg"] = COMPOSES["suite_raw"]

N_BUCKETS, BUCKETS_PER_JOB, FAIL_AFTER = 32, 8, 2
#: HLL (p=12) standard error is 1.6%; allow four of them
HLL_TOLERANCE = 0.065


def _baseline_seed(seed: int) -> int:
    return seed + 1


def inputs(name: str, seed: int, n: int, *, trace: bool = False) -> dict:
    """Input files for workload ``name``: ``images``/``baseline``
    (path, census) pairs and/or ``docs`` (corpus dir), plus ``gen_s``,
    the seconds spent generating what was not cached."""
    out: dict = {"gen_s": 0.0}
    mix = MIXES.get(name, "default")
    if name in MIXES or trace:
        rows = n if name in MIXES else SIZES["suite_raw"]
        path, census, gen_s = inp.image_table(mix, rows, seed)
        out["images"] = (path, census)
        out["gen_s"] += gen_s
        if name.startswith("suite_") or trace:
            bpath, bcensus, gen_s = inp.image_table(
                mix, min(rows, BASELINE_ROWS), _baseline_seed(seed), keep=(path,)
            )
            out["baseline"] = (bpath, bcensus)
            out["gen_s"] += gen_s
    if name == "curation_docs" or trace:
        t0 = time.perf_counter()
        out["docs_rows"] = n if name == "curation_docs" else inp.DOCS_N
        out["docs"] = inp.docs_corpus(out["docs_rows"])
        if name == "curation_docs":
            out["oracle"] = docs_oracle(out["docs"])
        out["gen_s"] += time.perf_counter() - t0
    return out


# -- correctness helpers -------------------------------------------------------


def _hash_rows():
    """``scripts/check_correctness.py``'s row normalisation and hash,
    the check it applies to every ``__spark_entry__`` query."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(inp.ROOT, "scripts", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._hash_rows


def docs_oracle(corpus: str) -> dict:
    """(rows, hash) per curation query from its DuckDB oracle, cached
    beside the corpus (the corpus is fixed, so this runs once)."""
    import json

    cache = os.path.join(corpus, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb

    # the LSH oracle builders read the corpus named by this variable
    os.environ["SINTER_ORACLE_SF_DIR"] = corpus
    from sinter_spark.lsh_fixtures import minhash_oracle_sql, simhash_oracle_sql, winnow_oracle_sql
    from sinter_spark.operators.decontam import decontamination_oracle_sql

    sqls = {
        "minhash_lsh_docs": minhash_oracle_sql(),
        "winnow_overlap_docs": winnow_oracle_sql(),
        "simhash_docs": simhash_oracle_sql(),
        "decontaminate_docs": decontamination_oracle_sql(),
    }
    hash_rows = _hash_rows()
    con = duckdb.connect()
    try:
        parquet = os.path.join(corpus, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet}')")
        oracle = {}
        for q, sql in sqls.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            oracle[q] = {"rows": len(rows), "hash": hash_rows(cols, rows)}
    finally:
        con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(oracle, f)
    os.replace(cache + ".tmp", cache)
    return oracle


def _code_counts(violations) -> dict[str, int]:
    return {r["code"]: r["count"] for r in violations.groupBy("code").count().collect()}


def _noop(df, counted: bool = False) -> int | None:
    """Force ``df`` through the noop sink; with ``counted``, also return
    its row count, observed in the same pass."""
    from pyspark.sql import Observation, functions as F

    if counted:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return obs.get["n"] if counted else None


def _row_pass(df):
    """The bind-only row pass (``image_schema(include_bytes=False)``)."""
    from sinter_spark.binding import bind
    from sinter_spark.images.suite import image_schema

    return bind(image_schema(include_bytes=False), df, row_key="image_id").violations


def _kill_and_resume(df, store, run_id: str) -> float:
    """``run_checkpointed`` killed by ``fail_after``, then resumed under
    the same run id; returns the resume's wall seconds."""
    from sinter_spark.checkpoint import run_checkpointed

    kw = dict(run_id=run_id, key_col="image_id", n_buckets=N_BUCKETS, buckets_per_job=BUCKETS_PER_JOB)
    try:
        run_checkpointed(df, _row_pass, store, fail_after=FAIL_AFTER, **kw)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("fail_after did not stop the run")
    t0 = time.perf_counter()
    run_checkpointed(df, _row_pass, store, **kw)
    return time.perf_counter() - t0


def _du_mib(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


# -- workloads -----------------------------------------------------------------


@dataclass
class Workload:
    name: str
    rows: int
    #: one operation; returns what ``gate`` checks
    op: Callable[[], object]
    #: None when the op's output is right, else what is wrong
    gate: Callable[[object], str | None]
    #: the op with a stricter output check folded in, run once (untimed)
    checked_op: Callable[[], object] | None = None
    #: the layer sweep's image table and document corpus
    tables: dict = field(default_factory=dict)

    def __post_init__(self):
        self.checked_op = self.checked_op or self.op


class _Images:
    """An image table bound to a session, with the suite's fixtures."""

    def __init__(self, spark, path: str, census: dict, baseline: tuple[str, dict] | None):
        from sinter_spark.images import fmt_dim
        from sinter_spark.images.suite import baseline_histograms

        self.df = spark.read.parquet(path)
        self.census = census
        self.dim = fmt_dim(spark)
        self.base_hists = None
        if baseline is not None:
            hists = baseline_histograms(spark.read.parquet(baseline[0]))
            # materialised once: an op must not rescan the baseline table
            self.base_hists = spark.createDataFrame(hists.collect(), hists.schema)


def prepare(name: str, spark, ins: dict, work: str) -> Workload:
    images = None
    if "images" in ins:
        images = _Images(spark, *ins["images"], ins.get("baseline"))
    docs = spark.read.parquet(os.path.join(ins["docs"], "documents.parquet")) if "docs" in ins else None
    tables = {"images": images, "docs": docs, "docs_dir": ins.get("docs"), "work": work}
    if name.startswith("suite_"):
        wl = _suite(name, images)
    elif name == "ckpt_validate":
        wl = _ckpt(spark, images, work)
    elif name == "curation_docs":
        wl = _curation(spark, ins["docs"], ins["docs_rows"], ins["oracle"])
    else:
        raise ValueError(f"unknown workload {name!r}")
    wl.tables = tables
    return wl


def _suite(name: str, img: _Images) -> Workload:
    from sinter_spark.images import validate_images_full

    want = img.census["suite_codes"]

    def op():
        res = validate_images_full(img.df, img.dim, baseline_hists=img.base_hists)
        return _code_counts(res.violations)

    def gate(got):
        if got.get("drift"):
            return f"drift violations {got['drift']} != 0"
        return None if got == want else f"per-code counts {got} != census {want}"

    return Workload(name, img.census["n"], op, gate)


def _ckpt(spark, img: _Images, work: str) -> Workload:
    from sinter_spark.checkpoint import CheckpointStore, global_distinct, read_violations

    stores = os.path.join(work, "ckpt")
    seq = itertools.count()

    def op():
        # a fresh store per op: the state table grows with every run
        path = os.path.join(stores, f"op{next(seq)}")
        store = CheckpointStore(spark, path)
        _kill_and_resume(img.df, store, "bench")
        return store, "bench", read_violations(store, "bench").count(), global_distinct(store, "bench")

    def gate(got):
        store, run_id, n_viol, distinct = got
        try:
            done = len(store.done_buckets(run_id))
        finally:
            shutil.rmtree(store.path, ignore_errors=True)
        want_v, want_d = img.census["row_pass_violations"], img.census["distinct_ids"]
        if n_viol != want_v:
            return f"violations {n_viol} != one-pass bind count {want_v}"
        if done != N_BUCKETS:
            return f"{done}/{N_BUCKETS} buckets done"
        if abs(distinct - want_d) > HLL_TOLERANCE * want_d:
            return f"global_distinct {distinct:.0f} vs exact {want_d}"
        return None

    return Workload("ckpt_validate", img.census["n"], op, gate)


def _entry_queries() -> dict:
    import __spark_entry__

    return __spark_entry__.queries()


def _curation(spark, corpus: str, rows: int, oracle: dict) -> Workload:
    from sinter_spark.operators.dedup import release_cache

    qs = _entry_queries()
    hash_rows = _hash_rows()

    def op(check_values: bool = False):
        counts, bad = {}, []
        for q in CURATION_QUERIES:
            df = qs[q](spark, corpus)
            if check_values:
                table = df.toArrow()
                counts[q] = table.num_rows
                rows = list(zip(*(c.to_pylist() for c in table.columns)))
                if hash_rows(table.column_names, rows) != oracle[q]["hash"]:
                    bad.append(q)
            else:
                counts[q] = df.count()
            release_cache(df)
        if bad:
            raise RuntimeError(f"value hash differs from the DuckDB oracle: {bad}")
        return counts

    def gate(got):
        bad = {q: (n, oracle[q]["rows"]) for q, n in got.items() if n != oracle[q]["rows"]}
        return f"row counts (spark, oracle) differ: {bad}" if bad else None

    return Workload("curation_docs", rows, op, gate, lambda: op(check_values=True))


# -- the layer sweep -----------------------------------------------------------


def sweep(spark, tracer, op_id: int, t: dict) -> None:
    """Time each engine layer alone: one span per public call, forced
    with the noop sink. Layer counts land in each span's ``counts``."""
    from bench import decode_microbench
    from sinter_spark.checkpoint import CheckpointStore, bucket_col, global_distinct, read_violations
    from sinter_spark.images.kernel import decode_violations
    from sinter_spark.images.suite import baseline_histograms
    from sinter_spark.operators.dedup import release_cache
    from sinter_spark.operators.drift import drift_report
    from sinter_spark.operators.referential import referential_violations
    from sinter_spark.operators.sketch import hll_by_bucket
    from sinter_spark.operators.uniqueness import uniqueness_violations
    from sinter_spark.plans import widen_small_scan

    img, docs, corpus = t["images"], t["docs"], t["docs_dir"]
    qs = _entry_queries()

    def layer(name):
        return tracer.span(name, op_id)

    def query(q):
        df = qs[q](spark, corpus)
        n = _noop(df, counted=True)
        release_cache(df)
        return n

    with layer("binding") as s:
        s["counts"]["violations"] = _noop(_row_pass(img.df), True)
    bind_wall = s["wall_s"]
    with layer("images.kernel") as s:
        s["counts"]["violations"] = _noop(decode_violations(img.df), True)
    s["counts"]["rows_per_s"] = img.census["n"] / s["wall_s"]
    with layer("images.codecs") as s:
        for fmt, r in decode_microbench(per_fmt_n=40).items():
            s["counts"][f"img_per_s.{fmt}"] = r["img_per_sec"]
    with layer("operators.uniqueness"):
        _noop(uniqueness_violations(img.df, "image_id"))
        _noop(uniqueness_violations(img.df, "phash"))
    with layer("operators.referential"):
        _noop(referential_violations(img.df, img.dim, "fmt", row_key="image_id"))
    with layer("operators.drift") as s:
        report = drift_report(baseline_histograms(img.df), img.base_hists)
        s["counts"]["violations"] = sum(not (r["ks_pass"] and r["psi_pass"]) for r in report)
    with layer("plans") as s:
        fired = 0
        for df in (img.df, docs):
            wide = widen_small_scan(df)
            fired += wide is not df
            _noop(wide)
        s["counts"]["widen_fired"] = fired
    store_dir = os.path.join(t["work"], "ckpt", "sweep")
    store = CheckpointStore(spark, store_dir)
    with layer("checkpoint") as s:
        s["counts"]["resume_s"] = _kill_and_resume(img.df, store, "sweep")
    s["counts"]["bytes_written_mb"] = _du_mib(store_dir)
    s["counts"]["overhead_ratio"] = s["wall_s"] / bind_wall
    with layer("operators.sketch"):
        _noop(hll_by_bucket(img.df.withColumn("ckpt_bucket", bucket_col("image_id", N_BUCKETS)), "image_id"))
    with layer("catalog") as s:
        t0 = time.perf_counter()
        s["counts"]["violations"] = read_violations(store, "sweep").count()
        s["counts"]["read_s"] = time.perf_counter() - t0
        global_distinct(store, "sweep")
    shutil.rmtree(store_dir, ignore_errors=True)
    with layer("operators.dedup") as s:
        s["counts"]["minhash.pairs"] = query("minhash_lsh_docs")
        query("simhash_docs")
    with layer("operators.winnow") as s:
        s["counts"]["pairs"] = query("winnow_overlap_docs")
    with layer("operators.decontam"):
        query("decontaminate_docs")
