"""spark-submit-able CLI — the operational surface of the engine.

The north-star run shape is ``spark-submit --py-files sinter_spark.zip``
launching a validation job over a table (BASELINE.md); this module is
that job. It works identically under plain ``python -m sinter_spark``
(builds its own local session) and under ``spark-submit`` (reuses the
session the launcher created):

    spark-submit --py-files /tmp/sinter_spark.zip -m sinter_spark ...   # or:
    python -m sinter_spark validate \
        --input  /data/images.parquet \
        --schema schema.json \
        --row-key image_id \
        --output  /tmp/run1 \
        --checkpoint /tmp/ckpt --run-id nightly   # resumable

Commands (each also writes ``metrics.json`` under ``--output``, with
``command`` naming the subcommand and ``elapsed_sec``):

* ``validate`` — one schema-validation pass (:func:`binding.bind`):
  writes ``violations/`` (exploded rows: row_key, path, code, message,
  context) and ``verdicts/`` (per-partition pass/fail + counts) as
  parquet under ``--output``, plus a ``metrics.json`` summary. With
  ``--checkpoint`` the pass runs through
  :func:`checkpoint.run_checkpointed` in resumable bucket chunks with
  per-bucket lineage + HLL metrics — re-running the same ``--run-id``
  after a crash resumes from the first unfinished bucket.
* ``validate-stream`` — the same pass over a file stream
  (:func:`streaming.validate_stream.streaming_validate`, availableNow
  trigger): drains the files ``--stream-checkpoint`` has not seen yet,
  adds their violations to ``violations/`` as ``epoch_id=N``
  partitions and exits; ``metrics.json`` counts the whole sink.
* ``stats`` — one-pass column stats (:func:`operators.stats.column_stats`)
  to ``stats/`` parquet + ``metrics.json``.
* ``infer`` — schema inference over a table sample
  (:func:`api.infer_schema_from_df`) serialized via
  :func:`api.schema_to_dict` → a ``schema.json`` that feeds
  ``validate --schema`` directly.
* ``drift`` — two-sample KS/PSI per numeric column against a baseline
  snapshot (:mod:`operators.drift`): shared-range histograms persisted
  as ``hist_current/`` + ``hist_baseline/``, per-column report in
  ``metrics.json``, ``--fail-on-drift`` CI gate.
* ``image-suite`` — the full image+caption constraint suite
  (:func:`images.validate_images_full`: schema predicates, decode /
  PSNR / phash / dim integrity, uniqueness, referential, drift) to
  ``violations/`` + ``metrics.json``.
* ``dedup`` — the flagship training-data pipeline as a job (VERDICT_r04
  #5): ``--method exact|minhash|simhash|winnow`` builds duplicate
  evidence (``groups/`` or verified ``pairs/``), clusters it
  (``components/``), and with ``--canonical`` writes the keep-one
  deduped table (``canonical/``). Every mega-bucket cap drop is
  surfaced in ``metrics.json`` (``dropped_buckets`` /
  ``dropped_member_entries`` — no silent caps in the CLI either).
* ``ivf build`` / ``ivf query`` — ANN index jobs: build trains
  spherical-kmeans centroids on a bounded spanning sample and writes
  the cluster-partitioned index; query runs batched top-k cosine over
  a queries table against the index with partition-pruned probes.
* ``decontam`` — benchmark decontamination (n-gram eval-set overlap):
  ``report/`` (per-doc match stats) + ``clean/`` + metrics, with a
  ``--fail-on-contamination`` CI gate.
* ``dedup-against`` — drop rows whose normalized text occurs in a
  reference corpus (Bloom-prefiltered exact anti-join; ``--no-bloom``
  for the plain join, results identical).
* ``pipeline`` — the composed training-data pass: quality filter →
  scrub → near-dup dedup → reference dedup → decontamination →
  mixing/quota sampling → (shuffled) sequence packing, each stage
  optional, per-stage in/out counts + audits in ``metrics.json``.

Schemas come from JSON (:func:`api.schema_from_dict`); hooks are
callables and therefore library-only.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time


def _get_spark(cores: str | None):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from .session import get_spark

    # None defers to get_spark's default ($SPARK_GRAFT_CPUS, else every host core)
    return get_spark(cores=cores, app_name="sinter_cli")


def _read(reader, path: str, args):
    """Read ``path`` in ``--format`` through ``reader``: ``spark.read``
    or a ``spark.readStream.schema(...)``."""
    if args.format == "parquet":
        return reader.parquet(path)
    if args.format == "csv":
        return reader.option("header", str(args.csv_header).lower()).csv(path)
    if args.format == "json":
        return reader.json(path)
    raise SystemExit(f"unsupported --format {args.format!r} (parquet|csv|json)")


def _commit(df, out: str, name: str):
    """Write ``df`` as parquet to ``out/name`` and return the written
    files as a frame, so later counts and stages scan the committed
    output instead of recomputing ``df``'s plan."""
    path = os.path.join(out, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _load_schema(path: str):
    from .api import schema_from_dict

    with open(path) as f:
        return schema_from_dict(json.load(f))


def _write_metrics(out_dir: str, metrics: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    print(json.dumps(metrics, default=str))


def _job(fn):
    """Turn a command body ``fn(args, spark) -> (metrics, rc)`` into the
    ``(args) -> rc`` command: get the session (the active one under
    spark-submit), time the body, write ``--output``/``metrics.json`` as
    ``{"command": <name>, **metrics, "elapsed_sec": ...}`` and return
    ``rc``. ``<name>`` is the subcommand, taken from the function name
    (``cmd_ivf_build`` → ``ivf-build``).

    ``elapsed_sec`` starts once the session is up, so it also covers
    the body's lazy input-read setup (file listing, schema inference).
    A body that raises writes no metrics."""
    command = fn.__name__.removeprefix("cmd_").replace("_", "-")

    @functools.wraps(fn)
    def run(args) -> int:
        spark = _get_spark(args.cores)
        t0 = time.perf_counter()
        metrics, rc = fn(args, spark)
        _write_metrics(
            args.output,
            {
                "command": command,
                **metrics,
                "elapsed_sec": round(time.perf_counter() - t0, 3),
            },
        )
        return rc

    return run


@_job
def cmd_validate(args, spark):
    if args.checkpoint and not args.row_key:
        raise SystemExit("--checkpoint needs --row-key (the bucket lineage key)")
    from .binding import bind

    schema = _load_schema(args.schema)
    df = _read(spark.read, args.input, args)

    if args.checkpoint:
        from .checkpoint import CheckpointStore, global_distinct, read_violations, run_checkpointed

        store = CheckpointStore(spark, args.checkpoint)
        run_id = run_checkpointed(
            df,
            lambda sub: bind(
                schema, sub, row_key=args.row_key, coerce=args.coerce
            ).violations,
            store,
            run_id=args.run_id,
            key_col=args.row_key,
            n_buckets=args.n_buckets,
            buckets_per_job=args.buckets_per_job,
        )
        viol = read_violations(store, run_id)
        viol.write.mode("overwrite").parquet(os.path.join(args.output, "violations"))
        agg = store.metrics(run_id).groupBy().sum("rows", "violations").collect()[0]
        metrics = {
            "mode": "checkpointed",
            "run_id": run_id,
            "rows": agg["sum(rows)"],
            "violations": agg["sum(violations)"],
            "approx_distinct_keys": global_distinct(store, run_id),
            "buckets_done": len(store.done_buckets(run_id)),
        }
    else:
        res = bind(schema, df, row_key=args.row_key, coerce=args.coerce)
        # violations/ + verdicts/; metrics.json is _job's alone
        metrics = {"mode": "single-pass", **res._write_sinks(args.output)}
    return metrics, 0 if not args.fail_on_violations or not metrics.get("violations") else 2


@_job
def cmd_validate_stream(args, spark):
    from pyspark.errors import AnalysisException

    from .streaming.validate_stream import streaming_validate

    schema = _load_schema(args.schema)
    # streaming sources need an explicit schema: take it from a static
    # read of the same path (metadata-only for parquet)
    reader = spark.readStream.schema(_read(spark.read, args.input, args).schema)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    sink = os.path.join(args.output, "violations")
    q = streaming_validate(
        schema,
        _read(reader, args.input, args),
        row_key=args.row_key,
        violations_sink=sink,
        checkpoint_dir=args.stream_checkpoint,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    try:
        viol = spark.read.parquet(sink)
    except AnalysisException:
        # [PATH_NOT_FOUND]: no batch has ever run, so nothing was written
        # (a batch without violations still writes its empty epoch)
        n_viol, epochs = 0, 0
    else:
        n_viol = viol.count()
        epochs = viol.select("epoch_id").distinct().count()
    metrics = {"violations": n_viol, "epochs": epochs}
    return metrics, 0 if not args.fail_on_violations or n_viol == 0 else 2


@_job
def cmd_infer(args, spark):
    from .api import infer_schema_from_df, schema_to_dict

    df = _read(spark.read, args.input, args)
    schema = infer_schema_from_df(
        df, sample=args.sample, min_occurrence_ratio=args.min_occurrence_ratio
    )
    body = schema_to_dict(schema)
    os.makedirs(args.output, exist_ok=True)
    path = os.path.join(args.output, "schema.json")
    with open(path, "w") as f:
        json.dump(body, f, indent=2)
    metrics = {
        "schema_file": path,
        "fields": len(body["fields"]),
        "required": sum(1 for s in body["fields"] if s[2].get("required")),
    }
    return metrics, 0


@_job
def cmd_drift(args, spark):
    from pyspark.sql import functions as F

    from .operators.drift import drift_report, histogram

    cur = _read(spark.read, args.input, args)
    base = _read(spark.read, args.baseline, args)
    cols = args.cols.split(",")
    # shared bin ranges spanning BOTH tables: one tiny agg per side
    # (global min/max — broadcast-sized metadata, not a data shuffle)
    aggs = [f(c).alias(f"{tag}_{c}") for c in cols for tag, f in (("lo", F.min), ("hi", F.max))]
    rc, rb = cur.agg(*aggs).collect()[0], base.agg(*aggs).collect()[0]
    ranges = {}
    for c in cols:
        bounds = [x for x in (rc[f"lo_{c}"], rb[f"lo_{c}"], rc[f"hi_{c}"], rb[f"hi_{c}"]) if x is not None]
        if not bounds:
            raise SystemExit(f"drift: column {c!r} is all-null in both tables")
        lo, hi = min(bounds), max(bounds)
        ranges[c] = (float(lo), float(hi) if hi > lo else float(lo) + 1.0)

    def hists(df):
        parts = [
            histogram(df, c, bins=args.bins, lo=ranges[c][0], hi=ranges[c][1])
            for c in cols
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    report = drift_report(
        _commit(hists(cur), args.output, "hist_current"),
        _commit(hists(base), args.output, "hist_baseline"),
        bins=args.bins,
        ks_threshold=args.ks_threshold,
        psi_threshold=args.psi_threshold,
    )
    drifted = [r["column"] for r in report if not (r["ks_pass"] and r["psi_pass"])]
    metrics = {"report": report, "drifted_columns": drifted}
    return metrics, 2 if args.fail_on_drift and drifted else 0


@_job
def cmd_stats(args, spark):
    from .operators.stats import column_stats

    df = _read(spark.read, args.input, args)
    cols = args.cols.split(",") if args.cols else None
    st = column_stats(df, cols, approx=not args.exact)
    rows = [r.asDict() for r in _commit(st, args.output, "stats").collect()]
    return {"columns": len(rows), "stats": rows}, 0


@_job
def cmd_image_suite(args, spark):
    from .images import fmt_dim, validate_images_full

    df = _read(spark.read, args.input, args)
    res = validate_images_full(
        df, fmt_dim(spark), decode=not args.no_decode, check_caption=not args.no_caption
    )
    n_viol = _commit(res.violations, args.output, "violations").count()
    return {"violations": n_viol}, 0 if not args.fail_on_violations or n_viol == 0 else 2


@_job
def cmd_dedup(args, spark):
    from pyspark.sql import functions as F

    from .operators import dedup as dd

    df = _read(spark.read, args.input, args)
    id_col, text_col = args.id_col, args.text_col
    n_docs = df.count()
    metrics: dict = {"method": args.method, "docs": n_docs}
    losers = None  # (id_col) rows to drop for the canonical output

    if args.method == "exact":
        # NULL-text rows are never duplicates of each other:
        # fingerprint(NULL) is NULL (SQL semantics, matching
        # bloom.dedup_against's always-keep-NULL contract), but a
        # plain groupBy would lump every NULL fingerprint into one
        # "dup group" and the non-null-safe loser anti-join would then
        # drop ALL of them (none equals its keeper) — silently deleting
        # every null-text row from canonical/ and tripping
        # --fail-on-dups on corpora whose only "duplicates" are NULLs.
        # Filter NULL fingerprints out of the whole derivation; the
        # rows still pass through to canonical/ untouched.
        groups = _commit(
            dd.exact_dup_groups(df, text_col, id_col).where(F.col("fp").isNotNull()),
            args.output,
            "groups",
        )
        metrics.update(
            groups.agg(
                F.count(F.lit(1)).alias("dup_groups"),
                F.coalesce(F.sum("n_docs"), F.lit(0)).alias("dup_docs"),
            ).collect()[0].asDict()
        )
        if args.canonical:
            # keep the minimum id per fingerprint; losers = the rest.
            # Derived from the fingerprint projection (one agg + join),
            # NOT from the capped doc_ids sample in groups/.
            fp = df.select(F.col(id_col), dd.fingerprint(text_col).alias("fp")).where(
                F.col("fp").isNotNull()
            )
            keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
            losers = fp.join(keep, ["fp", id_col], "left_anti").select(id_col)
    else:
        if args.method == "minhash":
            cand = dd.minhash_lsh_candidates(
                df, id_col, text_col, k=args.k, max_bucket=args.max_bucket
            )
            pairs = dd.verify_jaccard_pairs(
                df, cand, id_col, text_col, k=args.k, threshold=args.threshold
            )
            audit_src = cand
        elif args.method == "simhash":
            pairs = dd.simhash_near_pairs(
                df, id_col, text_col,
                max_hamming=args.max_hamming, max_bucket=args.max_bucket,
            )
            audit_src = pairs
        elif args.method == "winnow":
            from .operators.winnow import substring_overlap_pairs

            pairs = substring_overlap_pairs(
                df, id_col, text_col,
                min_shared=args.min_shared, max_bucket=args.max_bucket,
            )
            audit_src = pairs
        else:
            raise SystemExit(f"unknown --method {args.method!r}")
        edge = _commit(pairs.select("id_a", "id_b"), args.output, "pairs")
        metrics["pairs"] = edge.count()
        dropped = dd.dropped_mass(audit_src)
        metrics["dropped_buckets"] = dropped["n_buckets"]
        metrics["dropped_member_entries"] = dropped["n_member_entries"]
        dd.release_cache(audit_src)
        comp = _commit(dd.connected_components(edge), args.output, "components")
        metrics.update(
            comp.agg(
                F.count(F.lit(1)).alias("clustered_docs"),
                F.count_distinct("component").alias("components"),
            ).collect()[0].asDict()
        )
        if args.canonical:
            losers = comp.where(F.col("node") != F.col("component")).select(
                F.col("node").alias(id_col)
            )

    if losers is not None:
        kept = _commit(df.join(losers, id_col, "left_anti"), args.output, "canonical")
        metrics["kept_docs"] = kept.count()
        metrics["dropped_docs"] = n_docs - metrics["kept_docs"]
    dup_evidence = metrics.get("dup_groups", metrics.get("pairs", 0))
    return metrics, 2 if args.fail_on_dups and dup_evidence else 0


@_job
def cmd_ivf_build(args, spark):
    from .operators import ivf

    df = _read(spark.read, args.input, args)
    cents = ivf.train_centroids(
        df,
        args.vec_col,
        n_clusters=args.n_clusters,
        sample_size=args.sample_size,
        seed=args.seed,
    )
    ivf.write_ivf_index(df, cents, args.output, vec_col=args.vec_col)
    n_rows = spark.read.parquet(os.path.join(args.output, "data")).count()
    metrics = {
        "rows": n_rows,
        "n_clusters": int(cents.shape[0]),
        "dim": int(cents.shape[1]),
    }
    return metrics, 0


@_job
def cmd_ivf_query(args, spark):
    from .operators import ivf

    queries = _read(spark.read, args.queries, args)
    cents = ivf.read_centroids(spark, args.index)
    data = spark.read.parquet(os.path.join(args.index, "data"))
    out = ivf.ivf_topk_batch(
        data,
        cents,
        queries.select(
            queries[args.query_id_col].alias("query_id"),
            queries[args.vec_col].alias("embedding"),
        ),
        id_col=args.id_col,
        vec_col=args.vec_col,
        k=args.k,
        n_probe=args.n_probe,
        assigned=True,
    )
    metrics = {
        "queries": queries.count(),
        "result_rows": _commit(out, args.output, "results").count(),
        "k": args.k,
        "n_probe": args.n_probe,
    }
    return metrics, 0


@_job
def cmd_decontam(args, spark):
    from pyspark.sql import functions as F

    from .operators import decontam

    df = _read(spark.read, args.input, args)
    bench = _read(spark.read, args.benchmark, args)
    report = decontam.contamination(
        df,
        bench,
        n=args.n,
        text_col=args.text_col,
        id_col=args.id_col,
        min_matches=args.min_matches,
        min_ratio=args.min_ratio,
    )
    report = _commit(report, args.output, "report")
    bad = report.where(F.col("contaminated")).select(args.id_col)
    clean = df.join(bad, args.id_col, "left_anti")
    clean.write.mode("overwrite").parquet(os.path.join(args.output, "clean"))
    agg = report.agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(
            F.sum(F.col("contaminated").cast("long")), F.lit(0)
        ).alias("bad"),
    ).collect()[0]
    n_docs, n_bad = int(agg["docs"]), int(agg["bad"])
    metrics = {
        "n": args.n,
        "docs": n_docs,
        "contaminated_docs": n_bad,
        "kept_docs": n_docs - n_bad,
    }
    return metrics, 2 if args.fail_on_contamination and n_bad else 0


@_job
def cmd_dedup_against(args, spark):
    from .operators import bloom

    df = _read(spark.read, args.input, args)
    ref = _read(spark.read, args.reference, args)
    flt = None
    bloom_in_prov: dict | None = None
    if args.bloom_in:
        flt = bloom.BloomFilter.load(args.bloom_in)
        # exactness contract: a filter built against a DIFFERENT
        # reference has genuine false negatives (true duplicates skip
        # the confirm join and are silently KEPT) — verify the stamped
        # provenance against the current --reference before trusting it
        if flt.digest is not None:
            n_now, d_now = bloom.reference_provenance(ref, args.text_col)
            if (flt.n_ref, flt.digest) != (n_now, d_now):
                raise SystemExit(
                    f"--bloom-in {args.bloom_in}: filter was built from a "
                    f"different reference (saved rows={flt.n_ref} "
                    f"digest={flt.digest}; current rows={n_now} "
                    f"digest={d_now}) — results would silently keep true "
                    "duplicates; rebuild with --bloom-out or drop --bloom-in"
                )
            bloom_in_prov = {"rows": n_now, "digest": d_now, "verified": True}
        else:
            print(
                f"warning: {args.bloom_in} is a pre-provenance (SBLM0001) "
                "filter — cannot verify it matches --reference; results are "
                "only exact if it does",
                file=sys.stderr,
            )
            bloom_in_prov = {"rows": None, "digest": None, "verified": False}
    elif not args.no_bloom:
        flt = bloom.build_bloom(ref, args.text_col, fpr=args.fpr)
        if args.bloom_out:
            flt.save(args.bloom_out)
    kept = bloom.dedup_against(
        df,
        ref,
        text_col=args.text_col,
        use_bloom=not args.no_bloom,
        fpr=args.fpr,
        bloom=flt,
    )
    n_kept = _commit(kept, args.output, "clean").count()
    n_docs = df.count()
    metrics = {
        "docs": n_docs,
        "kept_docs": n_kept,
        "dropped_docs": n_docs - n_kept,
        "bloom": not args.no_bloom,
        "fpr": args.fpr,
        **({"bloom_in": bloom_in_prov} if bloom_in_prov is not None else {}),
    }
    return metrics, 0


def _parse_kv(spec: str, cast):
    out = {}
    for part in spec.split(","):
        if not part.strip():
            continue
        k, sep, v = part.partition("=")
        k, v = k.strip(), v.strip()
        if not sep or not k:
            raise SystemExit(f"expected key=value, got {part!r}")
        # a silently unmatched key (e.g. ' src1' with a stray space)
        # would fall through to the default weight/quota — strip + fail
        # loudly instead
        out[k] = cast(v)
    return out


@_job
def cmd_pipeline(args, spark):
    """The composed training-data pass: quality filter → scrub →
    near-dup dedup → reference dedup → benchmark decontamination →
    mixing/quota sampling → sequence packing, each stage optional,
    each stage's in/out counts in metrics.json (no silent drops).

    Stage order follows practice: text-mutating steps (scrub) run
    BEFORE fingerprint-based dedup so duplicates are detected on the
    text that will actually be trained on; packing runs last over the
    surviving set.
    """
    from pyspark.sql import Observation, functions as F

    from .operators import decontam, packing, scrub, text
    from .operators.bloom import dedup_against
    from .operators.dedup import dedup_canonical

    df = _read(spark.read, args.input, args)
    id_col, text_col = args.id_col, args.text_col
    stages: list[dict] = []
    # id_col hygiene up front (ADVICE r5): the quality stage's
    # left_semi and dedup's loser anti-join match rows on id_col with
    # plain equality — NULL ids would silently vanish there (and a
    # duplicated id is kept or dropped as one) long before packing's
    # loud null-id exclusion, with the loss misattributed to the
    # stage's own filtering. Fail loudly once, mirroring
    # packing._require_integral_key.
    row0 = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col(id_col).isNull().cast("long")), F.lit(0)).alias("n_null"),
        F.count_distinct(F.col(id_col)).alias("n_ids"),
    ).collect()[0]
    n = int(row0["n"])
    if int(row0["n_null"]):
        raise SystemExit(
            f"pipeline: {row0['n_null']} rows have NULL {id_col!r} — stage "
            "rejoins would silently drop them; assign ids first "
            f"(e.g. monotonically_increasing_id) or filter NULL {id_col!r}"
        )
    if int(row0["n_ids"]) != n:
        raise SystemExit(
            f"pipeline: {id_col!r} is not unique ({row0['n_ids']} distinct over "
            f"{n} rows) — stage joins on it would conflate duplicated ids"
        )

    def _reuse_or_commit(rel: str, make_df):
        """``(frame, resumed)`` for the output ``rel``. With --resume and
        its parquet ``_SUCCESS`` marker present, the committed files are
        read back instead of recomputed, so a crashed chain restarts
        from the first unfinished output. make_df is a thunk: a resumed
        output never pays plan construction side effects (e.g. the
        Bloom build's jobs)."""
        if args.resume and os.path.exists(os.path.join(args.output, rel, "_SUCCESS")):
            return spark.read.parquet(os.path.join(args.output, rel)), True
        return _commit(make_df(), args.output, rel), False

    def _stage(name: str, make_df, **extra):
        nonlocal df, n
        # materialize between stages: each stage's output feeds several
        # downstream scans (counts + next stage) — and keeps lineage
        # shallow on long chains. Resume trusts the stage NAME+INDEX:
        # rerunning with different stage parameters must use a fresh
        # --output (documented on the flag).
        df, resumed = _reuse_or_commit(f"stage_{len(stages)}_{name}", make_df)
        n_out = df.count()
        stages.append(
            {"stage": name, "rows_in": n, "rows_out": n_out, "resumed": resumed, **extra}
        )
        n = n_out

    if args.min_quality is not None:
        def _quality(df=df):
            q = text.quality_features(df, text_col, id_col).where(
                F.col("quality") >= args.min_quality
            )
            return df.join(q.select(id_col), id_col, "left_semi")

        _stage("quality_filter", _quality, min_quality=args.min_quality)

    if args.scrub:
        audit = None

        def _scrub(df=df):
            # ONE projection, no join, in the column order the stage
            # has always written; the audit totals ride the committing
            # write as an Observation, so the regexes run once, and a
            # stage --resume reuses reports no audit
            nonlocal audit
            audit = Observation("scrub_audit")
            rest = [c for c in df.columns if c not in (id_col, text_col)]
            return df.observe(
                audit,
                *[F.sum(n).alias(f"total_n_{name}")
                  for name, n in scrub.pattern_counts(text_col).items()],
            ).select(id_col, *rest, scrub.scrub_column(text_col).alias(text_col))

        _stage("scrub", _scrub)
        if audit is not None:
            stages[-1].update(audit.get)

    if args.dedup:
        _stage("dedup_canonical", lambda df=df: dedup_canonical(df, id_col, text_col))

    if args.reference:
        ref = _read(spark.read, args.reference, args)
        _stage("dedup_against", lambda df=df: dedup_against(df, ref, text_col))

    if args.benchmark:
        bench = _read(spark.read, args.benchmark, args)
        _stage(
            "decontaminate",
            lambda df=df: decontam.decontaminate(
                df, bench, n=args.decontam_n, text_col=text_col, id_col=id_col
            ),
            n=args.decontam_n,
        )

    if args.mix:
        _stage(
            "mix_sources",
            lambda df=df: packing.mix_sources(
                df, _parse_kv(args.mix, float), args.source_col, id_col,
                seed=args.seed, default_weight=args.default_weight,
            ),
        )

    if args.quota:
        _stage(
            "sample_stratified",
            lambda df=df: packing.sample_stratified(
                df, _parse_kv(args.quota, int), args.source_col, id_col,
                seed=args.seed, default_quota=args.default_quota,
            ),
        )

    docs, _ = _reuse_or_commit("docs", lambda: df)
    if args.chunk_tokens:
        pk, pack_resumed = _reuse_or_commit(
            "packed",
            lambda: packing.pack_documents(
                docs,
                chunk_tokens=args.chunk_tokens,
                id_col=id_col,
                text_col=text_col,
                shuffle_seed=args.shuffle_seed,
            ),
        )
        # one aggregation: rows_out counts the PACKED rows (null-id
        # docs are excluded by pack_documents), and max(chunk_last) is
        # NULL on an empty pack — don't crash after the expensive job
        agg = pk.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
            F.max("chunk_last").alias("last"),
        ).collect()[0]
        stages.append(
            {
                "stage": "pack",
                "rows_in": n,
                "rows_out": int(agg["rows"]),
                "total_tokens": int(agg["tokens"]),
                "chunks": int(agg["last"]) + 1 if agg["last"] is not None else 0,
                "chunk_tokens": args.chunk_tokens,
                "shuffle_seed": args.shuffle_seed,
                "resumed": pack_resumed,
            }
        )

    return {"stages": stages, "docs_out": n}, 0


def _job_flags(p: argparse.ArgumentParser) -> None:
    """The flags every job takes: how its inputs are read, where its
    outputs go, and the local session's cores."""
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument("--csv-header", action="store_true", help="csv: first line is a header")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--cores", default=None, help="local session cores when not under spark-submit (default $SPARK_GRAFT_CPUS, else every host core)")


def _common(p: argparse.ArgumentParser, *, schema: bool = False) -> None:
    p.add_argument("--input", required=True, help="table path (parquet dir/file, csv, json)")
    _job_flags(p)
    if schema:
        p.add_argument("--schema", required=True, help="schema JSON file (api.schema_from_dict format)")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m sinter_spark",
        description="sinter_spark validation jobs (spark-submit friendly)",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    v = sub.add_parser("validate", help="schema + constraint validation pass")
    _common(v, schema=True)
    v.add_argument("--row-key", default=None, help="column naming each row in violation output")
    v.add_argument("--coerce", action="store_true")
    v.add_argument("--checkpoint", default=None, help="checkpoint warehouse dir → resumable bucket chunks")
    v.add_argument("--run-id", default=None, help="resume/run identity under --checkpoint")
    v.add_argument("--n-buckets", type=int, default=32)
    v.add_argument("--buckets-per-job", type=int, default=8)
    v.add_argument("--fail-on-violations", action="store_true", help="exit 2 when any violation is found")
    v.set_defaults(fn=cmd_validate)

    vs = sub.add_parser(
        "validate-stream",
        help="streaming validation pass (availableNow: drain new files, write, exit)",
    )
    _common(vs, schema=True)
    vs.add_argument("--row-key", required=True)
    vs.add_argument("--stream-checkpoint", required=True,
                    help="Structured Streaming checkpoint dir — re-runs process only NEW files")
    vs.add_argument("--max-files-per-trigger", type=int, default=None)
    vs.add_argument("--fail-on-violations", action="store_true")
    vs.set_defaults(fn=cmd_validate_stream)

    inf = sub.add_parser("infer", help="infer a schema JSON from a table sample")
    _common(inf)
    inf.add_argument("--sample", type=int, default=1000)
    inf.add_argument("--min-occurrence-ratio", type=float, default=0.8)
    inf.set_defaults(fn=cmd_infer)

    d = sub.add_parser("drift", help="KS/PSI distribution drift vs a baseline snapshot")
    _common(d)
    d.add_argument("--baseline", required=True, help="baseline table path (same format)")
    d.add_argument("--cols", required=True, help="comma-separated numeric columns")
    d.add_argument("--bins", type=int, default=32)
    d.add_argument("--ks-threshold", type=float, default=0.15)
    d.add_argument("--psi-threshold", type=float, default=0.25)
    d.add_argument("--fail-on-drift", action="store_true", help="exit 2 when any column drifts")
    d.set_defaults(fn=cmd_drift)

    s = sub.add_parser("stats", help="one-pass column stats")
    _common(s)
    s.add_argument("--cols", default=None, help="comma-separated columns (default: all)")
    s.add_argument("--exact", action="store_true", help="exact distinct instead of HLL")
    s.set_defaults(fn=cmd_stats)

    i = sub.add_parser("image-suite", help="full image+caption constraint suite")
    _common(i)
    i.add_argument("--no-decode", action="store_true")
    i.add_argument("--no-caption", action="store_true")
    i.add_argument("--fail-on-violations", action="store_true")
    i.set_defaults(fn=cmd_image_suite)

    dp = sub.add_parser(
        "dedup", help="duplicate / near-duplicate detection + keep-one dedup"
    )
    _common(dp)
    dp.add_argument("--method", required=True,
                    choices=["exact", "minhash", "simhash", "winnow"])
    dp.add_argument("--id-col", default="doc_id")
    dp.add_argument("--text-col", default="text")
    dp.add_argument("--k", type=int, default=4, help="char shingle size (minhash)")
    dp.add_argument("--threshold", type=float, default=0.5,
                    help="minhash: exact-Jaccard verification threshold")
    dp.add_argument("--max-hamming", type=int, default=3, help="simhash bit distance")
    dp.add_argument("--min-shared", type=int, default=2,
                    help="winnow: min shared fingerprints per pair")
    dp.add_argument("--max-bucket", type=int, default=1000,
                    help="LSH mega-bucket cap (drops audited in metrics.json)")
    dp.add_argument("--canonical", action="store_true",
                    help="also write canonical/ (keep-one deduped table)")
    dp.add_argument("--fail-on-dups", action="store_true",
                    help="exit 2 when any duplicate evidence is found")
    dp.set_defaults(fn=cmd_dedup)

    pl = sub.add_parser(
        "pipeline",
        help="composed training-data pass: quality -> scrub -> dedup -> "
        "reference dedup -> decontam -> mix/quota -> pack",
    )
    _common(pl)
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--source-col", default="source")
    pl.add_argument("--min-quality", type=float, default=None,
                    help="drop docs below this quality_features score")
    pl.add_argument("--scrub", action="store_true",
                    help="redact emails/URLs/IPs (counts in metrics)")
    pl.add_argument("--dedup", action="store_true",
                    help="minhash near-dup keep-one dedup")
    pl.add_argument("--reference", default=None,
                    help="drop docs whose text occurs in this corpus")
    pl.add_argument("--benchmark", default=None,
                    help="decontaminate against this eval table")
    pl.add_argument("--decontam-n", type=int, default=8)
    pl.add_argument("--mix", default=None,
                    help="per-source keep fractions, e.g. src0=1.0,src1=0.3")
    pl.add_argument("--default-weight", type=float, default=1.0)
    pl.add_argument("--quota", default=None,
                    help="per-source exact quotas, e.g. src0=1000,src1=50")
    pl.add_argument("--default-quota", type=int, default=0)
    pl.add_argument("--seed", type=int, default=0)
    pl.add_argument("--chunk-tokens", type=int, default=None,
                    help="also write packed/ chunk spans")
    pl.add_argument("--shuffle-seed", type=int, default=None,
                    help="pack in deterministic hash-shuffle order")
    pl.add_argument("--resume", action="store_true",
                    help="reuse committed stage_N outputs under --output "
                    "(restart a crashed chain from the first unfinished "
                    "stage; changing stage parameters needs a fresh output dir)")
    pl.set_defaults(fn=cmd_pipeline)

    dc = sub.add_parser(
        "decontam", help="benchmark decontamination (n-gram eval-set overlap)"
    )
    _common(dc)
    dc.add_argument("--benchmark", required=True,
                    help="benchmark/eval table path (same format as --input)")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--n", type=int, default=8, help="n-gram size (tokens)")
    dc.add_argument("--min-matches", type=int, default=1,
                    help="matched distinct n-grams to flag a doc")
    dc.add_argument("--min-ratio", type=float, default=None,
                    help="also require matched/total ratio >= this")
    dc.add_argument("--fail-on-contamination", action="store_true",
                    help="exit 2 when any doc is flagged")
    dc.set_defaults(fn=cmd_decontam)

    da = sub.add_parser(
        "dedup-against",
        help="drop rows whose normalized text occurs in a reference corpus "
        "(Bloom-prefiltered exact anti-join)",
    )
    _common(da)
    da.add_argument("--reference", required=True,
                    help="reference corpus path (same format as --input)")
    da.add_argument("--text-col", default="text")
    da.add_argument("--fpr", type=float, default=0.01,
                    help="Bloom false-positive rate (prefilter only; result is exact)")
    # the plain anti-join neither uses nor builds a filter, and a reused
    # filter is not rebuilt, so at most one of these applies
    bl = da.add_mutually_exclusive_group()
    bl.add_argument("--no-bloom", action="store_true",
                    help="plain anti-join (skip the Bloom prefilter)")
    bl.add_argument("--bloom-out", default=None,
                    help="persist the built filter here for later runs")
    bl.add_argument("--bloom-in", default=None,
                    help="reuse a filter persisted by --bloom-out (skips the build)")
    da.set_defaults(fn=cmd_dedup_against)

    iv = sub.add_parser("ivf", help="ANN index jobs (IVF over an embedding column)")
    ivsub = iv.add_subparsers(dest="ivf_command", required=True)

    ib = ivsub.add_parser("build", help="train centroids + write the partitioned index")
    _common(ib)
    ib.add_argument("--vec-col", default="embedding")
    ib.add_argument("--n-clusters", type=int, default=16)
    ib.add_argument("--sample-size", type=int, default=20_000)
    ib.add_argument("--seed", type=int, default=7)
    ib.set_defaults(fn=cmd_ivf_build)

    iq = ivsub.add_parser("query", help="batched top-k cosine against a written index")
    iq.add_argument("--index", required=True, help="index dir written by ivf build")
    iq.add_argument("--queries", required=True, help="queries table path")
    _job_flags(iq)
    iq.add_argument("--id-col", default="vec_id")
    iq.add_argument("--vec-col", default="embedding")
    iq.add_argument("--query-id-col", default="query_id")
    iq.add_argument("--k", type=int, default=10)
    iq.add_argument("--n-probe", type=int, default=4)
    iq.set_defaults(fn=cmd_ivf_query)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
