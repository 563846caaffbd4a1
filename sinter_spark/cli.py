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

Commands:

* ``validate`` — one schema-validation pass (:func:`binding.bind`):
  writes ``violations/`` (exploded rows: row_key, path, code, message,
  context) and ``verdicts/`` (per-partition pass/fail + counts) as
  parquet under ``--output``, plus a ``metrics.json`` summary. With
  ``--checkpoint`` the pass runs through
  :func:`checkpoint.run_checkpointed` in resumable bucket chunks with
  per-bucket lineage + HLL metrics — re-running the same ``--run-id``
  after a crash resumes from the first unfinished bucket.
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


def _read(spark, path: str, fmt: str, csv_header: bool):
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        return spark.read.option("header", str(csv_header).lower()).csv(path)
    if fmt == "json":
        return spark.read.json(path)
    raise SystemExit(f"unsupported --format {fmt!r} (parquet|csv|json)")


def _load_schema(path: str):
    from .api import schema_from_dict

    with open(path) as f:
        return schema_from_dict(json.load(f))


def _write_metrics(out_dir: str, metrics: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    print(json.dumps(metrics, default=str))


def cmd_validate(args) -> int:
    if args.checkpoint and not args.row_key:
        raise SystemExit("--checkpoint needs --row-key (the bucket lineage key)")
    from .binding import bind

    spark = _get_spark(args.cores)
    schema = _load_schema(args.schema)
    df = _read(spark, args.input, args.format, args.csv_header)
    t0 = time.perf_counter()

    if args.checkpoint:
        from .checkpoint import CheckpointStore, read_violations, run_checkpointed

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
        from .checkpoint import global_distinct

        agg = store.metrics(run_id).groupBy().sum("rows", "violations").collect()[0]
        metrics = {
            "command": "validate",
            "mode": "checkpointed",
            "run_id": run_id,
            "rows": agg["sum(rows)"],
            "violations": agg["sum(violations)"],
            "approx_distinct_keys": global_distinct(store, run_id),
            "buckets_done": len(store.done_buckets(run_id)),
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        }
    else:
        res = bind(schema, df, row_key=args.row_key, coerce=args.coerce)
        m = res.write_parquet(args.output)  # violations/ + verdicts/ + metrics.json
        metrics = {
            "command": "validate",
            "mode": "single-pass",
            **m,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        }
    _write_metrics(args.output, metrics)
    return 0 if not args.fail_on_violations or not metrics.get("violations") else 2


def cmd_validate_stream(args) -> int:
    from .streaming.validate_stream import streaming_validate

    spark = _get_spark(args.cores)
    schema = _load_schema(args.schema)
    # streaming sources need an explicit schema: take it from a static
    # read of the same path (metadata-only for parquet)
    static_schema = _read(spark, args.input, args.format, args.csv_header).schema
    reader = spark.readStream.schema(static_schema)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    if args.format == "parquet":
        sdf = reader.parquet(args.input)
    elif args.format == "json":
        sdf = reader.json(args.input)
    else:
        sdf = reader.option("header", str(args.csv_header).lower()).csv(args.input)
    sink = os.path.join(args.output, "violations")
    t0 = time.perf_counter()
    q = streaming_validate(
        schema,
        sdf,
        row_key=args.row_key,
        violations_sink=sink,
        checkpoint_dir=args.stream_checkpoint,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    try:
        viol = spark.read.parquet(sink)
        n_viol = viol.count()
        epochs = viol.select("epoch_id").distinct().count()
    except Exception:
        n_viol, epochs = 0, 0  # no violations ever written → empty sink
    _write_metrics(
        args.output,
        {
            "command": "validate-stream",
            "violations": n_viol,
            "epochs": epochs,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0 if not args.fail_on_violations or n_viol == 0 else 2


def cmd_infer(args) -> int:
    from .api import infer_schema_from_df, schema_to_dict

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    t0 = time.perf_counter()
    schema = infer_schema_from_df(
        df, sample=args.sample, min_occurrence_ratio=args.min_occurrence_ratio
    )
    body = schema_to_dict(schema)
    os.makedirs(args.output, exist_ok=True)
    path = os.path.join(args.output, "schema.json")
    with open(path, "w") as f:
        json.dump(body, f, indent=2)
    _write_metrics(
        args.output,
        {
            "command": "infer",
            "schema_file": path,
            "fields": len(body["fields"]),
            "required": sum(1 for s in body["fields"] if s[2].get("required")),
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


def cmd_drift(args) -> int:
    from pyspark.sql import functions as F

    from .operators.drift import drift_report, histogram

    spark = _get_spark(args.cores)
    cur = _read(spark, args.input, args.format, args.csv_header)
    base = _read(spark, args.baseline, args.format, args.csv_header)
    cols = args.cols.split(",")
    t0 = time.perf_counter()
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

    hc, hb = hists(cur), hists(base)
    hc.write.mode("overwrite").parquet(os.path.join(args.output, "hist_current"))
    hb.write.mode("overwrite").parquet(os.path.join(args.output, "hist_baseline"))
    report = drift_report(
        spark.read.parquet(os.path.join(args.output, "hist_current")),
        spark.read.parquet(os.path.join(args.output, "hist_baseline")),
        bins=args.bins,
        ks_threshold=args.ks_threshold,
        psi_threshold=args.psi_threshold,
    )
    drifted = [r["column"] for r in report if not (r["ks_pass"] and r["psi_pass"])]
    _write_metrics(
        args.output,
        {
            "command": "drift",
            "report": report,
            "drifted_columns": drifted,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 2 if args.fail_on_drift and drifted else 0


def cmd_stats(args) -> int:
    from .operators.stats import column_stats

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    cols = args.cols.split(",") if args.cols else None
    t0 = time.perf_counter()
    st = column_stats(df, cols, approx=not args.exact)
    st.write.mode("overwrite").parquet(os.path.join(args.output, "stats"))
    rows = [r.asDict() for r in spark.read.parquet(os.path.join(args.output, "stats")).collect()]
    _write_metrics(
        args.output,
        {
            "command": "stats",
            "columns": len(rows),
            "stats": rows,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


def cmd_image_suite(args) -> int:
    from .images import fmt_dim, validate_images_full

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    t0 = time.perf_counter()
    res = validate_images_full(
        df, fmt_dim(spark), decode=not args.no_decode, check_caption=not args.no_caption
    )
    res.violations.write.mode("overwrite").parquet(
        os.path.join(args.output, "violations")
    )
    n_viol = spark.read.parquet(os.path.join(args.output, "violations")).count()
    _write_metrics(
        args.output,
        {
            "command": "image-suite",
            "violations": n_viol,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0 if not args.fail_on_violations or n_viol == 0 else 2


def cmd_dedup(args) -> int:
    from pyspark.sql import functions as F

    from .operators import dedup as dd

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    id_col, text_col = args.id_col, args.text_col
    t0 = time.perf_counter()
    n_docs = df.count()
    metrics: dict = {"command": "dedup", "method": args.method, "docs": n_docs}
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
        groups = dd.exact_dup_groups(df, text_col, id_col).where(
            F.col("fp").isNotNull()
        )
        groups.write.mode("overwrite").parquet(os.path.join(args.output, "groups"))
        groups = spark.read.parquet(os.path.join(args.output, "groups"))
        metrics["dup_groups"] = groups.count()
        metrics["dup_docs"] = (
            groups.agg(F.coalesce(F.sum("n_docs"), F.lit(0))).collect()[0][0]
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
        pairs.select("id_a", "id_b").write.mode("overwrite").parquet(
            os.path.join(args.output, "pairs")
        )
        edge = spark.read.parquet(os.path.join(args.output, "pairs"))
        metrics["pairs"] = edge.count()
        dropped = dd.dropped_mass(audit_src)
        metrics["dropped_buckets"] = dropped["n_buckets"]
        metrics["dropped_member_entries"] = dropped["n_member_entries"]
        dd.release_cache(audit_src)
        algo = (
            dd.connected_components
            if args.algorithm == "label"
            else dd.connected_components_star
        )
        comp = algo(edge)
        comp.write.mode("overwrite").parquet(os.path.join(args.output, "components"))
        comp = spark.read.parquet(os.path.join(args.output, "components"))
        metrics["clustered_docs"] = comp.count()
        metrics["components"] = comp.select("component").distinct().count()
        if args.canonical:
            losers = comp.where(F.col("node") != F.col("component")).select(
                F.col("node").alias(id_col)
            )

    if losers is not None:
        kept = df.join(losers, id_col, "left_anti")
        kept.write.mode("overwrite").parquet(os.path.join(args.output, "canonical"))
        metrics["kept_docs"] = spark.read.parquet(
            os.path.join(args.output, "canonical")
        ).count()
        metrics["dropped_docs"] = n_docs - metrics["kept_docs"]
    metrics["elapsed_sec"] = round(time.perf_counter() - t0, 3)
    _write_metrics(args.output, metrics)
    dup_evidence = metrics.get("dup_groups", metrics.get("pairs", 0))
    return 2 if args.fail_on_dups and dup_evidence else 0


def cmd_ivf_build(args) -> int:
    from .operators import ivf

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    t0 = time.perf_counter()
    cents = ivf.train_centroids(
        df,
        args.vec_col,
        n_clusters=args.n_clusters,
        sample_size=args.sample_size,
        seed=args.seed,
    )
    ivf.write_ivf_index(df, cents, args.output, vec_col=args.vec_col)
    n_rows = spark.read.parquet(os.path.join(args.output, "data")).count()
    _write_metrics(
        args.output,
        {
            "command": "ivf-build",
            "rows": n_rows,
            "n_clusters": int(cents.shape[0]),
            "dim": int(cents.shape[1]),
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


def cmd_ivf_query(args) -> int:
    from .operators import ivf

    spark = _get_spark(args.cores)
    queries = _read(spark, args.queries, args.format, args.csv_header)
    t0 = time.perf_counter()
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
    out.write.mode("overwrite").parquet(os.path.join(args.output, "results"))
    res = spark.read.parquet(os.path.join(args.output, "results"))
    _write_metrics(
        args.output,
        {
            "command": "ivf-query",
            "queries": queries.count(),
            "result_rows": res.count(),
            "k": args.k,
            "n_probe": args.n_probe,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


def cmd_decontam(args) -> int:
    from pyspark.sql import functions as F

    from .operators import decontam

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    bench = _read(spark, args.benchmark, args.format, args.csv_header)
    t0 = time.perf_counter()
    report = decontam.contamination(
        df,
        bench,
        n=args.n,
        text_col=args.text_col,
        id_col=args.id_col,
        min_matches=args.min_matches,
        min_ratio=args.min_ratio,
    )
    report.write.mode("overwrite").parquet(os.path.join(args.output, "report"))
    report = spark.read.parquet(os.path.join(args.output, "report"))
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
    _write_metrics(
        args.output,
        {
            "command": "decontam",
            "n": args.n,
            "docs": n_docs,
            "contaminated_docs": n_bad,
            "kept_docs": n_docs - n_bad,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 2 if args.fail_on_contamination and n_bad else 0


def cmd_dedup_against(args) -> int:
    from .operators import bloom

    if args.no_bloom and (args.bloom_in or args.bloom_out):
        raise SystemExit(
            "--no-bloom contradicts --bloom-in/--bloom-out: the plain "
            "anti-join neither uses nor builds a filter"
        )
    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    ref = _read(spark, args.reference, args.format, args.csv_header)
    t0 = time.perf_counter()
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
    kept.write.mode("overwrite").parquet(os.path.join(args.output, "clean"))
    n_docs = df.count()
    n_kept = spark.read.parquet(os.path.join(args.output, "clean")).count()
    _write_metrics(
        args.output,
        {
            "command": "dedup-against",
            "docs": n_docs,
            "kept_docs": n_kept,
            "dropped_docs": n_docs - n_kept,
            "bloom": not args.no_bloom,
            "fpr": args.fpr,
            **({"bloom_in": bloom_in_prov} if bloom_in_prov is not None else {}),
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


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


def cmd_pipeline(args) -> int:
    """The composed training-data pass: quality filter → scrub →
    near-dup dedup → reference dedup → benchmark decontamination →
    mixing/quota sampling → sequence packing, each stage optional,
    each stage's in/out counts in metrics.json (no silent drops).

    Stage order follows practice: text-mutating steps (scrub) run
    BEFORE fingerprint-based dedup so duplicates are detected on the
    text that will actually be trained on; packing runs last over the
    surviving set.
    """
    from pyspark.sql import functions as F

    from .operators import decontam, packing, scrub, text
    from .operators.bloom import dedup_against
    from .operators.dedup import dedup_canonical

    spark = _get_spark(args.cores)
    df = _read(spark, args.input, args.format, args.csv_header)
    id_col, text_col = args.id_col, args.text_col
    t0 = time.perf_counter()
    stages: list[dict] = []
    # id_col hygiene up front (ADVICE r5): the quality stage's
    # left_semi and the scrub stage's inner join rejoin on id_col with
    # plain equality — NULL ids would silently vanish there (and
    # duplicated ids fan the scrub join out) long before packing's
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
            f"{n} rows) — stage rejoins would fan out duplicated ids"
        )

    def _stage_committed(name: str) -> bool:
        """True when --resume can reuse stage_<next-index>_<name>."""
        path = os.path.join(args.output, f"stage_{len(stages)}_{name}")
        return bool(
            getattr(args, "resume", False)
            and os.path.exists(os.path.join(path, "_SUCCESS"))
        )

    def _stage(name: str, make_df, **extra):
        nonlocal df, n
        # materialize between stages: each stage's output feeds several
        # downstream scans (counts + next stage) — and keeps lineage
        # shallow on long chains. With --resume, a stage whose output
        # already committed (parquet _SUCCESS marker) is read back
        # instead of recomputed — a crashed chain restarts from the
        # first unfinished stage. Resume trusts the stage NAME+INDEX:
        # rerunning with different stage parameters must use a fresh
        # --output (documented on the flag).
        path = os.path.join(args.output, f"stage_{len(stages)}_{name}")
        resumed = _stage_committed(name)
        if not resumed:
            # make_df is a thunk: resumed stages never pay plan
            # construction side effects (e.g. the Bloom build's jobs)
            make_df().write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
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
        scrubbed = scrub.scrub_text(df, text_col, id_col)
        audit = {}
        if not _stage_committed("scrub"):
            # ONE aggregation job for the whole audit — and none at all
            # when --resume will reuse the committed stage output
            cols = [c for c in scrubbed.columns if c.startswith("n_")]
            row = scrubbed.agg(*[F.sum(c).alias(c) for c in cols]).collect()[0]
            audit = {f"total_{c}": row[c] for c in cols}
        _stage(
            "scrub",
            lambda df=df: df.drop(text_col).join(
                scrubbed.select(id_col, F.col("scrubbed").alias(text_col)),
                id_col,
            ),
            **audit,
        )

    if args.dedup:
        _stage("dedup_canonical", lambda df=df: dedup_canonical(df, id_col, text_col))

    if args.reference:
        ref = _read(spark, args.reference, args.format, args.csv_header)
        _stage("dedup_against", lambda df=df: dedup_against(df, ref, text_col))

    if args.benchmark:
        bench = _read(spark, args.benchmark, args.format, args.csv_header)
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

    def _committed(rel: str) -> bool:
        return bool(
            getattr(args, "resume", False)
            and os.path.exists(os.path.join(args.output, rel, "_SUCCESS"))
        )

    docs_resumed = _committed("docs")
    if not docs_resumed:
        df.write.mode("overwrite").parquet(os.path.join(args.output, "docs"))
    if args.chunk_tokens:
        pack_resumed = _committed("packed")
        if not pack_resumed:
            packed = packing.pack_documents(
                spark.read.parquet(os.path.join(args.output, "docs")),
                chunk_tokens=args.chunk_tokens,
                id_col=id_col,
                text_col=text_col,
                shuffle_seed=args.shuffle_seed,
            )
            packed.write.mode("overwrite").parquet(
                os.path.join(args.output, "packed")
            )
        pk = spark.read.parquet(os.path.join(args.output, "packed"))
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

    _write_metrics(
        args.output,
        {
            "command": "pipeline",
            "stages": stages,
            "docs_out": n,
            "elapsed_sec": round(time.perf_counter() - t0, 3),
        },
    )
    return 0


def _common(p: argparse.ArgumentParser, *, schema: bool) -> None:
    p.add_argument("--input", required=True, help="table path (parquet dir/file, csv, json)")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument("--csv-header", action="store_true", help="csv: first line is a header")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--cores", default=None, help="local session cores when not under spark-submit (default $SPARK_GRAFT_CPUS, else every host core)")
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
    _common(inf, schema=False)
    inf.add_argument("--sample", type=int, default=1000)
    inf.add_argument("--min-occurrence-ratio", type=float, default=0.8)
    inf.set_defaults(fn=cmd_infer)

    d = sub.add_parser("drift", help="KS/PSI distribution drift vs a baseline snapshot")
    _common(d, schema=False)
    d.add_argument("--baseline", required=True, help="baseline table path (same format)")
    d.add_argument("--cols", required=True, help="comma-separated numeric columns")
    d.add_argument("--bins", type=int, default=32)
    d.add_argument("--ks-threshold", type=float, default=0.15)
    d.add_argument("--psi-threshold", type=float, default=0.25)
    d.add_argument("--fail-on-drift", action="store_true", help="exit 2 when any column drifts")
    d.set_defaults(fn=cmd_drift)

    s = sub.add_parser("stats", help="one-pass column stats")
    _common(s, schema=False)
    s.add_argument("--cols", default=None, help="comma-separated columns (default: all)")
    s.add_argument("--exact", action="store_true", help="exact distinct instead of HLL")
    s.set_defaults(fn=cmd_stats)

    i = sub.add_parser("image-suite", help="full image+caption constraint suite")
    _common(i, schema=False)
    i.add_argument("--no-decode", action="store_true")
    i.add_argument("--no-caption", action="store_true")
    i.add_argument("--fail-on-violations", action="store_true")
    i.set_defaults(fn=cmd_image_suite)

    dp = sub.add_parser(
        "dedup", help="duplicate / near-duplicate detection + keep-one dedup"
    )
    _common(dp, schema=False)
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
    dp.add_argument("--algorithm", default="label", choices=["label", "star"],
                    help="connected-components algorithm")
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
    _common(pl, schema=False)
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
    _common(dc, schema=False)
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
    _common(da, schema=False)
    da.add_argument("--reference", required=True,
                    help="reference corpus path (same format as --input)")
    da.add_argument("--text-col", default="text")
    da.add_argument("--fpr", type=float, default=0.01,
                    help="Bloom false-positive rate (prefilter only; result is exact)")
    da.add_argument("--no-bloom", action="store_true",
                    help="plain anti-join (skip the Bloom prefilter)")
    da.add_argument("--bloom-out", default=None,
                    help="persist the built filter here for later runs")
    da.add_argument("--bloom-in", default=None,
                    help="reuse a filter persisted by --bloom-out (skips the build)")
    da.set_defaults(fn=cmd_dedup_against)

    iv = sub.add_parser("ivf", help="ANN index jobs (IVF over an embedding column)")
    ivsub = iv.add_subparsers(dest="ivf_command", required=True)

    ib = ivsub.add_parser("build", help="train centroids + write the partitioned index")
    _common(ib, schema=False)
    ib.add_argument("--vec-col", default="embedding")
    ib.add_argument("--n-clusters", type=int, default=16)
    ib.add_argument("--sample-size", type=int, default=20_000)
    ib.add_argument("--seed", type=int, default=7)
    ib.set_defaults(fn=cmd_ivf_build)

    iq = ivsub.add_parser("query", help="batched top-k cosine against a written index")
    iq.add_argument("--index", required=True, help="index dir written by ivf build")
    iq.add_argument("--queries", required=True, help="queries table path")
    iq.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    iq.add_argument("--csv-header", action="store_true")
    iq.add_argument("--output", required=True)
    iq.add_argument("--cores", default=None)
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
