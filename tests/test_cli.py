"""CLI (python -m sinter_spark / spark-submit job) — the operational
surface: schema-from-JSON loading, validate single-pass and
checkpoint-resumable modes, stats, image-suite, exit-code contract."""

import json
import os
import subprocess
import sys

import pytest

from sinter_spark.api import schema_from_dict
from sinter_spark.cli import build_parser, cmd_stats, cmd_validate


EVENTS_SCHEMA = {
    "fields": [
        ["event_id", "integer"],
        ["value", "float", {"gteq": 3.0}],
    ]
}


def _write_schema(tmp_path, d=EVENTS_SCHEMA):
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(d))
    return str(p)


def _metrics(out, command):
    """A finished job's metrics.json, after checking the two keys every
    command writes: its subcommand name and a float elapsed_sec >= 0."""
    m = json.loads((out / "metrics.json").read_text())
    assert m["command"] == command
    assert isinstance(m["elapsed_sec"], float) and m["elapsed_sec"] >= 0
    return m


class TestSchemaFromDict:
    def test_round_trip_fields_and_options(self):
        s = schema_from_dict(
            {
                "title": "t",
                "strict": True,
                "fields": [
                    ["w", "integer", {"gt": 0}],
                    ["embedding", ["array", "float"], {"min_items": 4}],
                    ["meta", {"fields": [["lang", "string"]]}, {"optional": True}],
                ],
            }
        )
        assert s.field_names() == ["w", "embedding", "meta"]
        assert s.config.strict is True
        # min_items migrates into the array type spec (schema.ex:665-686)
        assert s.fields["embedding"].type[:2] == ("array", "float")
        assert s.fields["embedding"].type[2] == {"min_items": 4}

    def test_nested_object_validates(self):
        import sinter_spark as ss

        s = schema_from_dict(
            {"fields": [["meta", {"fields": [["lang", "string", {"min_length": 2}]]}]]}
        )
        ok, _, errs = ss.validate(s, {"meta": {"lang": "e"}})
        assert not ok and errs[0].path == ("meta", "lang")

    def test_hooks_rejected_in_json(self):
        with pytest.raises(ValueError, match="post_validate"):
            schema_from_dict({"fields": [["a", "string"]], "post_validate": "x"})

    def test_missing_fields_key(self):
        with pytest.raises(ValueError, match="fields"):
            schema_from_dict({"strict": True})


class TestValidateCommand:
    def test_single_pass_matches_library(self, spark, sf_dir, tmp_path):
        args = build_parser().parse_args(
            [
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", _write_schema(tmp_path),
                "--row-key", "event_id",
                "--output", str(tmp_path / "out"),
            ]
        )
        rc = cmd_validate(args)
        assert rc == 0  # no --fail-on-violations → 0 even with violations
        metrics = _metrics(tmp_path / "out", "validate")
        viol = spark.read.parquet(str(tmp_path / "out" / "violations"))
        # written rows ≡ the library pass over the same schema JSON
        from sinter_spark.binding import bind

        lib = bind(
            schema_from_dict(EVENTS_SCHEMA),
            spark.read.parquet(f"{sf_dir}/events.parquet"),
            row_key="event_id",
        ).violations
        assert sorted((r["row_key"], r["code"]) for r in viol.collect()) == sorted(
            (r["row_key"], r["code"]) for r in lib.collect()
        )
        assert metrics["violations"] == viol.count()
        verdicts = spark.read.parquet(str(tmp_path / "out" / "verdicts"))
        assert verdicts.selectExpr("sum(rows)").collect()[0][0] == metrics["rows"]

    def test_metrics_json_written_once(self, spark, sf_dir, tmp_path, monkeypatch):
        """Single-pass validate: _job writes metrics.json; the result
        export must not write (and then lose) a second copy first."""
        import builtins

        writes = []
        real_open = builtins.open

        def recording_open(file, mode="r", *a, **kw):
            if str(file).endswith("metrics.json") and "w" in mode:
                writes.append(str(file))
            return real_open(file, mode, *a, **kw)

        args = build_parser().parse_args(
            [
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", _write_schema(tmp_path),
                "--row-key", "event_id",
                "--output", str(tmp_path / "out"),
            ]
        )
        monkeypatch.setattr(builtins, "open", recording_open)
        assert cmd_validate(args) == 0
        monkeypatch.undo()
        assert writes == [str(tmp_path / "out" / "metrics.json")]
        assert _metrics(tmp_path / "out", "validate")["mode"] == "single-pass"

    def test_fail_on_violations_exit_code(self, spark, sf_dir, tmp_path):
        args = build_parser().parse_args(
            [
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", _write_schema(tmp_path),
                "--row-key", "event_id",
                "--output", str(tmp_path / "out"),
                "--fail-on-violations",
            ]
        )
        assert cmd_validate(args) == 2

    def test_checkpoint_without_row_key_exits(self, spark, sf_dir, tmp_path):
        args = build_parser().parse_args(
            [
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", _write_schema(tmp_path),
                "--output", str(tmp_path / "out"),
                "--checkpoint", str(tmp_path / "wh"),
            ]
        )
        with pytest.raises(SystemExit, match="--checkpoint needs --row-key"):
            cmd_validate(args)
        assert not (tmp_path / "out" / "metrics.json").exists()

    def test_checkpointed_equals_single_pass_and_resumes(self, spark, sf_dir, tmp_path):
        common = [
            "validate",
            "--input", f"{sf_dir}/events.parquet",
            "--schema", _write_schema(tmp_path),
            "--row-key", "event_id",
        ]
        plain = build_parser().parse_args(
            common + ["--output", str(tmp_path / "plain")]
        )
        cmd_validate(plain)
        ck = build_parser().parse_args(
            common
            + [
                "--output", str(tmp_path / "ck"),
                "--checkpoint", str(tmp_path / "wh"),
                "--run-id", "r1",
                "--n-buckets", "8",
            ]
        )
        cmd_validate(ck)
        m_plain = _metrics(tmp_path / "plain", "validate")
        m_ck = _metrics(tmp_path / "ck", "validate")
        assert m_ck["violations"] == m_plain["violations"]
        assert m_ck["rows"] == m_plain["rows"]
        assert m_ck["buckets_done"] == 8
        # violations row sets identical (same row_key/code multiset)
        a = sorted(
            (r["row_key"], r["code"])
            for r in spark.read.parquet(str(tmp_path / "plain" / "violations")).collect()
        )
        b = sorted(
            (r["row_key"], r["code"])
            for r in spark.read.parquet(str(tmp_path / "ck" / "violations")).collect()
        )
        assert a == b
        # resume: same run-id again is a no-op replay with identical metrics
        cmd_validate(ck)
        m_ck2 = _metrics(tmp_path / "ck", "validate")
        assert m_ck2["violations"] == m_ck["violations"]
        assert m_ck2["buckets_done"] == 8


class TestStatsCommand:
    def test_stats_exact_matches_sql(self, spark, sf_dir, tmp_path):
        args = build_parser().parse_args(
            [
                "stats",
                "--input", f"{sf_dir}/lineitem.parquet",
                "--output", str(tmp_path / "out"),
                "--cols", "l_quantity",
                "--exact",
            ]
        )
        assert cmd_stats(args) == 0
        assert _metrics(tmp_path / "out", "stats")["columns"] == 1
        row = spark.read.parquet(str(tmp_path / "out" / "stats")).collect()[0]
        exp = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "count(*) n", "count(distinct l_quantity) d", "min(l_quantity) mn", "max(l_quantity) mx"
        ).collect()[0]
        assert row["n_rows"] == exp["n"]
        assert row["n_distinct"] == exp["d"]
        assert row["min_value"] == float(exp["mn"])
        assert row["max_value"] == float(exp["mx"])


class TestMainModule:
    def test_module_entry_help_runs_without_spark(self):
        # --help must not require a JVM: argparse exits 0 before any session
        r = subprocess.run(
            [sys.executable, "-m", "sinter_spark", "validate", "--help"],
            capture_output=True, text=True, timeout=60,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 0
        assert "--checkpoint" in r.stdout


class TestImageSuiteCommand:
    def test_image_suite_over_synth_table(self, spark, tmp_path):
        from sinter_spark.cli import cmd_image_suite
        from sinter_spark.images import write_images

        path = str(tmp_path / "imgs")
        write_images(spark, path, n=300, seed=11, max_dim=32)
        args = build_parser().parse_args(
            [
                "image-suite",
                "--input", path,
                "--output", str(tmp_path / "out"),
            ]
        )
        rc = cmd_image_suite(args)
        metrics = _metrics(tmp_path / "out", "image-suite")
        viol = spark.read.parquet(str(tmp_path / "out" / "violations"))
        assert metrics["violations"] == viol.count()
        assert rc == 0


class TestSparkSubmit:
    def test_spark_submit_py_files_runs_validate(self, sf_dir, tmp_path):
        """The north-star operational claim: the SAME job runs under
        spark-submit --py-files <zip> with the package shipped as an
        archive, no repo on PYTHONPATH."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(repo, "scripts"))
        from run_scaling import SPARK_SUBMIT, build_zip

        zpath = build_zip()
        schema = _write_schema(tmp_path)
        env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH",)}
        r = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--py-files", zpath,
                os.path.join(repo, "sinter_cli.py"),
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", schema,
                "--row-key", "event_id",
                "--output", str(tmp_path / "out"),
            ],
            capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        metrics = _metrics(tmp_path / "out", "validate")
        assert metrics["rows"] > 0


class TestSchemaToDict:
    def test_round_trip_fixpoint(self):
        from sinter_spark.api import schema_to_dict

        d = {
            "strict": True,
            "fields": [
                ["w", "integer", {"gt": 0, "required": True}],
                ["cap", "string", {"min_length": 1, "format": "^[a-z]+$"}],
                ["emb", ["array", "float"], {"min_items": 4}],
                ["meta", {"fields": [["lang", "string"]]}, {"required": False}],
                ["tag", "string", {"default": "x", "choices": ["x", "y"]}],
            ],
        }
        d2 = schema_to_dict(schema_from_dict(d))
        # serialize → parse → serialize is a fixpoint
        assert schema_to_dict(schema_from_dict(json.loads(json.dumps(d2)))) == d2
        s = schema_from_dict(d2)
        assert s.config.strict and s.fields["tag"].required is False
        assert s.fields["cap"].constraints["format"].pattern == "^[a-z]+$"

    def test_callable_validator_rejected(self):
        import sinter_spark as ss
        from sinter_spark.api import schema_to_dict

        s = ss.Schema.define([("a", "string", {"validate": lambda v: (True, v)})])
        with pytest.raises(ValueError, match="callable"):
            schema_to_dict(s)


class TestInferCommand:
    def test_inferred_schema_validates_own_table_clean(self, spark, sf_dir, tmp_path):
        from sinter_spark.cli import cmd_infer

        inf = build_parser().parse_args(
            ["infer", "--input", f"{sf_dir}/events.parquet", "--output", str(tmp_path / "inf")]
        )
        assert cmd_infer(inf) == 0
        body = json.loads((tmp_path / "inf" / "schema.json").read_text())
        assert _metrics(tmp_path / "inf", "infer")["fields"] == len(body["fields"])
        assert {f[0] for f in body["fields"]} == set(
            spark.read.parquet(f"{sf_dir}/events.parquet").columns
        )
        val = build_parser().parse_args(
            [
                "validate",
                "--input", f"{sf_dir}/events.parquet",
                "--schema", str(tmp_path / "inf" / "schema.json"),
                "--row-key", "event_id",
                "--output", str(tmp_path / "val"),
                "--fail-on-violations",
            ]
        )
        assert cmd_validate(val) == 0  # a table passes its own inferred schema


class TestDriftCommand:
    def test_self_no_drift_and_shifted_drifts(self, spark, sf_dir, tmp_path):
        from sinter_spark.cli import cmd_drift

        ev = f"{sf_dir}/events.parquet"
        shifted = str(tmp_path / "shifted")
        spark.read.parquet(ev).selectExpr(
            "event_id", "user_id", "value * 3 + 50 as value"
        ).write.parquet(shifted)

        same = build_parser().parse_args(
            [
                "drift", "--input", ev, "--baseline", ev,
                "--cols", "value,user_id",
                "--output", str(tmp_path / "same"), "--fail-on-drift",
            ]
        )
        assert cmd_drift(same) == 0
        m = _metrics(tmp_path / "same", "drift")
        assert all(r["ks"] == 0.0 and r["psi"] == 0.0 for r in m["report"])

        drifted = build_parser().parse_args(
            [
                "drift", "--input", shifted, "--baseline", ev,
                "--cols", "value,user_id",
                "--output", str(tmp_path / "drifted"), "--fail-on-drift",
            ]
        )
        assert cmd_drift(drifted) == 2
        m2 = _metrics(tmp_path / "drifted", "drift")
        assert "value" in m2["drifted_columns"]
        assert "user_id" not in m2["drifted_columns"]
        # persisted histograms replay: report derives from the written files
        hc = spark.read.parquet(str(tmp_path / "drifted" / "hist_current"))
        assert set(r["column"] for r in hc.select("column").distinct().collect()) == {"value", "user_id"}


class TestValidateStreamCommand:
    def test_incremental_drain_matches_batch_total(self, spark, sf_dir, tmp_path):
        from sinter_spark.cli import cmd_validate_stream

        import pyarrow.parquet as pq

        src = tmp_path / "stream_in"
        src.mkdir()
        full = spark.read.parquet(f"{sf_dir}/events.parquet")
        # slice with pyarrow (pandas to_parquet writes TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects)
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), src / "part1.parquet")
        schema = _write_schema(tmp_path)

        def run():
            args = build_parser().parse_args(
                [
                    "validate-stream",
                    "--input", str(src),
                    "--schema", schema,
                    "--row-key", "event_id",
                    "--output", str(tmp_path / "out"),
                    "--stream-checkpoint", str(tmp_path / "sck"),
                ]
            )
            return cmd_validate_stream(args), _metrics(tmp_path / "out", "validate-stream")

        rc1, m1 = run()
        assert rc1 == 0 and m1["epochs"] == 1
        # second batch of files → ONLY the new ones are processed
        pq.write_table(tbl.slice(half), src / "part2.parquet")
        rc2, m2 = run()
        assert m2["epochs"] == 2
        # cumulative sink equals the batch-mode total over the full table
        from sinter_spark.binding import bind

        expected = bind(
            schema_from_dict(EVENTS_SCHEMA), full, row_key="event_id"
        ).violations.count()
        assert m2["violations"] == expected > m1["violations"]

    def test_no_batch_reads_zero_and_sink_errors_propagate(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        from pyspark.sql.readwriter import DataFrameReader

        from sinter_spark.cli import cmd_validate_stream

        import pyarrow.parquet as pq

        src = tmp_path / "stream_in"
        src.mkdir()
        tbl = pq.read_table(f"{sf_dir}/events.parquet").slice(0, 50)
        pq.write_table(tbl, src / "part1.parquet")
        schema = _write_schema(tmp_path)

        def run(out):
            args = build_parser().parse_args(
                [
                    "validate-stream",
                    "--input", str(src),
                    "--schema", schema,
                    "--row-key", "event_id",
                    "--output", str(out),
                    "--stream-checkpoint", str(tmp_path / "sck"),
                ]
            )
            return cmd_validate_stream(args)

        assert run(tmp_path / "first") == 0
        # no new files: no batch runs, so this output's sink is never written
        assert run(tmp_path / "idle") == 0
        m = _metrics(tmp_path / "idle", "validate-stream")
        assert (m["violations"], m["epochs"]) == (0, 0)

        # any other failure reading the sink must surface, not read as
        # "0 violations" (which --fail-on-violations would pass)
        broken_sink = str(tmp_path / "broken" / "violations")
        real_parquet = DataFrameReader.parquet

        def parquet(self, *paths, **options):
            if paths == (broken_sink,):
                raise RuntimeError("sink count job failed")
            return real_parquet(self, *paths, **options)

        monkeypatch.setattr(DataFrameReader, "parquet", parquet)
        with pytest.raises(RuntimeError, match="sink count job failed"):
            run(tmp_path / "broken")


class TestDedupCommand:
    def test_minhash_canonical_matches_library(self, spark, sf_dir, tmp_path):
        from sinter_spark.cli import cmd_dedup
        from sinter_spark.operators.dedup import dedup_canonical

        out = tmp_path / "dd"
        args = build_parser().parse_args(
            [
                "dedup",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(out),
                "--method", "minhash",
                "--canonical",
            ]
        )
        assert cmd_dedup(args) == 0
        metrics = _metrics(out, "dedup")
        assert metrics["docs"] == 500
        assert metrics["pairs"] > 0 and metrics["components"] > 0
        # no silent caps: the drop audit is always present
        assert "dropped_buckets" in metrics and "dropped_member_entries" in metrics
        # keep-one output == the library's one-call dedup_canonical
        lib = dedup_canonical(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        kept = spark.read.parquet(str(out / "canonical"))
        assert kept.count() == metrics["kept_docs"] == lib.count()
        assert metrics["kept_docs"] + metrics["dropped_docs"] == 500

    def test_exact_method_and_exit_code(self, spark, tmp_path):
        from sinter_spark.cli import cmd_dedup

        rows = [("a", "same text"), ("b", "same text"), ("c", "other")]
        src = tmp_path / "docs.parquet"
        spark.createDataFrame(rows, "doc_id string, text string").write.parquet(str(src))
        out = tmp_path / "dd"
        args = build_parser().parse_args(
            [
                "dedup",
                "--input", str(src),
                "--output", str(out),
                "--method", "exact",
                "--canonical",
                "--fail-on-dups",
            ]
        )
        assert cmd_dedup(args) == 2  # dups found + --fail-on-dups
        metrics = _metrics(out, "dedup")
        assert metrics["dup_groups"] == 1 and metrics["dup_docs"] == 2
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(str(out / "canonical")).collect()
        }
        assert kept == {"a", "c"}  # min-id canonical survives

    def test_exact_canonical_keeps_null_text_rows(self, spark, tmp_path):
        """ADVICE r5 (high): NULL-text rows must pass through exact
        canonical dedup untouched — fingerprint(NULL) is NULL, and the
        old derivation lumped all NULL fps into one 'dup group' whose
        non-null-safe anti-join then dropped EVERY null-text row."""
        from sinter_spark.cli import cmd_dedup

        rows = [("a", "same text"), ("b", "same text"), ("n1", None), ("n2", None)]
        src = tmp_path / "docs.parquet"
        spark.createDataFrame(rows, "doc_id string, text string").write.parquet(str(src))
        out = tmp_path / "dd"
        args = build_parser().parse_args(
            ["dedup", "--input", str(src), "--output", str(out),
             "--method", "exact", "--canonical"]
        )
        assert cmd_dedup(args) == 0
        metrics = _metrics(out, "dedup")
        # only the real text dup group counts — not the NULL group
        assert metrics["dup_groups"] == 1 and metrics["dup_docs"] == 2
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(str(out / "canonical")).collect()
        }
        assert kept == {"a", "n1", "n2"}  # both null-text rows survive

    def test_exact_fail_on_dups_ignores_null_only_corpus(self, spark, tmp_path):
        from sinter_spark.cli import cmd_dedup

        rows = [("n1", None), ("n2", None), ("c", "unique")]
        src = tmp_path / "docs0.parquet"
        spark.createDataFrame(rows, "doc_id string, text string").write.parquet(str(src))
        out = tmp_path / "dd0"
        args = build_parser().parse_args(
            ["dedup", "--input", str(src), "--output", str(out),
             "--method", "exact", "--fail-on-dups"]
        )
        # a corpus whose only repeated fingerprint is NULL has no dups
        assert cmd_dedup(args) == 0

    def test_winnow_method_runs(self, spark, sf_dir, tmp_path):
        from sinter_spark.cli import cmd_dedup

        out = tmp_path / "dd"
        args = build_parser().parse_args(
            [
                "dedup",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(out),
                "--method", "winnow",
                "--min-shared", "15",
            ]
        )
        assert cmd_dedup(args) == 0
        metrics = _metrics(out, "dedup")
        assert (out / "pairs").exists() and (out / "components").exists()
        assert metrics["pairs"] >= 0 and "dropped_buckets" in metrics


class TestIvfCommand:
    def test_build_then_query(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from sinter_spark.cli import cmd_ivf_build, cmd_ivf_query

        idx = tmp_path / "idx"
        args = build_parser().parse_args(
            [
                "ivf", "build",
                "--input", f"{sf_dir}/embeddings.parquet",
                "--output", str(idx),
                "--n-clusters", "4",
                "--sample-size", "500",
            ]
        )
        assert cmd_ivf_build(args) == 0
        m = _metrics(idx, "ivf-build")
        assert m["rows"] == 500 and m["n_clusters"] == 4
        # the index is partitioned by cluster_id (pruned probes)
        assert any(p.name.startswith("cluster_id=") for p in (idx / "data").iterdir())

        qsrc = tmp_path / "queries.parquet"
        (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id").limit(3)
            .select(F.col("vec_id").alias("query_id"), "embedding")
            .write.parquet(str(qsrc))
        )
        qout = tmp_path / "qout"
        args = build_parser().parse_args(
            [
                "ivf", "query",
                "--index", str(idx),
                "--queries", str(qsrc),
                "--output", str(qout),
                "--k", "5",
            ]
        )
        assert cmd_ivf_query(args) == 0
        qm = _metrics(qout, "ivf-query")
        assert qm["queries"] == 3 and qm["result_rows"] == 15
        res = spark.read.parquet(str(qout / "results"))
        # each query's own vector is its top hit at cos_sim ~ 1
        tops = {
            (r["query_id"], r["vec_id"])
            for r in res.where(F.col("cos_sim") > 0.999999).collect()
        }
        assert {(q, q) for q in [r["query_id"] for r in spark.read.parquet(str(qsrc)).collect()]} <= tops


class TestDedupSparkSubmit:
    def test_spark_submit_dedup_minhash(self, sf_dir, tmp_path):
        """The dedup job end-to-end under spark-submit --py-files
        (VERDICT_r04 #5: a training-data engineer runs dedup as a job)."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(repo, "scripts"))
        from run_scaling import SPARK_SUBMIT, build_zip

        zpath = build_zip()
        env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH",)}
        r = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--py-files", zpath,
                os.path.join(repo, "sinter_cli.py"),
                "dedup",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(tmp_path / "out"),
                "--method", "minhash",
                "--canonical",
            ],
            capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        metrics = _metrics(tmp_path / "out", "dedup")
        assert metrics["kept_docs"] > 0 and "dropped_buckets" in metrics


class TestDecontamCommand:
    def test_report_matches_library_and_exit_code(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from sinter_spark.cli import cmd_decontam
        from sinter_spark.operators.decontam import contamination

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench_src = tmp_path / "bench.parquet"
        docs.where(F.col("doc_id") % 37 == 0).write.parquet(str(bench_src))
        out = tmp_path / "dc"
        args = build_parser().parse_args(
            [
                "decontam",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(out),
                "--benchmark", str(bench_src),
                "--n", "5",
                "--fail-on-contamination",
            ]
        )
        rc = cmd_decontam(args)
        metrics = _metrics(out, "decontam")
        lib = contamination(
            docs, docs.where(F.col("doc_id") % 37 == 0), n=5
        )
        n_bad = lib.where(F.col("contaminated")).count()
        assert metrics["contaminated_docs"] == n_bad
        # benchmark docs themselves are flagged (they match trivially),
        # so contamination is always found and exit code is 2
        assert rc == 2 and n_bad > 0
        assert metrics["docs"] == metrics["kept_docs"] + n_bad
        report = spark.read.parquet(str(out / "report"))
        assert report.count() == metrics["docs"]


class TestDedupAgainstCommand:
    def test_clean_equals_plain_anti_join(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from sinter_spark.cli import cmd_dedup_against

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ref_src = tmp_path / "ref.parquet"
        docs.where(F.col("doc_id") % 7 == 0).write.parquet(str(ref_src))
        out = tmp_path / "da"
        args = build_parser().parse_args(
            [
                "dedup-against",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(out),
                "--reference", str(ref_src),
            ]
        )
        assert cmd_dedup_against(args) == 0
        metrics = _metrics(out, "dedup-against")
        kept = spark.read.parquet(str(out / "clean"))
        expected = docs.count() - docs.where(F.col("doc_id") % 7 == 0).count()
        # synthetic docs are unique, so dropped == the reference slice
        assert metrics["kept_docs"] == kept.count() == expected
        assert metrics["dropped_docs"] == docs.count() - expected

    @pytest.mark.parametrize(
        "flags",
        [
            ["--bloom-in", "a.bloom", "--bloom-out", "b.bloom"],
            ["--no-bloom", "--bloom-in", "a.bloom"],
            ["--no-bloom", "--bloom-out", "b.bloom"],
        ],
    )
    def test_bloom_flags_are_exclusive(self, flags, capsys):
        # --bloom-in with --bloom-out would reuse the loaded filter and
        # never write the --bloom-out one; --no-bloom builds no filter
        with pytest.raises(SystemExit) as exc:
            build_parser().parse_args(
                ["dedup-against", "--input", "d", "--reference", "r",
                 "--output", "o", *flags]
            )
        assert exc.value.code == 2
        assert "not allowed with argument" in capsys.readouterr().err


class TestPipelineCommand:
    def test_null_or_duplicate_ids_fail_loudly(self, spark, tmp_path):
        """ADVICE r5 (low): stage rejoins on id_col use plain equality,
        so NULL/duplicated ids would silently drop or fan out rows —
        the pipeline must refuse them up front."""
        import pytest

        from sinter_spark.cli import cmd_pipeline

        out = tmp_path / "plbad"
        nulls = tmp_path / "nulls.parquet"
        spark.createDataFrame(
            [(1, "a", "s"), (None, "b", "s")], "doc_id long, text string, source string"
        ).write.parquet(str(nulls))
        args = build_parser().parse_args(
            ["pipeline", "--input", str(nulls), "--output", str(out),
             "--scrub", "--chunk-tokens", "64"]
        )
        with pytest.raises(SystemExit, match="NULL 'doc_id'"):
            cmd_pipeline(args)
        dups = tmp_path / "dups.parquet"
        spark.createDataFrame(
            [(1, "a", "s"), (1, "b", "s")], "doc_id long, text string, source string"
        ).write.parquet(str(dups))
        args = build_parser().parse_args(
            ["pipeline", "--input", str(dups), "--output", str(out),
             "--scrub", "--chunk-tokens", "64"]
        )
        with pytest.raises(SystemExit, match="not unique"):
            cmd_pipeline(args)

    def test_stage_chain_matches_library(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from sinter_spark.cli import cmd_pipeline
        from sinter_spark.operators.decontam import decontaminate
        from sinter_spark.operators.dedup import dedup_canonical
        from sinter_spark.operators.packing import mix_sources

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench_src = tmp_path / "bench.parquet"
        docs.where(F.col("doc_id") % 37 == 0).write.parquet(str(bench_src))
        out = tmp_path / "pl"
        args = build_parser().parse_args(
            [
                "pipeline",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", str(out),
                "--scrub",
                "--dedup",
                "--benchmark", str(bench_src),
                "--decontam-n", "5",
                "--mix", "src0=1.0,src1=0.5",
                "--default-weight", "0.8",
                "--seed", "3",
                "--chunk-tokens", "128",
                "--shuffle-seed", "7",
            ]
        )
        assert cmd_pipeline(args) == 0
        metrics = _metrics(out, "pipeline")
        stages = {s["stage"]: s for s in metrics["stages"]}
        # chain integrity: each stage's rows_in == previous rows_out
        seq = metrics["stages"]
        for prev, cur in zip(seq, seq[1:]):
            assert cur["rows_in"] == prev["rows_out"]
        # scrub on this corpus is a no-op (no PII) but the audit exists
        assert stages["scrub"]["total_n_email"] == 0
        assert stages["scrub"]["rows_out"] == stages["scrub"]["rows_in"]
        # dedup stage == library dedup_canonical on the same input
        # (scrub didn't change any text, so the input is the corpus)
        assert stages["dedup_canonical"]["rows_out"] == dedup_canonical(docs).count()
        # decontaminate == library on the deduped set
        deduped = spark.read.parquet(str(out / "stage_1_dedup_canonical"))
        lib_decon = decontaminate(
            deduped, spark.read.parquet(str(bench_src)), n=5
        ).count()
        assert stages["decontaminate"]["rows_out"] == lib_decon
        # mix == library mix_sources on the decontaminated set
        deconned = spark.read.parquet(str(out / "stage_2_decontaminate"))
        lib_mix = mix_sources(
            deconned, {"src0": 1.0, "src1": 0.5}, seed=3, default_weight=0.8
        ).count()
        assert stages["mix_sources"]["rows_out"] == lib_mix
        # packed output spans every surviving doc and is chunk-coherent
        packed = spark.read.parquet(str(out / "packed"))
        assert packed.count() == metrics["docs_out"]
        assert stages["pack"]["chunks"] >= 1
        assert stages["pack"]["total_tokens"] == (
            packed.agg(F.sum("n_tokens")).collect()[0][0]
        )


    def test_scrub_stage_with_pii_matches_scrub_text(self, spark, sf_dir, tmp_path, monkeypatch):
        """The scrub stage is one projection (no join) whose text and
        audit totals equal scrub_text's on a corpus with PII planted as
        in scrub_oracle_sql; a resumed stage reports no audit."""
        from pyspark.sql import functions as F

        from sinter_spark import cli
        from sinter_spark.operators.scrub import inject_pii_column, scrub_text

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = tmp_path / "pii.parquet"
        docs.withColumn("text", inject_pii_column()).write.parquet(str(src))
        injected = spark.read.parquet(str(src))
        committed = {}
        real_commit = cli._commit

        def recording_commit(df, out, name):
            committed[name] = df
            return real_commit(df, out, name)

        monkeypatch.setattr(cli, "_commit", recording_commit)
        out = tmp_path / "plpii"
        argv = ["pipeline", "--input", str(src), "--output", str(out), "--scrub"]
        assert cli.cmd_pipeline(build_parser().parse_args(argv)) == 0
        stage = _metrics(out, "pipeline")["stages"][0]

        plan = committed["stage_0_scrub"]._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan
        lib = scrub_text(injected)
        counts = [c for c in lib.columns if c.startswith("n_")]
        want = lib.agg(*[F.sum(c).alias(f"total_{c}") for c in counts]).collect()[0].asDict()
        assert {k: stage[k] for k in want} == want
        assert all(v > 0 for v in want.values())
        got = spark.read.parquet(str(out / "stage_0_scrub"))
        assert got.columns == ["doc_id"] + [
            c for c in injected.columns if c not in ("doc_id", "text")
        ] + ["text"]
        assert sorted(got.select("doc_id", "text").collect()) == sorted(
            lib.select("doc_id", F.col("scrubbed").alias("text")).collect()
        )

        assert cli.cmd_pipeline(build_parser().parse_args(argv + ["--resume"])) == 0
        resumed = _metrics(out, "pipeline")["stages"][0]
        assert resumed["resumed"] and not any(k.startswith("total_") for k in resumed)


class TestPipelineResume:
    def test_resume_skips_committed_stages(self, spark, sf_dir, tmp_path):
        import shutil

        from sinter_spark.cli import cmd_pipeline

        out = tmp_path / "plr"
        argv = [
            "pipeline",
            "--input", f"{sf_dir}/documents.parquet",
            "--output", str(out),
            "--scrub", "--dedup",
            "--mix", "src0=1.0,src1=0.5",
            "--seed", "3",
        ]
        assert cmd_pipeline(build_parser().parse_args(argv)) == 0
        first = _metrics(out, "pipeline")
        assert all(not s["resumed"] for s in first["stages"])

        # full resume: every stage reused, same counts
        assert cmd_pipeline(build_parser().parse_args(argv + ["--resume"])) == 0
        again = _metrics(out, "pipeline")
        assert [s["rows_out"] for s in again["stages"]] == [
            s["rows_out"] for s in first["stages"]
        ]
        assert all(s["resumed"] for s in again["stages"])

        # partial resume: drop the last stage's commit -> only it reruns
        shutil.rmtree(out / "stage_2_mix_sources")
        assert cmd_pipeline(build_parser().parse_args(argv + ["--resume"])) == 0
        partial = _metrics(out, "pipeline")
        flags = {s["stage"]: s["resumed"] for s in partial["stages"]}
        assert flags["scrub"] and flags["dedup_canonical"]
        assert not flags["mix_sources"]
        assert partial["docs_out"] == first["docs_out"]
