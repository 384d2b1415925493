"""End-to-end CLI coverage: every subcommand, in-process (the session
fixture is reused via getOrCreate)."""

from __future__ import annotations

import json
import os
import re
import zipfile

from pyspark.sql import functions as F

from datacanary_spark.cli import main


def test_gen_pages_and_filter_and_resume(spark, tmp_path, capsys):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "4"]) == 0
    assert main(["filter", "--input", pages, "--output", out,
                 "--chunks", "2"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs"] == 120
    assert 0 < summary["kept"] < 120
    assert summary["chunks_run"] == 2
    # second invocation: all chunks committed → nothing reprocessed
    assert main(["filter", "--input", pages, "--output", out,
                 "--chunks", "2"]) == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["chunks_run"] == 0 and summary2["chunks_skipped"] == 2
    assert summary2["docs"] == 120 and summary2["kept"] == summary["kept"]


def test_analyse_and_check(spark, tmp_path, capsys):
    out_json = str(tmp_path / "profile.json")
    report = str(tmp_path / "report.txt")
    check_json = str(tmp_path / "check.json")
    docs = "/root/testdata/sf0.001/documents.parquet"

    assert main(["analyse", "--file", docs, "--output", out_json]) == 0
    profile = json.load(open(out_json))["profile"]
    assert "text" in profile and "stats" in profile["text"]

    rc = main(["check", "--file", docs, "--report", report,
               "--json", check_json])
    assert rc in (0, 1)  # 1 = some rule failed; both are valid outcomes
    assert os.path.exists(report)
    blob = json.load(open(check_json))
    assert blob["health"]["health_score"] > 0
    assert blob["rules"]
    capsys.readouterr()


def test_package_zip(tmp_path):
    dest = str(tmp_path / "dist")
    assert main(["package", "--dest", dest]) == 0
    zp = os.path.join(dest, "datacanary_spark.zip")
    names = zipfile.ZipFile(zp).namelist()
    assert "datacanary_spark/cli.py" in names
    assert "datacanary_spark/plans/pipeline.py" in names
    assert all(n.endswith(".py") for n in names)


def test_provider_flags_resolve_to_uris():
    """Reference-parity source flags (--bucket/--key etc.,
    reference __main__.py:62-109) map onto Hadoop-FS URIs + Spark conf."""
    from datacanary_spark.cli import build_parser, resolve_source

    p = build_parser()

    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--bucket", "b", "--key", "data/x.parquet",
         "--region", "eu-west-1"]))
    assert uri == "s3a://b/data/x.parquet"
    assert conf["spark.hadoop.fs.s3a.endpoint.region"] == "eu-west-1"

    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--azure-container", "c", "--azure-blob", "y.parquet",
         "--azure-account-url", "https://acct.blob.core.windows.net",
         "--azure-account-key", "K"]))
    assert uri == "abfss://c@acct.dfs.core.windows.net/y.parquet"
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "acct.dfs.core.windows.net")] == "K"

    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--gcs-bucket", "g", "--gcs-blob", "z.parquet",
         "--gcs-credentials", "/tmp/sa.json"]))
    assert uri == "gs://g/z.parquet"
    assert conf[("spark.hadoop.google.cloud.auth."
                 "service.account.json.keyfile")] == "/tmp/sa.json"

    # --file wins, no conf
    assert resolve_source(p.parse_args(
        ["analyse", "--file", "/tmp/local.parquet"])) == ("/tmp/local.parquet", {})


def test_credentials_file_maps_to_conf(tmp_path):
    """--credentials-file in the reference's file formats
    (__main__.py:20-51,156-177: s3 CSV with header row, azure JSON,
    gcs keyfile) resolves into the same Spark conf keys the explicit
    flags produce."""
    import json as _json

    from datacanary_spark.cli import build_parser, resolve_source

    p = build_parser()

    csv_path = tmp_path / "s3_credentials.csv"
    csv_path.write_text("Access key ID,Secret access key\nAKIA123,shh/secret\n")
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--bucket", "b", "--key", "k.parquet",
         "--credentials-file", str(csv_path)]))
    assert uri == "s3a://b/k.parquet"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AKIA123"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "shh/secret"

    az_path = tmp_path / "azure_credentials.json"
    az_path.write_text(_json.dumps(
        {"account_url": "https://acct.blob.core.windows.net",
         "account_key": "K"}))
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--azure-container", "c", "--azure-blob", "y.parquet",
         "--credentials-file", str(az_path)]))
    assert uri == "abfss://c@acct.dfs.core.windows.net/y.parquet"
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "acct.dfs.core.windows.net")] == "K"

    # connection-string form works too
    az2 = tmp_path / "azure_conn.json"
    az2.write_text(_json.dumps({"connection_string":
                                "AccountName=acc2;AccountKey=K2;X=Y"}))
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--azure-container", "c", "--azure-blob", "y.parquet",
         "--credentials-file", str(az2)]))
    assert "acc2" in uri
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "acc2.dfs.core.windows.net")] == "K2"

    # gcs: the credentials file IS the keyfile
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--gcs-bucket", "g", "--gcs-blob", "z.parquet",
         "--credentials-file", "/tmp/sa.json"]))
    assert conf[("spark.hadoop.google.cloud.auth."
                 "service.account.json.keyfile")] == "/tmp/sa.json"

    # a key-only azure file pairs with an account named by flag
    az3 = tmp_path / "azure_key_only.json"
    az3.write_text(_json.dumps({"account_key": "KK"}))
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--azure-container", "c", "--azure-blob", "y.parquet",
         "--azure-account-url", "https://acct.blob.core.windows.net",
         "--credentials-file", str(az3)]))
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "acct.dfs.core.windows.net")] == "KK"

    # --file with a cloud URI still gets the credentials file
    # (provider inferred from the scheme; abfss account from the URI)
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--file", "s3a://b/k.parquet",
         "--credentials-file", str(csv_path)]))
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AKIA123"
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--file",
         "abfss://c@uriacct.dfs.core.windows.net/y.parquet",
         "--credentials-file", str(az3)]))
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "uriacct.dfs.core.windows.net")] == "KK"
    # wasb[s] URIs read the account key against the BLOB endpoint —
    # a dfs-endpoint key would be silently ignored (ADVICE r03)
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--file",
         "wasbs://c@uriacct.blob.core.windows.net/y.parquet",
         "--credentials-file", str(az3)]))
    assert conf[("spark.hadoop.fs.azure.account.key."
                 "uriacct.blob.core.windows.net")] == "KK"
    assert not any("dfs.core.windows.net" in k for k in conf)
    # local path: credentials file is a no-op, not an error
    uri, conf = resolve_source(p.parse_args(
        ["analyse", "--file", "/tmp/local.parquet",
         "--credentials-file", str(csv_path)]))
    assert conf == {}


def test_local_subcommand_aliases(spark, tmp_path, capsys):
    """analyse-local / check-local (reference __main__.py:84,112) run
    the same code path as --file."""
    import json as _json

    path = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "cast(id as double) AS v") \
        .write.mode("overwrite").parquet(path)
    from datacanary_spark.cli import main

    out_json = str(tmp_path / "profile.json")
    assert main(["analyse-local", "--file", path,
                 "--output", out_json]) == 0
    prof = _json.load(open(out_json))["profile"]
    assert prof["id"]["stats"]["count"] == 5

    rc = main(["check-local", "--file", path,
               "--json", str(tmp_path / "chk.json")])
    assert rc in (0, 1)  # verdict depends on default rules
    assert _json.load(open(tmp_path / "chk.json"))["profile"]


def test_analyse_via_provider_flags(spark, tmp_path, monkeypatch, capsys):
    """`analyse --bucket/--key` goes through read_table with the composed
    s3a:// URI (store mocked — no cloud in the sandbox)."""
    from datacanary_spark.sources import io as src_io

    seen = {}
    real = src_io.read_table

    def fake_read_table(spark_, source):
        seen["uri"] = source
        return real(spark_, "/root/testdata/sf0.001/documents.parquet")

    monkeypatch.setattr(src_io, "read_table", fake_read_table)
    out_json = str(tmp_path / "p.json")
    assert main(["analyse", "--bucket", "mybucket", "--key", "d/docs.parquet",
                 "--output", out_json]) == 0
    assert seen["uri"] == "s3a://mybucket/d/docs.parquet"
    blob = json.load(open(out_json))
    assert blob["dataset"] == "s3a://mybucket/d/docs.parquet"
    assert "text" in blob["profile"]
    capsys.readouterr()


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The north rule's packaging clause, driven for real: build the
    --py-files zip, then run jobs/filter_job.py through spark-submit in
    a fresh JVM with ONLY the zip on the python path."""
    import subprocess
    import sys

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    dest = str(tmp_path / "dist")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    assert main(["package", "--dest", dest]) == 0
    zp = os.path.join(dest, "datacanary_spark.zip")

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", zp,
         "jobs/filter_job.py", "--input", pages, "--output", out,
         "--chunks", "2"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 80
    assert summary["chunks_run"] == 2


def test_filter_job_resumes_after_midrun_crash(spark, tmp_path, monkeypatch):
    """Kill the job after the first chunk commits; the restart must skip
    the committed chunk, finish the rest, and leave zero duplicate
    outputs — the crash-consistency half of the resume contract (the
    happy-path resume is test_gen_pages_and_filter_and_resume)."""
    import pytest

    from datacanary_spark.plans import checkpoint as cp
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_parquet(pages, n_docs=90, seed=11, chunk_size=30)  # 3 files

    calls = {"n": 0}
    real = cp.partition_lineage

    def dying_lineage(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # chunk 0 committed; die inside chunk 1
            raise RuntimeError("simulated executor loss")
        return real(*a, **kw)

    monkeypatch.setattr(cp, "partition_lineage", dying_lineage)
    with pytest.raises(RuntimeError, match="simulated"):
        cp.run_filter_job(spark, pages, out, n_chunks=3)
    assert os.path.exists(os.path.join(out, "_checkpoint", "_done_00000.json"))
    assert not os.path.exists(os.path.join(out, "_checkpoint", "_done_00001.json"))

    monkeypatch.setattr(cp, "partition_lineage", real)
    summary = cp.run_filter_job(spark, pages, out, n_chunks=3)
    assert summary["chunks_skipped"] == 1
    assert summary["chunks_run"] == 2
    assert summary["docs"] == 90

    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == 90
    assert data.select("url").distinct().count() == 90  # no duplicates


def test_version_flag(capsys):
    import pytest

    with pytest.raises(SystemExit) as e:
        main(["--version"])
    assert e.value.code == 0
    assert "datacanary_spark v" in capsys.readouterr().out


def test_examples_importable():
    """The library-composition examples (reference E3 parity) must stay
    import-clean; their full runs are exercised manually/by CI budget."""
    import importlib.util
    import pathlib

    for name in ["analyse_data", "custom_rules_demo", "filter_pipeline_demo",
                 "tokenizer_training_demo"]:
        path = pathlib.Path(__file__).parent.parent / "examples" / f"{name}.py"
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(mod.main)


def test_filter_job_rejects_changed_input(spark, tmp_path):
    """A _done marker proves a chunk committed under a SPECIFIC file
    assignment; if files land (or n_chunks changes) between runs, resume
    must refuse rather than silently skip unprocessed files."""
    import pytest

    from datacanary_spark.plans import checkpoint as cp
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_parquet(pages, n_docs=40, seed=3, chunk_size=20)  # 2 files
    cp.run_filter_job(spark, pages, out, n_chunks=2)

    write_pages_parquet(pages, n_docs=20, seed=4, start_id=5000,
                        chunk_size=20)  # a 3rd file lands
    # same n_chunks, changed assignment (chunk0 would now be [f0, f2]
    # but its marker recorded [f0]) -> refused
    with pytest.raises(RuntimeError, match="checkpoint mismatch"):
        cp.run_filter_job(spark, pages, out, n_chunks=2)
    # n_chunks=3 happens to KEEP the committed chunks' assignments
    # ([f0], [f1]) and put the new file in a fresh chunk -> valid
    # incremental resume: only the new file is processed
    summary = cp.run_filter_job(spark, pages, out, n_chunks=3)
    assert summary["chunks_skipped"] == 2 and summary["chunks_run"] == 1
    assert summary["docs"] == 60


def test_filter_job_metrics_idempotent_on_replay(spark, tmp_path, monkeypatch):
    """Crash AFTER the chunk's metrics write but BEFORE its _done marker:
    the resumed chunk rewrites (not re-appends) its metrics partition."""
    import pytest

    from datacanary_spark.plans import checkpoint as cp
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_parquet(pages, n_docs=60, seed=5, chunk_size=30)  # 2 files

    real = cp._mark_done
    calls = {"n": 0}

    def dying_mark(ckpt_dir, chunk, payload):
        calls["n"] += 1
        if calls["n"] == 1:  # metrics for chunk 0 already written
            raise RuntimeError("simulated crash before marker")
        return real(ckpt_dir, chunk, payload)

    monkeypatch.setattr(cp, "_mark_done", dying_mark)
    with pytest.raises(RuntimeError, match="simulated"):
        cp.run_filter_job(spark, pages, out, n_chunks=2)

    from pyspark.sql import functions as F

    monkeypatch.setattr(cp, "_mark_done", real)
    summary = cp.run_filter_job(spark, pages, out, n_chunks=2)
    assert summary["docs"] == 60
    m = spark.read.parquet(os.path.join(out, "metrics"))
    assert m.agg(F.sum("input_count")).collect()[0][0] == 60  # no dupes


def test_dedup_and_sample_subcommands(spark, tmp_path, capsys):
    """The curation subcommands run end to end: exact dedup removes the
    planted clone (min-id survivor), near mode removes the near-dup,
    sample keeps the deterministic stratified subset."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    corpus = str(tmp_path / "corpus")
    d = spark.read.parquet(docs).select("doc_id", "text", "lang")
    clones = d.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    d.unionByName(clones).write.parquet(corpus)

    out = str(tmp_path / "exact")
    assert main(["dedup", "--input", corpus, "--output", out]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"mode": "exact", "rows_in": 510, "rows_out": 500}
    assert spark.read.parquet(out).where(F.col("doc_id") >= 100000).count() == 0

    out2 = str(tmp_path / "near")
    assert main(["dedup", "--input", corpus, "--output", out2, "--mode",
                 "near", "--hash-fn", "xxhash64"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows_out"] <= 500  # clones are Jaccard-1.0 pairs

    out3 = str(tmp_path / "sampled")
    assert main(["sample", "--input", corpus, "--output", out3,
                 "--strata-col", "lang", "--fractions", "en=1.0,de=0.5",
                 "--key-col", "doc_id"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(out3)
    n_en_in = spark.read.parquet(corpus).where(F.col("lang") == "en").count()
    assert got.where(F.col("lang") == "en").count() == n_en_in  # 1.0 = all
    assert got.where(~F.col("lang").isin("en", "de")).count() == 0
    assert res["rows_out"] == got.count()


def test_filter_job_rejects_old_metrics_layout(spark, tmp_path):
    """Resuming into a metrics dir written by the pre-partitioned (flat
    append) layout must refuse — mixing flat files with chunk=N
    partition dirs breaks partition discovery and replay overwrite."""
    import pytest

    from datacanary_spark.plans import checkpoint as cp
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_parquet(pages, n_docs=20, seed=2, chunk_size=20)
    mdir = os.path.join(out, "metrics")
    spark.range(3).coalesce(1).write.parquet(mdir)  # flat part-*.parquet
    with pytest.raises(RuntimeError, match="old flat layout"):
        cp.run_filter_job(spark, pages, out, n_chunks=1)


def test_curate_end_to_end_and_deterministic(spark, tmp_path, capsys):
    """The composed curation job (filter -> exact dedup -> line dedup ->
    stratified mix) runs end to end with monotone stage counts, and a
    re-run reproduces the identical corpus (every stage is a pure
    function of content)."""
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "150",
                 "--files", "3"]) == 0
    capsys.readouterr()

    def run(out):
        assert main(["curate", "--input", pages, "--output", out,
                     "--fractions", "en=1.0,de=0.5,fr=0.5,es=0.5,it=0.5"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    s1 = run(str(tmp_path / "o1"))
    assert s1["docs_in"] == 150
    # short composition → auto policy keeps lineage-recovery persist
    assert s1["stage_pin"] == "persist"
    assert (s1["docs_in"] >= s1["kept"] >= s1["after_exact_dedup"]
            >= s1["after_line_dedup"] >= s1["sampled"] == s1["final_docs"] > 0)
    assert os.path.exists(os.path.join(str(tmp_path / "o1"),
                                       "curation_summary.json"))

    s2 = run(str(tmp_path / "o2"))
    assert {k: v for k, v in s1.items() if k != "wall_sec"} \
        == {k: v for k, v in s2.items() if k != "wall_sec"}
    a = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "o1"), "corpus")).collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "o2"), "corpus")).collect()}
    assert a == b


def test_curate_pin_modes_agree(spark, tmp_path):
    """persist and checkpoint pins yield the same summary and corpus.
    Checkpoint reads its stage counts from the observations its pin
    jobs report; persist counts with actions. Neither leaves the session
    unable to ship an MLlib model that holds it (a Spark 4.1
    ``Observation`` would)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from datacanary_spark.plans.curate import run_curation_job
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, n_docs=150, seed=3)
    kw = dict(blocklist=["host1.example.com"],
              block_url_patterns=[r"/page/\d*7$"], host_cap=8,
              fractions={"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5})
    runs = {}
    for mode in ("persist", "checkpoint"):
        out = str(tmp_path / mode)
        s = run_curation_job(spark, pages, out, stage_pin=mode, **kw)
        assert s.pop("stage_pin") == mode
        s.pop("wall_sec")
        rows = spark.read.parquet(os.path.join(out, "corpus")).collect()
        runs[mode] = (s, sorted(tuple(r) for r in rows))
    s, corpus = runs["checkpoint"]
    assert runs["persist"] == (s, corpus)
    assert (s["docs_in"] > s["after_blocklist"] > s["after_url_patterns"]
            >= s["kept"] >= s["after_exact_dedup"] >= s["after_line_dedup"]
            > s["after_host_cap"] >= s["sampled"] == s["final_docs"]
            == len(corpus) > 0)
    d = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        spark.range(20).select((F.col("id") % 2).cast("double")
                               .alias("label"),
                               (F.col("id") % 5).cast("double").alias("x")))
    model = LogisticRegression(maxIter=3).fit(d)
    assert len(model.transform(d).select("probability").collect()) == 20


def test_spark_submit_curate_job(tmp_path):
    """jobs/curate_job.py runs through spark-submit in a fresh JVM with
    only the --py-files zip (the packaged composition entry point)."""
    import subprocess
    import sys

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    dest = str(tmp_path / "dist")
    assert main(["gen-pages", "--output", pages, "--docs", "60",
                 "--files", "2"]) == 0
    assert main(["package", "--dest", dest]) == 0
    zp = os.path.join(dest, "datacanary_spark.zip")

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", zp,
         "jobs/curate_job.py", "--input", pages, "--output", out,
         "--fractions", "en=1.0,de=1.0,fr=1.0,es=1.0,it=1.0"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs_in"] == 60
    assert summary["final_docs"] > 0
    assert os.path.exists(os.path.join(out, "curation_summary.json"))


def test_parse_fractions_validation():
    """One shared parser guards every mixing entry point."""
    import pytest

    from datacanary_spark.cli import parse_fractions

    assert parse_fractions("en=1.0,de=0.5") == {"en": 1.0, "de": 0.5}
    for bad in ["en=", "en=abc", "=0.5", "en", "en=1.5", "en=0.5,en=0.2"]:
        with pytest.raises(SystemExit):
            parse_fractions(bad)


def test_curate_custom_strata_and_key_columns(spark, tmp_path, capsys):
    """--strata-col/--key-col other than the defaults must work (mix on
    the model perplexity band via a verdict column) and an unknown
    column must fail fast, before the filter stage runs."""
    import pytest

    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "60",
                 "--files", "2"]) == 0
    capsys.readouterr()
    s = run_curation_job(spark, pages, str(tmp_path / "o"),
                         fractions={"en": 1.0, "de": 1.0, "fr": 1.0,
                                    "es": 1.0, "it": 1.0},
                         strata_col="lang_pred", key_col="lang_pred")
    assert s["final_docs"] > 0
    cols = spark.read.parquet(
        os.path.join(str(tmp_path / "o"), "corpus")).columns
    assert cols == ["url", "text", "lang_pred"]  # pinned layout

    with pytest.raises(ValueError, match="not in the filter output"):
        run_curation_job(spark, pages, str(tmp_path / "o2"),
                         strata_col="no_such_col")


def test_curate_with_decontamination(spark, tmp_path, capsys):
    """The optional decontamination stage removes corpus docs whose
    scrubbed text overlaps the benchmark table."""
    from pyspark.sql import functions as F2

    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    # benchmark = exact scrubbed text of some surviving docs
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    bench = str(tmp_path / "bench")
    corpus.orderBy("url").limit(5).select("text").write.parquet(bench)

    s = run_curation_job(spark, pages, str(tmp_path / "dec"),
                         decontaminate_path=bench,
                         decontaminate_mode="exact")
    assert s["after_decontamination"] == s["after_line_dedup"] - 5
    assert s["final_docs"] == base["final_docs"] - 5
    leaked = {r["text"] for r in spark.read.parquet(bench).collect()}
    out = spark.read.parquet(os.path.join(str(tmp_path / "dec"), "corpus"))
    assert out.where(F2.col("text").isin(list(leaked))).count() == 0

    # minhash mode: the benchmark holds EDITED near-duplicates (trailer
    # appended) — exact mode misses them, the fuzzy tier removes them
    bench2 = str(tmp_path / "bench2")
    corpus.orderBy("url").limit(5).select(
        F2.concat(F2.col("text"),
                  F2.lit(" lightly edited benchmark reflow trailer"))
        .alias("text")).write.parquet(bench2)
    s_exact = run_curation_job(spark, pages, str(tmp_path / "dec_e2"),
                               decontaminate_path=bench2,
                               decontaminate_mode="exact")
    assert s_exact["after_decontamination"] == s_exact["after_line_dedup"]
    s_mh = run_curation_job(spark, pages, str(tmp_path / "dec_mh"),
                            decontaminate_path=bench2,
                            decontaminate_mode="minhash")
    # AT LEAST the 5 edited sources drop; the fixture corpus also
    # contains planted near-duplicates of some docs, and a near-dup of
    # a leaked doc is itself contaminated — more drops are correct,
    # fewer are not
    assert s_mh["after_decontamination"] <= s_mh["after_line_dedup"] - 5
    sources = {r["text"] for r in corpus.orderBy("url").limit(5).collect()}
    out_mh = spark.read.parquet(
        os.path.join(str(tmp_path / "dec_mh"), "corpus"))
    assert out_mh.where(F2.col("text").isin(list(sources))).count() == 0


def test_curate_host_cap(spark, tmp_path, capsys):
    """--host-cap keeps at most N unique docs per url host, applied
    after dedup (caps count content) and reported in the lineage
    summary; fixture hosts are Zipf-skewed so a small cap must bite."""
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "150",
                 "--files", "3"]) == 0
    # add docs whose url has NO parseable host: they must survive the
    # cap individually, not be lumped into one NULL pseudo-group and
    # capped to 3 (ADVICE r03). Text comes from the fixture's own clean
    # generator so the filter stage is guaranteed to keep them.
    import numpy as np

    from datacanary_spark.schema import PAGES_SCHEMA
    from datacanary_spark.sources.fixtures import (
        _insert_lines,
        _sample_words,
    )

    rng = np.random.default_rng(99)
    nohost = [(f"urn:doc:{i}", None, None,
               _insert_lines(rng, _sample_words(rng, "en", 200)), "en")
              for i in range(6)]
    spark.createDataFrame(nohost, PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(pages)
    capsys.readouterr()
    out = str(tmp_path / "capped")
    assert main(["curate", "--input", pages, "--output", out,
                 "--host-cap", "3"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["after_line_dedup"] >= s["after_host_cap"] == s["final_docs"] > 0
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    from pyspark.sql import functions as F

    per_host = corpus.groupBy(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("h")) \
        .agg(F.count(F.lit(1)).alias("n")).collect()
    real = [r for r in per_host if r["h"] is not None]
    assert real and all(r["n"] <= 3 for r in real)
    assert any(r["n"] == 3 for r in real)  # the cap actually bit
    # all 6 null-host docs survived (kept by the filter, exempt from cap)
    assert corpus.where(F.col("url").startswith("urn:doc:")).count() == 6


def test_train_classifier_then_curate(spark, tmp_path, capsys):
    """train-classifier writes a coefficient JSON that curate
    --classifier-model consumes as a filter stage, with its count in
    the lineage summary."""
    from pyspark.sql import functions as F

    from datacanary_spark.functions.heuristics import (
        FilterConfig,
        heuristic_hit_exprs,
        stat_cols,
        with_text_stats,
    )
    from datacanary_spark.sources.fixtures import pages_spark_df

    # labeled seed set: golden heuristic verdicts over fixture pages
    labeled_path = str(tmp_path / "labeled")
    d = with_text_stats(pages_spark_df(spark, 600, seed=5), text_col="text")
    hits = heuristic_hit_exprs(FilterConfig(), stat_cols())
    label = F.lit(1)
    for h in hits.values():
        label = F.when(h > 0, 0).otherwise(label)
    d.select("url", "text", label.alias("label")) \
        .write.mode("overwrite").parquet(labeled_path)

    model = str(tmp_path / "model.json")
    assert main(["train-classifier", "--input", labeled_path,
                 "--output", model, "--label-col", "label"]) == 0
    import json as _json

    info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["model"] == model and len(info["features"]) > 0

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "2"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "curated")
    assert main(["curate", "--input", pages, "--output", out,
                 "--classifier-model", model,
                 "--classifier-threshold", "0.3"]) == 0
    s = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["kept"] >= s["after_classifier"] > 0
    assert s["final_docs"] > 0


def test_ingest_subcommand(spark, tmp_path, capsys):
    """Incremental ingest: batch 0 creates the store; batch 1 containing
    a clone of a batch-0 doc is deduped against the store; batch order
    is enforced."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    d = spark.read.parquet(docs).select("doc_id", "text", "lang")
    b0 = str(tmp_path / "b0")
    b1 = str(tmp_path / "b1")
    d.where(F.col("doc_id") < 250).write.parquet(b0)
    later = d.where(F.col("doc_id") >= 250)
    clone = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    later.unionByName(clone).write.parquet(b1)

    store = str(tmp_path / "store")
    out0, out1 = str(tmp_path / "acc0"), str(tmp_path / "acc1")
    assert main(["ingest", "--store", store, "--input", b0, "--output",
                 out0, "--batch-id", "0"]) == 0
    res0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res0["committed_batches"] == [0]

    assert main(["ingest", "--store", store, "--input", b1, "--output",
                 out1, "--batch-id", "1"]) == 0
    res1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res1["committed_batches"] == [0, 1]
    # the 5 clones of batch-0 docs were dropped against the store
    acc1 = spark.read.parquet(out1)
    assert acc1.where(F.col("doc_id") >= 100000).count() == 0
    assert res1["accepted"] <= res1["rows_in"] - 5

    # batch 0 is COMMITTED, so re-running it is the idempotent-resume
    # path, not an error: accepted rows are replayed from the store
    assert main(["ingest", "--store", store, "--input", b0, "--output",
                 str(tmp_path / "acc2"), "--batch-id", "0"]) == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["accepted"] == res0["accepted"]


def test_sample_temperature_flag(spark, tmp_path, capsys):
    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "tsample")
    assert main(["sample", "--input", docs, "--output", out,
                 "--strata-col", "lang", "--key-col", "doc_id",
                 "--temperature", "0.5"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # smallest lang keeps 100%; every derived fraction in (0, 1]
    assert max(res["fractions"].values()) == 1.0
    # token-weighted mass gives (generally) different fractions
    assert main(["sample", "--input", docs, "--output",
                 out + "w", "--strata-col", "lang", "--key-col",
                 "doc_id", "--temperature", "0.5",
                 "--weight-col", "n_chars"]) == 0
    resw = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert max(resw["fractions"].values()) == 1.0
    assert all(0 < f <= 1.0 for f in res["fractions"].values())
    assert 0 < res["rows_out"] < res["rows_in"]

    import pytest as _pytest
    with _pytest.raises(SystemExit, match="exactly one"):
        main(["sample", "--input", docs, "--output", out,
              "--strata-col", "lang", "--key-col", "doc_id"])


def test_ingest_stream_and_compact_subcommands(spark, tmp_path, capsys):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    inp = str(tmp_path / "sin")
    d.where(F.col("doc_id") < 100).coalesce(1).write.parquet(f"{inp}/a.parquet")
    d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)) \
        .coalesce(1).write.parquet(f"{inp}/b.parquet")

    store = str(tmp_path / "sstore")
    assert main(["ingest-stream", "--store", store, "--input", inp,
                 "--output", str(tmp_path / "sout"),
                 "--checkpoint", str(tmp_path / "sckpt"),
                 "--max-files-per-trigger", "1"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res["committed_batches"]) >= 2

    assert main(["ingest", "--store", store, "--compact"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["compacted"] is True

    assert main(["ingest", "--store", store, "--describe"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["data_dirs"] == ["compacted=1"]
    assert res["n_content_hashes"] > 0
    assert len(res["committed_batches"]) >= 2

    import pytest as _pytest
    with _pytest.raises(SystemExit, match="requires"):
        main(["ingest", "--store", store])


def test_curate_temperature_mixing(spark, tmp_path, capsys):
    """curate --temperature derives mixing fractions from the curated
    corpus itself: the summary records them, the smallest stratum keeps
    1.0, and --fractions+--temperature together is rejected."""
    pages = str(tmp_path / "tpages")
    out = str(tmp_path / "tcurated")
    assert main(["gen-pages", "--output", pages, "--docs", "200",
                 "--seed", "11"]) == 0
    capsys.readouterr()
    assert main(["curate", "--input", pages, "--output", out,
                 "--temperature", "0.5"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    fr = summary["temperature_fractions"]
    assert max(fr.values()) == 1.0
    assert all(0 < v <= 1.0 for v in fr.values())
    assert summary["sampled"] <= summary["final_docs"] or True
    assert summary["final_docs"] > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at most one"):
        main(["curate", "--input", pages, "--output", out,
              "--temperature", "0.5", "--fractions", "en=1.0"])


def test_curate_near_dup_cluster_stage(spark, tmp_path, capsys):
    """--near-dup-threshold collapses transitive near-dup clusters to
    one survivor (min url). Near-dup copies are planted as page rows
    whose text is a surviving doc's text plus a short trailer."""
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    survivors = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    victims = [r.url for r in survivors.orderBy("url").limit(8).collect()]

    src = spark.read.parquet(pages)
    copies = (src.where(F.col("url").isin(victims))
              .withColumn("url", F.concat(F.col("url"), F.lit("~copy")))
              .withColumn("text", F.concat(
                  F.col("text"), F.lit(" and a tiny trailing remark"))))
    pages2 = str(tmp_path / "pages2")
    src.unionByName(copies).write.parquet(pages2)

    plain = run_curation_job(spark, pages2, str(tmp_path / "plain"))
    nd = run_curation_job(spark, pages2, str(tmp_path / "nd"),
                          near_dup_threshold=0.5)
    plain_corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "plain"), "corpus"))
    n_copies_survived = plain_corpus.where(
        F.col("url").endswith("~copy")).count()
    assert n_copies_survived >= 2  # the planted dups made it to dedup

    nd_corpus = spark.read.parquet(os.path.join(str(tmp_path / "nd"),
                                                "corpus"))
    # every copy whose base is present clusters with it; base url sorts
    # first, so NO planted copy survives the cluster stage
    base_urls = {r.url for r in nd_corpus.collect()}
    assert not any(u.endswith("~copy") and u[:-5] in base_urls
                   for u in base_urls)
    assert nd["after_near_dup_clusters"] <= nd["after_exact_dedup"]
    # determinism: re-running reproduces the identical corpus
    nd2 = run_curation_job(spark, pages2, str(tmp_path / "nd2"),
                           near_dup_threshold=0.5)
    assert nd2["final_docs"] == nd["final_docs"]
    assert nd2["by_lang"] == nd["by_lang"]

    # keep-the-best-copy: the planted copies are strictly LONGER than
    # their bases, so near_dup_keep="longest" flips every pair's
    # representative — the copy survives, the base drops — while the
    # cluster count stays identical to min-id mode
    best = run_curation_job(spark, pages2, str(tmp_path / "ndl"),
                            near_dup_threshold=0.5,
                            near_dup_keep="longest")
    assert best["after_near_dup_clusters"] == nd["after_near_dup_clusters"]
    best_urls = {r.url for r in spark.read.parquet(
        os.path.join(str(tmp_path / "ndl"), "corpus")).collect()}
    flipped = [u for u in best_urls if u.endswith("~copy")]
    assert flipped and not any(u[:-5] in best_urls for u in flipped)

    import pytest
    with pytest.raises(ValueError, match="near_dup_keep"):
        run_curation_job(spark, pages2, str(tmp_path / "ndx"),
                         near_dup_threshold=0.5, near_dup_keep="bogus")
    # ... and fails at entry even when the near-dup stage is off — a
    # typo'd keep rule must never be silently ignored
    with pytest.raises(ValueError, match="near_dup_keep"):
        run_curation_job(spark, pages2, str(tmp_path / "ndy"),
                         near_dup_keep="bogus")


def test_curate_span_dedup_stage(spark, tmp_path, capsys):
    """--span-dedup-k removes a boilerplate window planted on several
    surviving docs everywhere except its first occurrence."""
    from datacanary_spark.plans.curate import run_curation_job

    boiler = "subscribe to our newsletter for weekly updates and offers"
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    survivors = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    victims = [r.url for r in survivors.orderBy("url").limit(6).collect()]

    src = spark.read.parquet(pages)
    planted = src.withColumn(
        "text",
        F.when(F.col("url").isin(victims),
               F.concat(F.col("text"), F.lit(f" {boiler}")))
         .otherwise(F.col("text")))
    pages2 = str(tmp_path / "pages2")
    planted.write.parquet(pages2)

    s = run_curation_job(spark, pages2, str(tmp_path / "sd"),
                         span_dedup_k=9)
    assert "after_span_dedup" in s
    out = spark.read.parquet(os.path.join(str(tmp_path / "sd"), "corpus"))
    with_boiler = [r.url for r in
                   out.where(F.col("text").contains(boiler)).collect()]
    n_planted_kept = out.where(F.col("url").isin(victims)).count()
    assert n_planted_kept >= 2      # the planted docs made it through
    assert len(with_boiler) == 1    # exactly the canonical occurrence
    assert with_boiler[0] == min(
        r.url for r in out.where(F.col("url").isin(victims)).collect())


def test_curate_gopher_repetition_stage(spark, tmp_path, capsys):
    """Opt-in Gopher char-weighted repetition stage: a planted doc that
    passes the base heuristics but carries a repeated 10-gram span is
    dropped; lineage records the stage; output has zero violators."""
    from pyspark.sql import functions as F2

    from datacanary_spark.functions.repetition import (
        gopher_repetition_hit_exprs,
        with_repetition_stats,
    )
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    donor = corpus.orderBy("url").first()  # survives the base filter
    span = " ".join(donor["text"].split()[:10])
    planted_text = donor["text"] + " " + " ".join([span] * 3)
    planted = spark.createDataFrame(
        [("http://zzz-planted.test/x", planted_text)], "url string, text string")
    pages_df = spark.read.parquet(pages)
    pages2 = str(tmp_path / "pages2")
    pages_df.unionByName(
        planted.select(
            "url", F2.lit(None).cast("timestamp").alias("warc_ts"),
            F2.lit(None).cast("binary").alias("html"), "text",
            F2.lit(donor["lang_pred"] if "lang_pred" in corpus.columns
                   else "en").alias("lang"))
    ).write.parquet(pages2)

    plain = run_curation_job(spark, pages2, str(tmp_path / "plain"))
    # the planted doc passes the base heuristic filter
    out_plain = spark.read.parquet(
        os.path.join(str(tmp_path / "plain"), "corpus"))
    assert out_plain.where(
        F2.col("url") == "http://zzz-planted.test/x").count() == 1

    rep = run_curation_job(spark, pages2, str(tmp_path / "rep"),
                           gopher_repetition=True)
    assert "after_repetition_filter" in rep
    assert rep["after_repetition_filter"] < plain["kept"]
    out_rep = spark.read.parquet(os.path.join(str(tmp_path / "rep"), "corpus"))
    assert out_rep.where(
        F2.col("url") == "http://zzz-planted.test/x").count() == 0
    # no violator of any threshold survives
    hits = gopher_repetition_hit_exprs()
    n_viol = (with_repetition_stats(out_rep, text_col="text")
              .withColumn("_h", sum(hits.values(), F2.lit(0)))
              .where(F2.col("_h") > 0).count())
    assert n_viol == 0
    # CLI flag reaches the plan
    assert main(["curate", "--input", pages2,
                 "--output", str(tmp_path / "cli_rep"),
                 "--gopher-repetition"]) == 0
    cli_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_summary["after_repetition_filter"] == \
        rep["after_repetition_filter"]


def test_curate_code_filter_stage(spark, tmp_path, capsys):
    """Opt-in code-line filter: a planted doc that passes the base
    heuristics but is one-third code-shaped lines is dropped; lineage
    records the stage; expected drop count comes from the golden twin."""
    from pyspark.sql import functions as F2

    from datacanary_spark.functions.readability import golden_readability
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    donor = corpus.orderBy("url").first()
    # code-shaped lines built from the donor's own (in-vocab) words so
    # ppl/stopword/symbol rules stay satisfied: 4-space indent +
    # trailing semicolon hits CODE_LINE_RE twice over
    vocab = [w for w in donor["text"].split() if w.isalpha()][:6] or ["the"]
    n_lines = len(donor["text"].split("\n"))
    code_lines = [f"    {vocab[i % len(vocab)]} {vocab[(i + 1) % len(vocab)]} x{i};"
                  for i in range(n_lines)]  # ~50% of planted lines
    planted_text = donor["text"] + "\n" + "\n".join(code_lines)
    g = golden_readability(planted_text)
    assert g["code_line_fraction"] > 0.25

    pages_df = spark.read.parquet(pages)
    pages2 = str(tmp_path / "pages2")
    pages_df.unionByName(spark.createDataFrame(
        [("http://zzz-code.test/x", planted_text)],
        "url string, text string").select(
            "url", F2.lit(None).cast("timestamp").alias("warc_ts"),
            F2.lit(None).cast("binary").alias("html"), "text",
            F2.lit("en").alias("lang"))).write.parquet(pages2)

    plain = run_curation_job(spark, pages2, str(tmp_path / "plain"))
    out_plain = spark.read.parquet(
        os.path.join(str(tmp_path / "plain"), "corpus"))
    assert out_plain.where(
        F2.col("url") == "http://zzz-code.test/x").count() == 1

    # golden-twin expected survivors at the stage's exact law
    n_over = sum(1 for r in out_plain.collect()
                 if (golden_readability(r["text"])["code_line_fraction"]
                     or 0.0) > 0.25)
    assert n_over >= 1

    cf = run_curation_job(spark, pages2, str(tmp_path / "cf"),
                          max_code_line_fraction=0.25)
    assert cf["after_code_filter"] == plain["kept"] - n_over
    out_cf = spark.read.parquet(os.path.join(str(tmp_path / "cf"), "corpus"))
    assert out_cf.where(
        F2.col("url") == "http://zzz-code.test/x").count() == 0

    # CLI flag reaches the plan
    assert main(["curate", "--input", pages2,
                 "--output", str(tmp_path / "cli_cf"),
                 "--max-code-line-fraction", "0.25"]) == 0
    cli_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_summary["after_code_filter"] == cf["after_code_filter"]


def test_curate_compression_filter_stage(spark, tmp_path, capsys):
    """Opt-in zlib compressibility filter: threshold placed (via the
    golden twin) between the most-compressible survivor and the rest;
    exactly the docs below it drop; lineage records the stage."""
    from datacanary_spark.functions.readability import (
        golden_compression_ratio,
    )
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    ratios = sorted(golden_compression_ratio(r["text"])
                    for r in corpus.collect())
    assert len(ratios) == base["kept"]
    lo, second = ratios[0], next(r for r in ratios if r > ratios[0])
    threshold = (lo + second) / 2
    n_below = sum(1 for r in ratios if r < threshold)
    assert n_below >= 1

    s = run_curation_job(spark, pages, str(tmp_path / "zf"),
                         min_compression_ratio=threshold)
    assert s["after_compression_filter"] == base["kept"] - n_below
    out = spark.read.parquet(os.path.join(str(tmp_path / "zf"), "corpus"))
    assert all(golden_compression_ratio(r["text"]) >= threshold
               for r in out.collect())

    # CLI flag reaches the plan
    assert main(["curate", "--input", pages,
                 "--output", str(tmp_path / "cli_zf"),
                 "--min-compression-ratio", str(threshold)]) == 0
    cli_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_summary["after_compression_filter"] == \
        s["after_compression_filter"]


def test_curate_badwords_stage(spark, tmp_path, capsys):
    """Opt-in C4 bad-words stage: docs carrying a lexicon token are
    dropped under the strict rule, survive under a loose density rule;
    lineage records the stage; the CLI flags reach the plan."""
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    # adopt a word from a surviving doc as the "bad word": it is
    # guaranteed to appear post-scrub (scrub never touches it) and to
    # pass the heuristic filter inside its donor doc
    import re as _re

    donor = corpus.orderBy("url").first()
    bad = next(w for w in donor["text"].lower().split()
               if w.isalpha() and w.isascii() and len(w) >= 4)

    def _hit(text):  # the stage's exact token law
        return bad in _re.split("[^a-z]+", (text or "").lower())

    n_docs_with = sum(_hit(r["text"]) for r in corpus.collect())
    assert n_docs_with >= 1

    s = run_curation_job(spark, pages, str(tmp_path / "bw"),
                         badwords=[bad])
    assert "after_badwords" in s
    assert s["after_badwords"] == base["kept"] - n_docs_with
    out = spark.read.parquet(os.path.join(str(tmp_path / "bw"), "corpus"))
    assert not any(_hit(r["text"]) for r in out.collect())

    # density rule at 100% never drops anything
    loose = run_curation_job(spark, pages, str(tmp_path / "bw2"),
                             badwords=[bad], badword_max_fraction=1.0)
    assert loose["after_badwords"] == base["kept"]

    # CLI flags reach the plan
    assert main(["curate", "--input", pages,
                 "--output", str(tmp_path / "cli_bw"),
                 "--badwords", bad]) == 0
    cli_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_summary["after_badwords"] == s["after_badwords"]



def test_curate_dsir_stage(spark, tmp_path, capsys):
    """Optional DSIR importance-selection stage: train vs a target
    table, keep the top fraction by weight, record lineage; docs
    resembling the target are enriched in the survivors."""
    from pyspark.sql import functions as F2

    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "2"]) == 0
    capsys.readouterr()

    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    # target domain = the corpus's own English docs
    target = str(tmp_path / "target")
    corpus.where(F2.col("lang_pred") == "en").select("text") \
        .write.parquet(target)

    s = run_curation_job(spark, pages, str(tmp_path / "dsir"),
                         dsir_target_path=target, dsir_keep_fraction=0.5)
    assert 0 < s["after_dsir"] < s["final_docs"] + 1
    assert s["after_dsir"] <= base["final_docs"]
    out = spark.read.parquet(os.path.join(str(tmp_path / "dsir"), "corpus"))
    assert "dsir_weight" not in out.columns  # stage drops its scratch col

    def en_frac(df):
        n = df.count()
        return df.where(F2.col("lang_pred") == "en").count() / n

    assert en_frac(out) >= en_frac(corpus)  # target lang enriched

    # CLI wiring produces the same lineage
    assert main(["curate", "--input", pages,
                 "--output", str(tmp_path / "cli_dsir"),
                 "--dsir-target", target,
                 "--dsir-keep-fraction", "0.5"]) == 0
    cli_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_summary["after_dsir"] == s["after_dsir"]


def test_curate_job_delegates_full_cli_surface(spark, tmp_path, capsys,
                                               monkeypatch):
    """jobs/curate_job.py must expose every CLI curate flag (it drifted
    seven stages behind when it carried its own parser): drive it
    in-proc with an r04-era flag and check the lineage key appears."""
    import importlib
    import sys

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "40",
                 "--files", "1"]) == 0
    capsys.readouterr()

    job = importlib.import_module("jobs.curate_job")
    monkeypatch.setattr(sys, "argv", [
        "curate_job.py", "--input", pages,
        "--output", str(tmp_path / "out"), "--gopher-repetition"])
    assert job.main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "after_repetition_filter" in summary
    assert summary["final_docs"] >= 0


def test_curate_blocklist_and_bloom_decontamination(spark, tmp_path, capsys):
    """--blocklist drops listed origins before any content processing
    (docs_in -> after_blocklist visible in lineage); decontaminate-mode
    bloom produces byte-identical output to mode exact."""
    from pyspark.sql import functions as F2

    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "2"]) == 0
    capsys.readouterr()

    # fixture urls are https://host{i}.example.com/...: block two hot
    # hosts exactly and everything else via a registrable-domain test
    out = str(tmp_path / "blocked")
    assert main(["curate", "--input", pages, "--output", out,
                 "--blocklist", "host0.example.com,host1.example.com"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["docs_in"] == 120
    assert s["after_blocklist"] < 120  # Zipf host pool: hot hosts exist
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    hosts = {r["h"] for r in corpus.select(
        F2.parse_url(F2.col("url"), F2.lit("HOST")).alias("h")).collect()}
    assert "host0.example.com" not in hosts
    assert "host1.example.com" not in hosts

    # a registrable-domain entry blocks EVERY fixture host (suffix walk)
    s_all = run_curation_job(spark, pages, str(tmp_path / "allblocked"),
                             blocklist=["example.com"])
    assert s_all["after_blocklist"] == 0 and s_all["final_docs"] == 0

    # bloom == exact decontamination, end to end
    base = run_curation_job(spark, pages, str(tmp_path / "dbase"))
    bench = str(tmp_path / "dbench")
    spark.read.parquet(os.path.join(str(tmp_path / "dbase"), "corpus")) \
        .orderBy("url").limit(4).select("text").write.parquet(bench)
    se = run_curation_job(spark, pages, str(tmp_path / "dexact"),
                          decontaminate_path=bench,
                          decontaminate_mode="exact")
    sb = run_curation_job(spark, pages, str(tmp_path / "dbloom"),
                          decontaminate_path=bench,
                          decontaminate_mode="bloom")
    assert sb["after_decontamination"] == se["after_decontamination"] \
        == base["final_docs"] - 4
    a = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "dexact"), "corpus")).collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "dbloom"), "corpus")).collect()}
    assert a == b
    # ngrams mode (13-gram overlap) removes AT LEAST the exact dups —
    # an identical doc shares all its 13-grams — and never a doc
    # sharing none; on this corpus the benchmark docs are verbatim
    # members, so the count matches exact mode
    sn = run_curation_job(spark, pages, str(tmp_path / "dngrams"),
                          decontaminate_path=bench,
                          decontaminate_mode="ngrams")
    assert sn["after_decontamination"] <= se["after_decontamination"]
    n = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "dngrams"), "corpus")).collect()}
    assert n <= a


def test_curate_c4_clean_stage(spark, tmp_path, capsys):
    """--c4-clean removes boilerplate lines before dedup; fixture prose
    has no terminal punctuation, so the corpus-appropriate config is
    --c4-no-terminal-punct with a line-length floor that kills the
    planted short boilerplate lines."""
    from pyspark.sql import functions as F2

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "2"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "c4")
    assert main(["curate", "--input", pages, "--output", out,
                 "--c4-clean", "--c4-no-terminal-punct",
                 "--c4-min-line-words", "5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["kept"] >= s["after_c4_clean"] > 0
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    # fixture boilerplate lines ("SHARED HEADER ..."-style stubs) are
    # under 5 words; none may survive inside any document
    short_lines = corpus.select(
        F2.explode(F2.split("text", "\n")).alias("l")) \
        .where(F2.size(F2.filter(F2.split(F2.trim("l"), r"\s+"),
                                 lambda w: w != F2.lit(""))) < 5)
    assert short_lines.count() == 0


def test_curate_epoch_upsampling(spark, tmp_path, capsys):
    """--epochs replicates strata to fractional epoch counts after
    dedup; output rows carry an epoch column and the replica set is
    deterministic (identical across re-runs)."""
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "100",
                 "--files", "2"]) == 0
    capsys.readouterr()

    def run(out):
        assert main(["curate", "--input", pages, "--output", out,
                     "--epochs", "en=2.5,de=1.0,fr=0.25"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    s = run(str(tmp_path / "up1"))
    corpus = spark.read.parquet(os.path.join(str(tmp_path / "up1"), "corpus"))
    assert "epoch" in corpus.columns
    assert s["upsampled_rows"] == s["final_docs"] == corpus.count()
    # the upsample stage's lineage row has NEGATIVE dropped by design
    # (replication, not loss) and still chains consistently (r05)
    up = next(r for r in s["stage_lineage"] if r["stage"] == "upsampled_rows")
    assert up["docs_out"] > up["docs_in"] and up["dropped"] < 0
    assert up["dropped"] == up["docs_in"] - up["docs_out"]
    from pyspark.sql import functions as F2

    en_counts = {r["count"] for r in
                 corpus.where(F2.col("lang_pred") == "en")
                 .groupBy("url").count().collect()}
    assert en_counts <= {2, 3} and en_counts
    # epochs are contiguous per doc
    bad = corpus.groupBy("url").agg(
        F2.count(F2.lit(1)).alias("n"), F2.max("epoch").alias("m")) \
        .where(F2.col("m") != F2.col("n") - 1).count()
    assert bad == 0
    # mutual exclusion with --fractions
    import pytest

    with pytest.raises(ValueError):
        from datacanary_spark.plans.curate import run_curation_job

        run_curation_job(spark, pages, str(tmp_path / "bad"),
                         fractions={"en": 1.0}, epoch_weights={"en": 2.0})

    s2 = run(str(tmp_path / "up2"))
    a = sorted(tuple(r) for r in corpus.collect())
    b = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "up2"), "corpus")).collect())
    assert a == b


def test_parse_fractions_rejects_nonfinite_and_names_flag():
    import pytest

    from datacanary_spark.cli import parse_fractions

    for bad in ("en=nan", "en=inf", "en=-inf"):
        with pytest.raises(SystemExit):
            parse_fractions(bad)
        with pytest.raises(SystemExit):
            parse_fractions(bad, max_value=None, flag="--epochs")
    with pytest.raises(SystemExit, match="--epochs"):
        parse_fractions("en=abc", max_value=None, flag="--epochs")
    # epochs accept >1 but stay finite-bounded
    assert parse_fractions("en=2.5", max_value=None,
                           flag="--epochs") == {"en": 2.5}


def test_filter_job_bucket_modulus_stable_across_resume(spark, tmp_path,
                                                        monkeypatch):
    """The lineage bucket key space (url-hash % buckets) must keep ONE
    modulus for the life of a job: the first run records its choice in
    _checkpoint/job_meta.json, a resume with no explicit value reuses
    it (never re-derives from the resuming cluster's parallelism), and
    a conflicting explicit value is refused."""
    import json as _json

    import pytest

    from datacanary_spark.plans import checkpoint as cp
    from datacanary_spark.sources.fixtures import write_pages_parquet

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_parquet(pages, n_docs=60, seed=7, chunk_size=30)  # 2 files

    calls = {"n": 0}
    real = cp.partition_lineage

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated loss")
        return real(*a, **kw)

    monkeypatch.setattr(cp, "partition_lineage", dying)
    with pytest.raises(RuntimeError, match="simulated"):
        cp.run_filter_job(spark, pages, out, n_chunks=2,
                          repartition_buckets=6)
    meta = _json.load(open(os.path.join(out, "_checkpoint",
                                        "job_meta.json")))
    assert meta["repartition_buckets"] == 6

    # conflicting explicit value on resume → refused before any work
    monkeypatch.setattr(cp, "partition_lineage", real)
    with pytest.raises(RuntimeError, match="repartition_buckets=12"):
        cp.run_filter_job(spark, pages, out, n_chunks=2,
                          repartition_buckets=12)

    # default resume reuses the recorded modulus: every bucket id < 6
    summary = cp.run_filter_job(spark, pages, out, n_chunks=2)
    assert summary["docs"] == 60
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    ids = [r["partition_id"] for r in
           metrics.select("partition_id").distinct().collect()]
    assert ids and all(0 <= i < 6 for i in ids)


def test_gen_pages_reports_actual_file_count(tmp_path, capsys):
    """Printed file count is the number of chunks actually written
    (ceil(9/ceil(9/8)) = 5, not the requested 8); --docs 0 is a clean
    usage error, not a range() traceback."""
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "9",
                 "--files", "8"]) == 0
    out = capsys.readouterr().out
    assert "(5 files)" in out

    assert main(["gen-pages", "--output", str(tmp_path / "p2"),
                 "--docs", "0", "--files", "8"]) == 2


def test_check_pattern_rules_run_full_data(spark, tmp_path, capsys):
    """cmd_check must feed the DataFrame to evaluate_profile so pattern
    rules see ALL rows: the profile's top-10 sample_values here all
    match the pattern, but one rare row does not — sample-only mode
    would pass, full-data mode must fail with rc 1."""
    data = str(tmp_path / "codes")
    rows = [(i, f"AB{100000 + i % 12:06d}") for i in range(120)]
    rows.append((999, "zz-bad"))  # unique, never a top-10 sample value
    spark.createDataFrame(rows, "id bigint, code string") \
        .write.parquet(data)

    rules = tmp_path / "rules.yaml"
    rules.write_text(
        "rules:\n"
        "  - type: pattern_match\n"
        "    pattern: '[A-Z]{2}\\d{6}$'\n"
        "    columns: [code]\n")
    check_json = str(tmp_path / "check.json")
    rc = main(["check", "--file", data, "--rules", str(rules),
               "--json", check_json])
    capsys.readouterr()
    assert rc == 1
    blob = json.load(open(check_json))
    verdicts = [r["result"] for r in blob["rules"]["code"]
                if r["rule_name"].startswith("pattern")]
    assert verdicts and verdicts[0]["passed"] is False
    assert verdicts[0]["invalid_count"] == 1


def test_export_split_shuffle_shards(spark, tmp_path, capsys):
    """export writes output/split=S/shard=K with one file per pair,
    deterministic across re-runs; split counts in the summary."""
    import glob

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "2"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "export")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "4",
                 "--split", "train=0.5,heldout=0.5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["splits"]["train"] + s["splits"]["heldout"] == 120
    assert s["splits"]["train"] > 0 and s["splits"]["heldout"] > 0
    assert s["splits"]["null_key"] == 0  # seeded, visible when empty
    pair_dirs = glob.glob(f"{out}/split=*/shard=*")
    assert 0 < len(pair_dirs) <= 8
    for d in pair_dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1
    back = spark.read.parquet(out)
    assert back.count() == 120
    first = {r["url"]: (r["split"], r["shard"], r["shuffle_key"])
             for r in back.collect()}
    # re-run into a second dir: identical placement (pure key function)
    out2 = str(tmp_path / "export2")
    assert main(["export", "--input", pages, "--output", out2,
                 "--key-col", "url", "--n-shards", "4",
                 "--split", "train=0.5,heldout=0.5"]) == 0
    second = {r["url"]: (r["split"], r["shard"], r["shuffle_key"])
              for r in spark.read.parquet(out2).collect()}
    assert first == second
    # within-file order is pinned: each part file ascends by
    # shuffle_key (the write-time sort contract of write_shards)
    for d in pair_dirs:
        [f] = glob.glob(f"{d}/part-*.parquet")
        keys = [r["shuffle_key"]
                for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys)


def test_export_job_delegates_to_cli(monkeypatch):
    """jobs/export_job.py forwards its argv to the CLI export
    subcommand verbatim (the no-flag-drift delegation contract)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "export_job", "jobs/export_job.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    seen = {}

    def fake_main(argv):
        seen["argv"] = argv
        return 0

    import sys as _sys

    import datacanary_spark.cli as cli_mod
    monkeypatch.setattr(cli_mod, "main", fake_main)
    monkeypatch.setattr(_sys, "argv",
                        ["export_job.py", "--input", "a", "--output", "b"])
    assert mod.main() == 0
    assert seen["argv"] == ["export", "--input", "a", "--output", "b"]


def test_export_null_keys_and_bad_split_spec(spark, tmp_path, capsys):
    """A NULL key exports under the null partition and is counted as
    null_key (not a crash); a bad --split spec dies as a clean usage
    error before any Spark work."""
    import numpy as np

    from datacanary_spark.sources.fixtures import (
        _insert_lines,
        _sample_words,
    )

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "40",
                 "--files", "1"]) == 0
    rng = np.random.default_rng(11)
    nullrow = [(None, None, None,
                _insert_lines(rng, _sample_words(rng, "en", 50)), "en")]
    # PAGES_SCHEMA pins url non-null; a dirty upstream table may not —
    # write the null-key row through an all-nullable twin schema
    spark.createDataFrame(
        nullrow, "url string, warc_ts timestamp, html binary, "
                 "text string, lang string").coalesce(1) \
        .write.mode("append").parquet(pages)
    capsys.readouterr()
    out = str(tmp_path / "export")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "3",
                 "--split", "train=0.5,heldout=0.5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["splits"]["null_key"] == 1
    assert s["splits"]["train"] + s["splits"]["heldout"] == 40
    back = spark.read.parquet(out)
    assert back.count() == 41
    assert back.where(F.col("split").isNull()).count() == 1
    import pytest as _pt
    with _pt.raises(SystemExit, match="--split"):
        main(["export", "--input", pages, "--output", out,
              "--split", "train=0.6,val=0.3"])
    with _pt.raises(SystemExit, match="--split"):
        main(["export", "--input", pages, "--output", out,
              "--split", "train=1.0,val=0.0"])


def test_curate_then_export_composition(spark, tmp_path, capsys):
    """The full corpus lifecycle in two jobs: curate (filter + dedup)
    then export (split + shuffle + shards) over curate's corpus —
    every written doc is placed, counts agree across the boundary."""
    import glob

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "100",
                 "--files", "2"]) == 0
    curated = str(tmp_path / "curated")
    assert main(["curate", "--input", pages, "--output", curated,
                 "--normalize", "NFC"]) == 0
    csum = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out = str(tmp_path / "shards")
    assert main(["export", "--input", curated + "/corpus",
                 "--output", out, "--key-col", "url", "--n-shards", "2",
                 "--split", "train=0.9,val=0.1"]) == 0
    esum = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    placed = esum["splits"]["train"] + esum["splits"]["val"] \
        + esum["splits"]["null_key"]
    assert placed == csum["final_docs"] > 0
    assert esum["splits"]["null_key"] == 0  # curate keys are urls
    files = glob.glob(f"{out}/split=*/shard=*/part-*.parquet")
    assert spark.read.parquet(out).count() == csum["final_docs"]
    assert 0 < len(files) <= 4


def test_export_jsonl_output(spark, tmp_path, capsys):
    """--output-format jsonl writes gzipped JSON-lines shards (one per
    (split, shard)) whose content round-trips: same docs, html base64d
    to the read_pages_jsonl wire form."""
    import base64
    import glob

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "60",
                 "--files", "1"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "jl")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "2",
                 "--split", "train=0.5,heldout=0.5",
                 "--output-format", "jsonl"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["format"] == "jsonl"
    files = glob.glob(f"{out}/split=*/shard=*/part-*.json.gz")
    assert 0 < len(files) <= 4
    for d in glob.glob(f"{out}/split=*/shard=*"):
        assert len(glob.glob(f"{d}/part-*.json.gz")) == 1
    back = spark.read.json(out)
    assert back.count() == 60
    # html survives as base64 of the original bytes
    src = {r["url"]: r["html"] for r in
           spark.read.parquet(pages).collect()}
    got = {r["url"]: r["html"] for r in back.collect()}
    for url, h in got.items():
        want = src[url]
        if want is None:
            assert h is None
        else:
            assert base64.b64decode(h) == bytes(want)


def test_export_mixture_of_corpora(spark, tmp_path, capsys):
    """Repeatable --input interleaves tagged corpora into one shard
    stream: every shard mixes both sources, same-url docs from
    different corpora don't collide, and the summary reports per-corpus
    totals."""
    import glob

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    # same seed -> identical urls in both corpora: the collision case
    assert main(["gen-pages", "--output", a, "--docs", "80",
                 "--files", "1"]) == 0
    assert main(["gen-pages", "--output", b, "--docs", "80",
                 "--files", "1"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "mix")
    assert main(["export", "--input", a, "--input", b,
                 "--tag", "web", "--tag", "books",
                 "--output", out, "--key-col", "url", "--n-shards", "2",
                 "--split", "train=0.9,val=0.1"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["by_corpus"] == {"web": 80, "books": 80}
    assert s["splits"]["train"] + s["splits"]["val"] == 160
    back = spark.read.parquet(out)
    assert back.count() == 160
    # every (split, shard) file contains BOTH corpora (the interleave)
    for d in glob.glob(f"{out}/split=train/shard=*"):
        srcs = {r["corpus"] for r in spark.read.parquet(d).collect()}
        assert srcs == {"web", "books"}
    # same-url docs from different corpora placed INDEPENDENTLY:
    # the (split, shard) assignment must differ for at least some urls
    rows = back.select("url", "corpus", "split", "shard").collect()
    place = {}
    diff = 0
    for r in rows:
        k = (r["url"], r["corpus"])
        place[k] = (r["split"], r["shard"])
    for r in rows:
        other = place.get((r["url"],
                           "books" if r["corpus"] == "web" else "web"))
        if other and other != (r["split"], r["shard"]):
            diff += 1
    assert diff > 0
    # tag validation
    import pytest as _pt
    with _pt.raises(SystemExit, match="--tag"):
        main(["export", "--input", a, "--input", b, "--tag", "only-one",
              "--output", out])
    with _pt.raises(SystemExit, match="unique"):
        main(["export", "--input", a, "--input", b,
              "--tag", "x", "--tag", "x", "--output", out])


def test_export_bpe_tokenizer_shipped_with_shards(spark, tmp_path, capsys):
    """--bpe-merges N learns the merge table on the exported corpus,
    tokenizes every doc into bpe_tokens/n_bpe_tokens, and ships the
    ordered merge list as output/_bpe_merges.json — all deterministic:
    the shipped table equals learn_bpe_merges on the same input, and
    re-applying it reproduces the shard tokens."""
    from datacanary_spark.operators.bpe import (
        bpe_segment_word,
        learn_bpe_merges,
    )

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "40",
                 "--files", "1"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "bpe_export")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "2",
                 "--split", "train=0.9,val=0.1",
                 "--bpe-merges", "30"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["bpe_merges"] == 30
    merges = [tuple(m) for m in
              json.loads((tmp_path / "bpe_export"
                          / "_bpe_merges.json").read_text())]
    assert merges == learn_bpe_merges(spark.read.parquet(pages), 30)
    back = spark.read.parquet(out)
    rows = back.select("text", "bpe_tokens", "n_bpe_tokens").collect()
    ranks = {m: i for i, m in enumerate(merges)}
    checked = 0
    for r in rows:
        if r["text"] is None:
            assert r["bpe_tokens"] is None and r["n_bpe_tokens"] is None
            continue
        want = [t for w in re.split("[ \t\n\x0b\f\r]+", r["text"]) if w
                for t in bpe_segment_word(w, ranks)]
        assert r["bpe_tokens"] == want
        assert r["n_bpe_tokens"] == len(want)
        checked += 1
    assert checked >= 30
    # unknown text column fails fast
    import pytest as _pt
    with _pt.raises(SystemExit, match="--bpe-merges"):
        main(["export", "--input", pages, "--output", out,
              "--bpe-merges", "5", "--bpe-text-col", "nope"])
    # negative merge count fails fast (pre-JVM, like --split errors)
    with _pt.raises(SystemExit, match="--bpe-merges"):
        main(["export", "--input", pages, "--output", out,
              "--bpe-merges", "-5"])


def test_export_unigram_tokenizer_shipped_with_shards(spark, tmp_path,
                                                      capsys):
    """--unigram-vocab N trains the Unigram-LM lexicon on the exported
    corpus, tokenizes every doc into unigram_tokens/n_unigram_tokens,
    and ships {token: logprob} as output/_unigram_lexicon.json — all
    deterministic: the shipped lexicon equals train_unigram on the same
    input, and driver-side Viterbi under it reproduces the shard
    tokens."""
    from datacanary_spark.operators.unigram import (
        train_unigram,
        viterbi_segment,
    )

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "30",
                 "--files", "1"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "ug_export")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "2",
                 "--unigram-vocab", "512"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lexicon = json.loads((tmp_path / "ug_export"
                          / "_unigram_lexicon.json").read_text())
    assert s["unigram_lexicon"] == len(lexicon)
    assert lexicon == train_unigram(spark.read.parquet(pages),
                                    vocab_size=512)
    required = {t for t in lexicon if len(t) == 1}
    multi = [t for t in lexicon if len(t) > 1]
    # bound holds AND the lexicon is non-degenerate (the fixture corpus
    # has ~383 distinct chars, all kept by the required-chars rule)
    assert 0 < len(multi) <= 512 - len(required)
    back = spark.read.parquet(out)
    rows = back.select("text", "unigram_tokens",
                       "n_unigram_tokens").collect()
    checked = 0
    for r in rows:
        if r["text"] is None:
            assert (r["unigram_tokens"] is None
                    and r["n_unigram_tokens"] is None)
            continue
        want = [t for w in re.split("[ \t\n\x0b\f\r]+", r["text"]) if w
                for t in viterbi_segment(w, lexicon, 8)]
        assert r["unigram_tokens"] == want
        assert r["n_unigram_tokens"] == len(want)
        checked += 1
    assert checked >= 20
    # fail-fast validation, pre-JVM
    import pytest as _pt
    with _pt.raises(SystemExit, match="--unigram-vocab"):
        main(["export", "--input", pages, "--output", out,
              "--unigram-vocab", "-1"])
    with _pt.raises(SystemExit, match="--unigram-vocab"):
        main(["export", "--input", pages, "--output", out,
              "--unigram-vocab", "9", "--bpe-text-col", "nope"])


def test_corpus_report_dataset_card(spark, tmp_path, capsys):
    """corpus-report renders a dataset card for a curate output: sizes,
    per-language composition, top hosts, and the curation provenance."""
    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "80",
                 "--files", "1"]) == 0
    curated = str(tmp_path / "curated")
    assert main(["curate", "--input", pages, "--output", curated]) == 0
    capsys.readouterr()
    card_path = str(tmp_path / "card.md")
    assert main(["corpus-report", "--input", curated,
                 "--output", card_path, "--title", "demo"]) == 0
    card = open(card_path).read()
    assert "# Dataset card — demo" in card
    assert "## Size" in card and "## Composition by language" in card
    assert "## Provenance (curation lineage)" in card
    assert "final_docs:" in card
    assert "## Top hosts" in card
    # numbers agree with the corpus
    n = spark.read.parquet(curated + "/corpus").count()
    assert f"- documents: {n:,}" in card
    # quality-signal section: corpus Flesch from the golden twin's sums
    from datacanary_spark.functions.readability import (
        flesch_from_counts,
        golden_readability,
    )
    rows = spark.read.parquet(curated + "/corpus").collect()
    tw = [golden_readability(r["text"]) for r in rows]
    wc = sum(len([w for w in re.split(r"[ \t\n\x0B\f\r]+", r["text"] or "")
                  if w]) for r in rows)  # Java-\s tokenization contract
    f = flesch_from_counts(wc, sum(t["sentence_count"] for t in tw),
                           sum(t["syllable_count"] for t in tw))
    assert "## Quality signals" in card
    assert f"- Flesch reading ease (corpus): {f:.1f}" in card
    assert "- code-shaped lines:" in card


def test_corpus_report_empty_and_plain_table(spark, tmp_path, capsys):
    """An empty corpus still renders a card (zero sums, no crash); a
    plain corpus table (no curate layout) gets no provenance section."""
    from datacanary_spark.plans.report_card import build_dataset_card

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "url string, text string, lang_pred string") \
        .write.parquet(empty)
    card = build_dataset_card(spark, empty, title="empty")
    assert "- documents: 0" in card
    assert "Provenance" not in card
    plain = str(tmp_path / "plain")
    spark.createDataFrame(
        [("http://h.example/a", "some text here", "en")],
        "url string, text string, lang_pred string").write.parquet(plain)
    card2 = build_dataset_card(spark, plain)
    assert "- documents: 1" in card2
    assert "| en | 1 |" in card2
    assert "h.example" in card2


def test_export_manifest(spark, tmp_path, capsys):
    """export writes _manifest.json: per-(split,shard) doc/char/token
    counts plus an order-insensitive content checksum; totals match the
    corpus; re-runs produce byte-identical manifests; --no-manifest
    skips it; the jsonl format gets one too."""
    import glob

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "120",
                 "--files", "2"]) == 0
    capsys.readouterr()
    out = str(tmp_path / "export")
    assert main(["export", "--input", pages, "--output", out,
                 "--key-col", "url", "--n-shards", "4",
                 "--split", "train=0.5,heldout=0.5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    mpath = os.path.join(out, "_manifest.json")
    assert os.path.exists(mpath)
    m = json.loads(open(mpath).read())
    assert m["totals"]["docs"] == 120
    assert s["manifest_shards"] == len(m["shards"]) \
        == len(glob.glob(f"{out}/split=*/shard=*"))
    # per-shard rows agree with the written artifact
    back = spark.read.parquet(out)
    got = {(r["split"], r["shard"]): r["n"] for r in
           back.groupBy("split", "shard")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    for row in m["shards"]:
        assert got[(row["split"], row["shard"])] == row["docs"]
        assert row["ws_tokens"] > 0 and row["chars"] > 0
        assert isinstance(row["xor64"], int)
    # deterministic: a re-export yields a byte-identical manifest
    out2 = str(tmp_path / "export2")
    assert main(["export", "--input", pages, "--output", out2,
                 "--key-col", "url", "--n-shards", "4",
                 "--split", "train=0.5,heldout=0.5"]) == 0
    capsys.readouterr()
    assert open(mpath).read() == \
        open(os.path.join(out2, "_manifest.json")).read()
    # opt-out
    out3 = str(tmp_path / "export3")
    assert main(["export", "--input", pages, "--output", out3,
                 "--no-manifest"]) == 0
    capsys.readouterr()
    assert not os.path.exists(os.path.join(out3, "_manifest.json"))
    # jsonl artifact gets a manifest over the written wire form
    out4 = str(tmp_path / "export4")
    assert main(["export", "--input", pages, "--output", out4,
                 "--n-shards", "2", "--output-format", "jsonl"]) == 0
    capsys.readouterr()
    m4 = json.loads(open(os.path.join(out4, "_manifest.json")).read())
    assert m4["totals"]["docs"] == 120 and m4["format"] == "jsonl"


def test_export_jsonl_manifest_keeps_all_null_column(spark, tmp_path,
                                                     capsys):
    """r05 (ADVICE r04): the jsonl manifest reads back with the WRITER's
    schema, not re-inference — Spark's JSON writer drops null fields, so
    an all-null column is invisible to inference at any samplingRatio
    and its counts would silently vanish from the manifest.  An export
    whose `text` is null in every row must still manifest chars=0 /
    ws_tokens=0 (column present) rather than omitting the keys."""
    import json
    import os

    src = str(tmp_path / "nulltext")
    spark.createDataFrame(
        [(f"http://h{i}.example/p", None) for i in range(40)],
        "url string, text string").write.parquet(src)
    out = str(tmp_path / "export_nulltext")
    assert main(["export", "--input", src, "--output", out,
                 "--n-shards", "2", "--output-format", "jsonl",
                 "--key-col", "url"]) == 0
    capsys.readouterr()
    m = json.loads(open(os.path.join(out, "_manifest.json")).read())
    assert m["totals"]["docs"] == 40
    assert m["totals"]["chars"] == 0 and m["totals"]["ws_tokens"] == 0
    assert all("chars" in s and s["chars"] == 0 for s in m["shards"])


def test_curate_paragraph_dedup_unit_flag(spark, tmp_path, capsys):
    """--line-dedup-unit paragraph BITES through the curate plan: docs
    carrying a shared multi-line paragraph lose it whole (internal
    lines intact in the survivor); bad unit values and the c4_clean
    conflict fail fast, up front."""
    import pytest as _pytest
    from pyspark.sql import functions as F2

    from datacanary_spark.plans.curate import run_curation_job
    from datacanary_spark.schema import PAGES_SCHEMA
    from datacanary_spark.sources.fixtures import (
        _insert_lines,
        _sample_words,
    )

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "60",
                 "--files", "1"]) == 0
    # plant docs sharing one multi-line paragraph between unique
    # paragraphs (fixture text itself has no blank lines, so these are
    # the only real paragraph boundaries in the corpus)
    import numpy as np

    rng = np.random.default_rng(17)
    shared = "shared boiler alpha\nshared boiler beta"
    planted = []
    for i in range(2):
        uniq = _insert_lines(rng, _sample_words(rng, "en", 120))
        planted.append((f"http://planted{i}.test/p", None, None,
                        f"{uniq}\n\n{shared}", "en"))
    spark.createDataFrame(planted, PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(pages)
    capsys.readouterr()

    assert main(["curate", "--input", pages,
                 "--output", str(tmp_path / "para"),
                 "--line-dedup-unit", "paragraph"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["after_line_dedup"] > 0 and s["final_docs"] > 0
    out = spark.read.parquet(os.path.join(str(tmp_path / "para"),
                                          "corpus"))
    survivors = {r["url"]: r["text"] for r in out.where(
        F2.col("url").startswith("http://planted")).collect()}
    assert len(survivors) == 2
    with_shared = [u for u, t in survivors.items() if shared in t]
    # the shared paragraph survives in exactly ONE planted doc, whole
    assert len(with_shared) == 1
    other = next(t for u, t in survivors.items()
                 if u not in with_shared)
    assert "shared boiler alpha" not in other  # removed whole, not
    assert "shared boiler beta" not in other   # line-by-line

    with _pytest.raises(ValueError, match="line_dedup_unit"):
        run_curation_job(spark, pages, str(tmp_path / "bad"),
                         line_dedup_unit="sentence")
    with _pytest.raises(ValueError, match="incompatible with"):
        run_curation_job(spark, pages, str(tmp_path / "bad2"),
                         line_dedup_unit="paragraph", c4_clean=True)


def test_curate_kitchen_sink_all_stages(spark, tmp_path, capsys):
    """EVERY opt-in curate stage enabled in ONE run: the stages compose
    (column contracts survive each hand-off), the lineage records every
    stage with monotone counts through the filter/dedup tiers, and the
    whole composition is deterministic across re-runs."""
    import numpy as np

    from datacanary_spark.plans import classifier as qc
    from datacanary_spark.plans.curate import run_curation_job

    pages = str(tmp_path / "pages")
    assert main(["gen-pages", "--output", pages, "--docs", "150",
                 "--files", "3"]) == 0
    capsys.readouterr()

    # classifier model trained on a labeled fixture sample
    from datacanary_spark.functions.heuristics import (
        FilterConfig,
        heuristic_hit_exprs,
        stat_cols,
        with_text_stats,
    )
    from datacanary_spark.sources.fixtures import pages_spark_df

    lp = pages_spark_df(spark, 400, seed=7)
    d = with_text_stats(lp, text_col="text")
    hits = heuristic_hit_exprs(FilterConfig(), stat_cols())
    label = F.lit(1)
    for h in hits.values():
        label = F.when(h > 0, 0).otherwise(label)
    clf = qc.train_quality_classifier(
        d.select("url", "text", label.alias("label")), "label")
    model_uri = str(tmp_path / "model.json")
    qc.save_classifier(spark, clf, model_uri)

    # robots table that allows everything (stage exercised, no drops)
    base = run_curation_job(spark, pages, str(tmp_path / "base"))
    corpus = spark.read.parquet(
        os.path.join(str(tmp_path / "base"), "corpus"))
    hosts = corpus.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host")).distinct()
    robots = str(tmp_path / "robots")
    hosts.where(F.col("host").isNotNull()).select(
        "host", F.lit("User-agent: *\nAllow: /").alias("robots_txt")
    ).write.parquet(robots)

    # fuzzy-decontamination benchmark: edited copies of 3 docs
    bench = str(tmp_path / "bench")
    corpus.orderBy("url").limit(3).select(
        F.concat(F.col("text"), F.lit(" edited benchmark reflow"))
        .alias("text")).write.parquet(bench)

    # DSIR target: the en slice of the base corpus
    target = str(tmp_path / "target")
    corpus.where(F.col("lang_pred") == "en").select("text") \
        .write.parquet(target)

    def run(out):
        return run_curation_job(
            spark, pages, out,
            blocklist=["blocked.example"],
            robots_table=robots,
            normalize_unicode="NFC", fix_encoding=True,
            classifier_model=model_uri, classifier_keep_fraction=0.95,
            gopher_repetition=True,
            max_code_line_fraction=0.9,
            min_compression_ratio=0.01,
            badwords=["zzzunusedlexiconword"],
            c4_clean=True, c4_min_line_words=1,
            c4_require_terminal=False,
            near_dup_threshold=0.8,
            span_dedup_k=10,
            # c4_clean strips blank lines, so paragraph-unit dedup is
            # refused with it (validated up front) — line unit here
            line_dedup=True, line_dedup_unit="line",
            host_cap=50,
            decontaminate_path=bench, decontaminate_mode="minhash",
            dsir_target_path=target, dsir_keep_fraction=0.9,
            # fractions/temperature/epoch_weights are mutually
            # exclusive by design — fractions represents the tier here
            fractions={"en": 1.0, "de": 0.8, "fr": 0.8, "es": 0.8,
                       "it": 0.8})

    s1 = run(str(tmp_path / "o1"))
    # every stage leaves its lineage row
    for key in ("docs_in", "after_robots", "normalized_docs", "kept",
                "after_classifier", "after_repetition_filter",
                "after_code_filter", "after_compression_filter",
                "after_badwords", "after_c4_clean", "after_exact_dedup",
                "after_near_dup_clusters", "after_line_dedup",
                "after_span_dedup", "after_host_cap",
                "after_decontamination", "after_dsir", "sampled",
                "final_docs"):
        assert key in s1, key
    # monotone through the doc-dropping tiers (normalized_docs is a
    # changed-count, upsampled_rows can grow — exclude those)
    chain = [s1[k] for k in (
        "kept", "after_classifier", "after_repetition_filter",
        "after_code_filter", "after_compression_filter",
        "after_badwords", "after_c4_clean", "after_exact_dedup",
        "after_near_dup_clusters", "after_line_dedup",
        "after_span_dedup", "after_host_cap", "after_decontamination",
        "after_dsir", "sampled")]
    assert all(a >= b for a, b in zip(chain, chain[1:])), chain
    assert s1["final_docs"] > 0
    # r05 (VERDICT r04 §next.8): the structured per-stage accounting
    # table has one row per enabled counting stage, in execution order,
    # and sums consistently: docs_in chains from the previous docs_out,
    # dropped == docs_in - docs_out, the head consumes docs_in and the
    # tail's docs_out is exactly what landed in the corpus.
    lin = s1["stage_lineage"]
    enabled = ("after_blocklist", "after_robots", "kept",
               "after_classifier", "after_repetition_filter",
               "after_code_filter", "after_compression_filter",
               "after_badwords", "after_c4_clean", "after_exact_dedup",
               "after_near_dup_clusters", "after_line_dedup",
               "after_span_dedup", "after_host_cap",
               "after_decontamination", "after_dsir", "sampled")
    assert tuple(r["stage"] for r in lin) == enabled
    assert lin[0]["docs_in"] == s1["docs_in"]
    assert lin[-1]["docs_out"] == s1["final_docs"]
    for prev_row, row in zip(lin, lin[1:]):
        assert row["docs_in"] == prev_row["docs_out"]
    for row in lin:
        assert row["dropped"] == row["docs_in"] - row["docs_out"]
        assert row["dropped"] >= 0  # no upsample stage in this run
    # the fuzzy decontamination actually bit (3 edited sources planted)
    assert s1["after_decontamination"] <= s1["after_host_cap"] - 3
    # >= 6 stages enabled → the auto policy pins with plan truncation
    assert s1["stage_pin"] == "checkpoint"

    # full-composition determinism: identical corpus bytes on re-run
    s2 = run(str(tmp_path / "o2"))
    assert {k: v for k, v in s1.items() if not k.endswith("_sec")} \
        == {k: v for k, v in s2.items() if not k.endswith("_sec")}
    a = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "o1"), "corpus")).collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(str(tmp_path / "o2"), "corpus")).collect()}
    assert a == b


def test_cli_ann_index_build_and_query(spark, tmp_path, capsys):
    """ann-index / ann-query e2e (r05): trained quantizers persist
    beside the index and the query side reads them back (the
    same-arrays contract survives separate invocations); served rows
    equal the library call with the same trained arrays; the untrained
    path round-trips on seeded quantizers alone."""
    import numpy as np
    from pyspark.sql import functions as F2

    from datacanary_spark.operators import similarity as sim

    src = "/root/testdata/sf0.01/embeddings.parquet"
    qsrc = str(tmp_path / "queries")
    spark.read.parquet(src).where(F2.col("vec_id") < 10).select(
        F2.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)

    # trained build + query
    idx = str(tmp_path / "annidx")
    assert main(["ann-index", "--input", src, "--output", idx,
                 "--dim", "64", "--train"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["trained"] and s["rows"] == 500 and s["cells"] > 4
    assert os.path.exists(os.path.join(idx, "_quantizers.json"))

    out = str(tmp_path / "annout")
    assert main(["ann-query", "--index", idx, "--queries", qsrc,
                 "--output", out, "--dim", "64", "--k", "5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["sidecar_quantizers"] and s["result_rows"] == 50

    saved = json.loads(open(os.path.join(idx, "_quantizers.json")).read())
    assert saved["trained"] is True
    cents = np.asarray(saved["centroids"])
    books = np.asarray(saved["codebooks"])
    e = spark.read.parquet(src)
    q = spark.read.parquet(qsrc)
    expected = sim.ivf_pq_topk(e, q, dim=64, k=5, centroids=cents,
                               codebooks=books).collect()
    got = spark.read.parquet(out).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    # untrained build: the sidecar still persists (seeded arrays) so a
    # query with DIFFERENT n-* flags cannot silently mismatch the index
    idx2 = str(tmp_path / "annidx2")
    out2 = str(tmp_path / "annout2")
    assert main(["ann-index", "--input", src, "--output", idx2,
                 "--dim", "64"]) == 0
    capsys.readouterr()
    sc2 = json.loads(open(os.path.join(idx2, "_quantizers.json")).read())
    assert sc2["trained"] is False
    assert main(["ann-query", "--index", idx2, "--queries", qsrc,
                 "--output", out2, "--dim", "64", "--k", "5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["sidecar_quantizers"]
    expected2 = sim.ivf_pq_topk(e, q, dim=64, k=5).collect()
    got2 = spark.read.parquet(out2).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, expected2))

    # a corrupt sidecar is a HARD error, never a silent seeded fallback
    import pytest

    with open(os.path.join(idx2, "_quantizers.json"), "w") as fh:
        fh.write("{truncated")
    with pytest.raises(SystemExit, match="unreadable/corrupt"):
        main(["ann-query", "--index", idx2, "--queries", qsrc,
              "--output", str(tmp_path / "annout3"), "--dim", "64"])


def test_cli_ann_residual_round_trip(spark, tmp_path, capsys):
    """--residual e2e (r05): the flag is recorded in the quantizer
    sidecar at build time and ann-query applies it automatically (the
    on-disk codes were produced under it — a query-side flag could
    silently mismatch); CLI results equal the library call with the
    saved arrays in residual mode."""
    import numpy as np
    from pyspark.sql import functions as F2

    from datacanary_spark.operators import similarity as sim

    src = "/root/testdata/sf0.01/embeddings.parquet"
    qsrc = str(tmp_path / "rq")
    spark.read.parquet(src).where(F2.col("vec_id") < 8).select(
        F2.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    idx = str(tmp_path / "res_annidx")
    assert main(["ann-index", "--input", src, "--output", idx,
                 "--dim", "64", "--train", "--residual"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["residual"] and s["trained"]
    saved = json.loads(open(os.path.join(idx, "_quantizers.json")).read())
    assert saved["residual"] is True

    out = str(tmp_path / "res_annout")
    assert main(["ann-query", "--index", idx, "--queries", qsrc,
                 "--output", out, "--dim", "64", "--k", "5"]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["residual"] and s["sidecar_quantizers"]

    cents = np.asarray(saved["centroids"])
    books = np.asarray(saved["codebooks"])
    e = spark.read.parquet(src)
    q = spark.read.parquet(qsrc)
    expected = sim.ivf_pq_topk(e, q, dim=64, k=5, centroids=cents,
                               codebooks=books, residual=True).collect()
    got = spark.read.parquet(out).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
