"""CLI smoke test: the spark-submit batch entry end-to-end in-process."""

from __future__ import annotations

import json


def test_cli_runs_and_resumes(spark, tmp_path, capsys):
    from data_quality_check_spark import cli

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rows = [("c1", i, "user", f"turn {i} with plain ordinary words", None,
             None) for i in range(30)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(3).write.parquet(src))

    # build_session getOrCreate() reuses the test session — fine for smoke
    rc = cli.main(["--input", src, "--output", out, "--no-models",
                   "--files-per-chunk", "2"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["output_turns"] == 30
    assert rep["chunks_run"] == 2

    rc = cli.main(["--input", src, "--output", out, "--no-models"])
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["chunks_run"] == 0
    assert rep2["chunks_skipped"] == 3
    assert rep2["output_turns"] == 30


def test_cli_curate_mode(spark, tmp_path, capsys):
    """curate mode: documents parquet in → curated parquet out, with
    quality filter + span dedup + domain caps + shard packing wired
    through the public curation API."""
    import json

    from pyspark.sql import functions as F

    from data_quality_check_spark import cli

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    docs.withColumn(
        "url", F.concat(F.lit("https://h"), F.col("doc_id") % 3,
                        F.lit(".com/p"))).write.parquet(src)
    out = str(tmp_path / "curated")
    rc = cli.main(["--mode", "curate", "--input", src, "--output", out,
                   "--domain-cap", "50", "--blocklist", "h0.com",
                   "--budget", "4096"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["kept_docs"] > 0
    cur = spark.read.parquet(out)
    assert {"doc_id", "shard_id", "n_tokens", "host"} <= set(cur.columns)
    hosts = {r["host"] for r in cur.select("host").distinct().collect()}
    assert "h0.com" not in hosts
    caps = cur.groupBy("host").count().collect()
    assert all(r["count"] <= 50 for r in caps)


def test_curate_quality_model_stage(spark, bc_models):
    """curate_corpus's learned-quality stage flag: junk docs are dropped
    at the classifier threshold, natural docs survive, and the stage
    composes with the rest of the chain."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.plans import curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    junk = ("$$$ click here buy now !!! free offer ### subscribe to win "
            "@@@ prize promo code save big deal")
    fx = docs.withColumn(
        "text", F.when(F.col("doc_id") % 19 == 0, F.lit(junk))
        .otherwise(F.col("text")))
    base = curation.curate_corpus(fx, span_dedup=False)
    gated = curation.curate_corpus(fx, span_dedup=False,
                                   quality_model_bc=bc_models)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    kept = {r["doc_id"] for r in gated.select("doc_id").collect()}
    dropped = base_ids - kept
    assert dropped, "quality stage dropped nothing"
    # exactly the injected junk docs (that survived the heuristics) go
    assert all(d % 19 == 0 for d in dropped)
    assert all(d % 19 != 0 for d in kept)


def test_curate_scores_each_survivor_once(spark, bc_models):
    """One curate job runs its quality → model → domains chain once: span
    dedup's reads of the filtered docs and shard packing share one
    materialization, so each heuristic survivor crosses the quality
    model's Python boundary once and the input is scanned once."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators import textstats
    from data_quality_check_spark.plans import curation
    from conftest import SF_TINY
    from sql_metrics import output_rows

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://h"), F.col("doc_id") % 3,
                        F.lit(".com/p")))
    n_docs = docs.count()
    survivors = textstats.quality_pass_ids(docs).count()
    # the domain cap's shuffle makes AQE run the chain inside the lazy
    # checkpoint's own execution; without a shuffle there, the status
    # store credits the chain's operators to no execution and reads 0
    rows = output_rows(spark, lambda: curation.curate_corpus(
        docs, domain_cap=100, span_dedup=True, budget=4096,
        quality_model_bc=bc_models).collect())
    scanned = sum(n for node, n in rows.items()
                  if node.startswith("Scan parquet"))
    assert 0 < survivors < n_docs
    assert rows["ArrowEvalPython"] == survivors
    assert scanned == n_docs
