"""Checkpoint/resume: the Iceberg-snapshot analog (SURVEY §2.3 C5 mapping).

Kill the job after k chunk commits, restart, and require exactly-once
output: no duplicate and no missing (conv_id, turn_idx, text) rows, and
lineage covering every input file exactly once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark import io as dq_io
from data_quality_check_spark.plans import pipeline
from sql_metrics import scored_rows


@pytest.fixture()
def src(spark, tmp_path):
    p = str(tmp_path / "src")
    rows = [(f"c{i % 7}", i // 7, ["user", "assistant"][i % 2],
             f"turn number {i} with some ordinary words here", None, None)
            for i in range(200)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(8).write.parquet(p))
    return p


def _keys(spark, out_dir):
    return (dq_io.read_output(spark, out_dir)
            .select("conv_id", "turn_idx", "text").collect())


def test_resume_after_injected_failure(spark, tmp_path, src):
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        dq_io.run_job(spark, src, out, with_models=False,
                      files_per_chunk=2, fail_after_chunks=2)
    partial = _keys(spark, out)
    assert 0 < len(partial) < 200

    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=2)
    assert report.chunks_skipped == 4  # 2 chunks × 2 files already committed
    rows = _keys(spark, out)
    keys = [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows]
    assert len(keys) == 200
    assert len(set(keys)) == 200  # no duplicates, no missing

    # lineage: every input file appears in metrics exactly once per chunk
    files_in = set(dq_io.list_input_files(spark, src))
    manifest_files = [f for e in dq_io.read_manifest(out)
                      for f in e["input_files"]]
    assert sorted(manifest_files) == sorted(files_in)
    metric_files = {
        dq_io.normalize_file_uri(r[0])
        for r in dq_io.read_metrics(spark, out)
        .select("input_file").distinct().collect()
    }
    assert metric_files == files_in


def test_rerun_is_noop(spark, tmp_path, src):
    out = str(tmp_path / "out")
    r1 = dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4)
    assert r1.chunks_run == 2
    r2 = dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4)
    assert r2.chunks_run == 0
    assert r2.chunks_skipped == 8
    assert dq_io.read_output(spark, out).count() == 200


def test_metrics_match_output(spark, tmp_path, src):
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=100)
    m = dq_io.read_metrics(spark, out)
    assert m.agg(F.sum("n_turns")).first()[0] == 200
    n_kept = m.agg(F.sum("n_kept")).first()[0]
    assert n_kept == (dq_io.read_output(spark, out)
                      .filter("keep").count())


def test_resume_after_crash_before_manifest_commit(spark, tmp_path, src):
    """The hard crash window: data parquet written, manifest NOT committed.
    The orphan chunk dir must be invisible to readers and must be
    overwritten (not duplicated) by the re-run."""
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="before manifest commit"):
        dq_io.run_job(spark, src, out, with_models=False,
                      files_per_chunk=2, fail_before_commit=2)
    # one chunk committed, one orphaned on disk
    assert len(dq_io.read_manifest(out)) == 1
    import os
    assert len(os.listdir(os.path.join(out, "turns"))) == 2
    # readers see only the committed chunk
    assert len(_keys(spark, out)) == 50  # 1 chunk × 2 files × 25 rows

    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=2)
    assert report.chunks_skipped == 2  # only the COMMITTED chunk's files
    keys = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in _keys(spark, out)]
    assert len(keys) == 200
    assert len(set(keys)) == 200  # orphan overwritten, not double-counted
    # metrics lineage also exactly-once
    files_in = set(dq_io.list_input_files(spark, src))
    metric_files = {
        dq_io.normalize_file_uri(r[0])
        for r in dq_io.read_metrics(spark, out)
        .select("input_file").distinct().collect()
    }
    assert metric_files == files_in


def test_max_records_per_file_bounds_output_files(spark, tmp_path, src):
    import glob
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=100,
                  output_partitions=1, max_records_per_file=50)
    files = glob.glob(f"{out}/turns/chunk=*/part-*.parquet")
    # 200 rows / <=50 per file -> at least 4 files even at 1 partition
    assert len(files) >= 4
    assert dq_io.read_output(spark, out).count() == 200


@pytest.mark.parametrize("measure_latency", [False, True])
def test_one_scoring_pass_per_turn(spark, tmp_path, src, bc_models,
                                   measure_latency):
    """Every sink of a chunk (turns, metrics, latency) reads ONE labeling
    execution: each input turn crosses the scoring boundary exactly once."""
    out = str(tmp_path / "out")
    scored = scored_rows(spark, lambda: dq_io.run_job(
        spark, src, out, bc_models=bc_models, files_per_chunk=4,
        measure_latency=measure_latency))
    assert scored == 200
    assert dq_io.read_output(spark, out).count() == 200


def test_metrics_rows_match_rescan_lineage(spark, tmp_path, src, bc_models):
    """The lineage columns projected before the persist give the same
    per-(partition, file) rows as spark_partition_id() and
    _metadata.file_path derived over a fresh scan of the chunk."""
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, bc_models=bc_models, files_per_chunk=100)
    chunk = dq_io.read_manifest(out)[0]["input_files"]
    lab = pipeline.label_turns(spark.read.parquet(*chunk),
                               bc_models=bc_models)
    want = pipeline.metrics_table(lab.select(
        F.spark_partition_id().alias("partition_id"),
        F.col("_metadata.file_path").alias("input_file"),
        "keep", "drop_reasons"))

    def rows(df):
        return sorted((r.asDict(recursive=True) for r in df.collect()),
                      key=lambda d: (d["partition_id"], d["input_file"]))

    got = rows(dq_io.read_metrics(spark, out).drop("chunk"))
    assert len(got) > 1
    assert got == rows(want)
