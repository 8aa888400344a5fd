"""Traced legs of one launch: per-layer metrics from outside the program.

Runs in the launch's JVM after its warm-up job, so every leg here is
warm. Three sources, all bench-side:

1. spans around the benchmark's own calls into each layer's public
   functions; each span sets the Spark job group `<run id>:<span>`, so the
   event log ties every Spark job to the span that caused it;
2. Spark's event log (v2 rolling directory, perfbench/eventlog.py): task
   metrics and SQL-operator metrics of the traced production job;
3. isolated single-layer plans over the same input into the noop sink;
   "isolated" times subtract `sources.scan_s`, the same scan into noop.

Legs, in order, each in a fresh SparkContext of the same JVM: a warm
untraced job, a warm traced job with the event log on followed by the
isolated plans, and a `local[1]` job for `spark.parallel_eff`. Metrics of
a layer the workload does not run are reported as 0 with
`"exercised": false`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid

import numpy as np
import pyarrow.parquet as pq

import checks
import eventlog
import gen

MB = 2 ** 20
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
BATCH_REPS = 3  # timed scoring passes pooled for the batch percentiles
LOCAL1_COST = 3.0  # expected local[1] job time as a multiple of local[N]

# name -> (unit, workloads that exercise it); the order is the report order
METRICS = {
    "sources.scan_s": ("s", "label curate ingest"),
    "sources.rows_read_per_input_row": ("ratio", "label curate ingest"),
    "sources.jsonl.validate_s": ("s", "ingest"),
    "sources.jsonl.records_per_s": ("records/s", "ingest"),
    "functions.rules.s": ("s", "label curate"),
    "functions.scrub.s": ("s", "label"),
    "functions.udfs.score_s": ("s", "label curate"),
    "models.scoring.rows_per_s_1core": ("rows/s", "label curate"),
    "functions.udfs.boundary_share": ("share", "label curate"),
    "functions.udfs.rows_scored_per_input_row": ("ratio",
                                                 "label curate ingest"),
    "functions.udfs.python_run_s": ("s", "label curate"),
    "functions.udfs.python_init_s": ("s", "label curate"),
    "functions.udfs.bytes_sent_mb": ("MB", "label curate"),
    "functions.udfs.bytes_returned_mb": ("MB", "label curate"),
    "functions.udfs.batch_ms.p50": ("ms", "label"),
    "functions.udfs.batch_ms.p90": ("ms", "label"),
    "functions.udfs.batch_ms.samples": ("count", "label"),
    "plans.pipeline.build_s": ("s", "label"),
    "plans.pipeline.dup_s": ("s", "label"),
    "plans.pipeline.stable_order.s": ("s", "label"),
    "plans.pipeline.stable_order.shuffle_mb": ("MB", "label"),
    "plans.pipeline.metrics_table.s": ("s", "label"),
    "io.list_input_files_s": ("s", "label"),
    "io.commit_s": ("s", "label"),
    "io.spark_jobs_per_chunk": ("count", "label curate ingest"),
    "io.output_mb": ("MB", "label curate ingest"),
    "io.write_s": ("s", "label curate ingest"),
    "operators.textstats.quality_pass_s": ("s", "curate"),
    "operators.textstats.quality_model_s": ("s", "curate"),
    "operators.domains.caps_s": ("s", "curate"),
    "operators.dedup.spans_s": ("s", "curate"),
    "operators.dedup.spans_shuffle_mb": ("MB", "curate"),
    "operators.sampling.pack_shards_s": ("s", "curate"),
    "spark.task_cpu_s": ("s", "label curate ingest"),
    "spark.gc_s": ("s", "label curate ingest"),
    "spark.shuffle_write_mb": ("MB", "label curate ingest"),
    "spark.spill_mb": ("MB", "label curate ingest"),
    "spark.jobs": ("count", "label curate ingest"),
    "spark.cpu_util": ("share", "label curate ingest"),
    "spark.task_skew": ("ratio", "label curate ingest"),
    "spark.parallel_eff": ("share", "label curate ingest"),
    "trace.overhead_s": ("s", "label curate ingest"),
    "trace.driver_gap_s": ("s", "label curate ingest"),
    "trace.attributed_share": ("share", "label curate ingest"),
}


class Spans:
    """Bench-side spans kept in memory; each sets the Spark job group."""

    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = spark
        self.records: list[dict] = []
        self.reps: dict[str, int] = {}

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def timed(self, name: str, fn, reps: int = 1) -> float:
        """Median wall seconds of `reps` calls of fn under span `name`."""
        ts = []
        self.reps[name] = self.reps.get(name, 0) + reps
        for _ in range(reps):
            self.spark.sparkContext.setJobGroup(self.group(name), name)
            t0 = time.perf_counter()
            fn()
            t1 = time.perf_counter()
            self.records.append({"span": name, "group": self.group(name),
                                 "wall_end": time.time(), "s": t1 - t0})
            ts.append(t1 - t0)
        return statistics.median(ts)

    def noop(self, name: str, make_df, reps: int = 1) -> float:
        return self.timed(name, lambda: make_df().write.format("noop")
                          .mode("overwrite").save(), reps)


def run_traced(spark, a, build_session, run_job) -> dict:
    """All traced legs after the launch's warm-up job, stopping `spark`
    and every session after it; returns {metric: {value, unit, exercised}}.
    The `local[1]` leg runs only if it is likely to end before
    `a.deadline` (epoch seconds); if skipped, `spark.parallel_eff` reads 0
    with `"skipped": true`."""
    w, cpus = a.workload, a.cpus
    rows = _input_rows(w, a.input)
    traced_out = a.output + "-traced"

    def plain_job(n_cores: int, out: str) -> float:
        """Wall time of one untraced job on local[n_cores]."""
        s = build_session(n_cores, a.mem_mb, a.work)
        t0 = time.perf_counter()
        run_job(s, w, a.input, out, cpus)
        t = time.perf_counter() - t0
        s.stop()
        return t

    spark.stop()
    # before the traced leg: the JVM only warms further, so a later traced
    # job can only make the overhead read smaller than it is, never hide
    # work in the untraced reference
    untraced_s = plain_job(cpus, a.output + "-warm")
    log_root = os.path.join(a.work, "eventlog", uuid.uuid4().hex[:12])
    os.makedirs(log_root)
    spark = build_session(cpus, a.mem_mb, a.work, eventlog_dir=log_root)
    sp = Spans(spark)
    traced_s = sp.timed("job", lambda: run_job(spark, w, a.input, traced_out,
                                              cpus))
    m = _isolated(spark, sp, w, a.input, traced_out, rows)
    spark.stop()
    one_core_s = (plain_job(1, a.output + "-1core")
                  if time.time() + LOCAL1_COST * traced_s < a.deadline
                  else None)

    ev = eventlog.EventLog(eventlog.app_dirs(log_root)[-1])
    job = sp.group("job")
    chunks = (len(glob.glob(os.path.join(a.input, "part-*")))
              // gen.FILES_PER_CHUNK if w == "label" else 1)
    tasks = ev.tasks_in(job)
    m["sources.rows_read_per_input_row"] = ev.sql_metric(
        job, "Scan", "number of output rows", a.input) / rows
    py = "ArrowEvalPython"
    m["functions.udfs.rows_scored_per_input_row"] = ev.sql_metric(
        job, py, "number of output rows") / rows
    m["functions.udfs.python_run_s"] = ev.sql_metric(
        job, py, "time to run Python workers")
    m["functions.udfs.python_init_s"] = ev.sql_metric(
        job, py, "time to start Python workers")
    m["functions.udfs.bytes_sent_mb"] = ev.sql_metric(
        job, py, "data sent to Python workers") / MB
    m["functions.udfs.bytes_returned_mb"] = ev.sql_metric(
        job, py, "data returned from Python workers") / MB
    if w == "label":
        m["plans.pipeline.metrics_table.s"] = ev.execution_ms(
            job, r"/metrics/chunk=") / 1e3
        m["plans.pipeline.stable_order.shuffle_mb"] = _shuffle_mb(
            ev, sp, "plans.pipeline.stable_order")
    if w == "curate":
        m["operators.dedup.spans_shuffle_mb"] = _shuffle_mb(
            ev, sp, "operators.dedup.spans")
    m["io.spark_jobs_per_chunk"] = len(ev.jobs_in(job)) / chunks
    m["io.output_mb"] = checks.output_bytes(traced_out) / MB
    m["spark.task_cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9
    m["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1e3
    m["spark.shuffle_write_mb"] = sum(t.shuffle_write for t in tasks) / MB
    m["spark.spill_mb"] = sum(t.spilled for t in tasks) / MB
    m["spark.jobs"] = len(ev.jobs_in(job))
    m["spark.cpu_util"] = (sum(t.run_ms for t in tasks) / 1e3
                           / (traced_s * cpus))
    m["spark.task_skew"] = _task_skew(ev, job)
    skipped = set()
    if one_core_s is None:
        skipped.add("spark.parallel_eff")
    else:
        m["spark.parallel_eff"] = one_core_s / (cpus * traced_s)
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.driver_gap_s"] = traced_s - sum(
        x.end - x.start for x in ev.executions_in(job)) / 1e3
    m["trace.attributed_share"] = _attributed(w, m, chunks) / traced_s

    with open(os.path.join(log_root, "spans.json"), "w") as fh:
        json.dump(sp.records, fh)
    result = {}
    for name, (unit, loads) in METRICS.items():
        ran = w in loads.split()
        result[name] = {"value": float(m.get(name, 0.0)) if ran else 0.0,
                        "unit": unit, "exercised": ran}
        if name in skipped:
            result[name]["skipped"] = True
    return result


def _input_rows(w: str, inp: str) -> int:
    if w == "ingest":
        return sum(sum(1 for _ in open(f, encoding="utf-8"))
                   for f in glob.glob(os.path.join(inp, "part-*.jsonl")))
    return pq.ParquetDataset(inp).read(columns=[]).num_rows


def _isolated(spark, sp: Spans, w: str, inp: str, out: str,
              rows: int) -> dict:
    """Isolated single-layer plans and bench-side spans."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.functions.udfs import broadcast_models

    bc = broadcast_models(spark)
    src = (lambda: spark.read.text(inp)) if w == "ingest" else (
        lambda: spark.read.parquet(inp))
    m = {"sources.scan_s": sp.noop("sources.scan", src, reps=2)}
    scan = m["sources.scan_s"]

    def iso(name, make_df, reps=1):
        return sp.noop(name, make_df, reps) - scan

    if w == "label":
        from data_quality_check_spark import io as dq_io
        from data_quality_check_spark.functions.scrub import scrub_column
        from data_quality_check_spark.functions.udfs import make_scores_udf
        from data_quality_check_spark.operators import latency
        from data_quality_check_spark.plans import pipeline

        m["functions.rules.s"] = iso(
            "functions.rules", lambda: _rules_plan(src(), True))
        m["functions.scrub.s"] = iso("functions.scrub", lambda: src().select(
            scrub_column(F.col("text")).alias("s")))
        m["functions.udfs.score_s"] = iso(
            "functions.udfs.score", lambda: src().select(
                make_scores_udf(bc)(F.col("text")).alias("s")))
        m["plans.pipeline.dup_s"] = iso(
            "plans.pipeline.dup", lambda: _dup_plan(src()))
        m["plans.pipeline.build_s"] = sp.timed(
            "plans.pipeline.build", lambda: pipeline.label_turns(
                src(), with_models=True, bc_models=bc), reps=2)
        ms = []
        for _ in range(BATCH_REPS):
            ms += [r["batch_us"] / 1e3 for r in latency.timed_scores(
                src().select("text"), "text", bc)
                .groupBy(F.spark_partition_id(), "batch_us").count()
                .collect()]
        m["functions.udfs.batch_ms.p50"] = float(np.percentile(ms, 50))
        m["functions.udfs.batch_ms.p90"] = float(np.percentile(ms, 90))
        m["functions.udfs.batch_ms.samples"] = len(ms)
        def turns():
            return spark.read.parquet(
                *glob.glob(os.path.join(out, "turns", "chunk=*")))

        base = sp.noop("plans.pipeline.stable_order.base", turns)
        m["plans.pipeline.stable_order.s"] = sp.noop(
            "plans.pipeline.stable_order",
            lambda: pipeline.stable_order(turns())) - base
        m["io.list_input_files_s"] = sp.timed(
            "io.list_input_files",
            lambda: dq_io.list_input_files(spark, inp), reps=2)
        m["io.commit_s"] = sp.timed(
            "io.commit", lambda: dq_io._commit_manifest(
                out + "-commit", {"chunk_id": uuid.uuid4().hex[:16],
                                  "input_files": [], "ruleset_version": "v1",
                                  "has_latency": False}), reps=5)
        written = os.path.join(out, "turns", "chunk=*")
    elif w == "curate":
        from data_quality_check_spark.functions.udfs import make_quality_udf
        from data_quality_check_spark.operators import (dedup, domains,
                                                        sampling, textstats)
        from launch import BUDGET, DOMAIN_CAP, MIN_QUALITY

        m["functions.rules.s"] = iso(
            "functions.rules", lambda: _rules_plan(src(), False))
        m["functions.udfs.score_s"] = iso(
            "functions.udfs.score", lambda: src().select(
                make_quality_udf(bc)(F.col("text")).alias("q")))
        m["operators.textstats.quality_pass_s"] = iso(
            "operators.textstats.quality_pass",
            lambda: textstats.quality_pass_ids(src()))
        m["operators.textstats.quality_model_s"] = iso(
            "operators.textstats.quality_model",
            lambda: textstats.quality_model_table(src(), bc,
                                                  threshold=MIN_QUALITY))
        m["operators.domains.caps_s"] = iso(
            "operators.domains.caps", lambda: domains.domain_caps(
                domains.blocklist_filter(domains.with_host(src()),
                                         list(gen.BLOCKED_HOSTS)),
                DOMAIN_CAP))
        m["operators.dedup.spans_s"] = iso(
            "operators.dedup.spans",
            lambda: dedup.dedup_spans(src().select("doc_id", "text")))
        m["operators.sampling.pack_shards_s"] = iso(
            "operators.sampling.pack_shards", lambda: sampling.pack_shards(
                src().select("doc_id", textstats.bpe_token_estimate(
                    F.col("text")).alias("n_tokens")), BUDGET))
        written = out
    else:
        from data_quality_check_spark.sources import jsonl

        m["sources.jsonl.validate_s"] = iso(
            "sources.jsonl.validate", lambda: jsonl.read_jsonl(
                spark, inp, required_field="role"))
        m["sources.jsonl.records_per_s"] = rows / m["sources.jsonl.validate_s"]
        written = out

    if w in ("label", "curate"):
        m["models.scoring.rows_per_s_1core"] = _model_rows_per_s(w, inp, bc)
        n_cores = spark.sparkContext.defaultParallelism
        math_s = rows / (m["models.scoring.rows_per_s_1core"] * n_cores)
        m["functions.udfs.boundary_share"] = (
            1 - math_s / m["functions.udfs.score_s"])
    m["io.write_s"] = _write_s(spark, sp, glob.glob(written), out)
    return m


def _dup_plan(df):
    """The duplicate-key layer alone: keys and their duplicate count."""
    from data_quality_check_spark.plans import pipeline

    joined, dup_count = pipeline.dup_flag_column(df)
    return joined.select("conv_id", "turn_idx", dup_count.alias("_dup"))


def _rules_plan(df, transcript: bool):
    """The rules layer alone: shared arrays, features, flags, reasons."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.config import DEFAULT_RULESET as cfg
    from data_quality_check_spark.functions import rules

    text = F.col("text")
    out = df.withColumns(rules.split_columns(text))
    feats = rules.feature_columns_from(text, F.col("_words"),
                                       F.col("_lines"))
    out = out.withColumns({f"_f_{k}": v for k, v in feats.items()})
    feats = {k: F.col(f"_f_{k}") for k in feats}
    flags = rules.heuristic_flags(feats, text, cfg)
    if transcript:
        cols = {c: F.col(c) for c in ("conv_id", "turn_idx", "role", "text",
                                      "tool", "ts")}
        flags = rules.validation_flags(cols, cfg, F.lit(1)) + flags
    return out.select(rules.reasons_array(flags).alias("r"))


def _model_rows_per_s(w: str, inp: str, bc) -> float:
    """Model math alone in this process, at the job's Arrow batch size."""
    from data_quality_check_spark.models import quality
    from data_quality_check_spark.models.scoring import score_batch

    texts = pq.ParquetDataset(inp).read(columns=["text"]).column(
        "text").to_pylist()
    models = bc.value
    t0 = time.perf_counter()
    for i in range(0, len(texts), ARROW_BATCH):
        batch = texts[i:i + ARROW_BATCH]
        if w == "label":
            score_batch(batch, models["langid"], models["lm"])
        else:
            quality.score(batch, models["quality"])
    return len(texts) / (time.perf_counter() - t0)


def _write_s(spark, sp: Spans, paths: list[str], out: str) -> float:
    """Parquet write of the job's already-materialized output minus the
    same write into noop."""
    df = spark.read.parquet(*paths).cache()
    df.count()
    target = out + "-rewrite"
    noop = sp.noop("io.write.noop", lambda: df)
    pq_s = sp.timed("io.write", lambda: df.write.mode("overwrite").parquet(
        target))
    df.unpersist()
    return pq_s - noop


def _shuffle_mb(ev: eventlog.EventLog, sp: Spans, name: str) -> float:
    """Shuffle bytes one call of span `name` wrote, in MB."""
    return (sum(t.shuffle_write for t in ev.tasks_in(sp.group(name)))
            / sp.reps[name] / MB)


def _task_skew(ev: eventlog.EventLog, group: str) -> float:
    """max ÷ median task time in the group's longest stage."""
    stages = ev.stages_in(group)
    if not stages:
        return 0.0
    def duration(stage: int) -> int:
        start, end = ev.stage_span.get(stage, (0, 0))
        return end - start

    longest = max(stages, key=duration)
    times = [max(t.run_ms, 1) for t in ev.tasks[longest]]
    return max(times) / statistics.median(times)


def _attributed(w: str, m: dict, chunks: int) -> float:
    """Sum of the layers' self-times along the job's blocking steps, plus
    the driver time outside any Spark SQL execution. For label the turns
    pass is the isolated layers and the second pass is the measured wall
    of the metrics-table writes."""
    own = m["sources.scan_s"] + m["io.write_s"] + m["trace.driver_gap_s"]
    if w == "label":
        return own + (m["io.list_input_files_s"] + m["plans.pipeline.dup_s"]
                      + m["functions.rules.s"] + m["functions.udfs.score_s"]
                      + m["functions.scrub.s"]
                      + m["plans.pipeline.stable_order.s"]
                      + m["plans.pipeline.metrics_table.s"]
                      + chunks * m["io.commit_s"])
    if w == "curate":
        return own + (m["operators.textstats.quality_pass_s"]
                      + m["operators.textstats.quality_model_s"]
                      + m["operators.domains.caps_s"]
                      + m["operators.dedup.spans_s"]
                      + m["operators.sampling.pack_shards_s"])
    return own + m["sources.jsonl.validate_s"]
