"""One launch: a fresh JVM, the session and the models broadcast
(`setup_s`, what every `spark-submit` of the CLI pays), then jobs through
the entry point users run, each into `<output>/job<k>`:

* job 0, the warm-up, loads classes, starts the Python workers and gives
  the JIT compiler the hot code; its output is checked, its time is not
  measured;
* jobs 1.. are measured (`job_s`, and `job_cpu_s`: CPU seconds of the
  process tree without the JIT compiler threads) until `--seconds` have
  passed or the next would likely end after `--deadline`; at least one.

    python3 perfbench/launch.py --workload label --input DIR --output DIR \
        --cpus 4 --mem-mb 2048 --work DIR --seconds 20 [--deadline T] \
        [--setup-only | --trace-out FILE]

Talks to perfbench/run.py over stdout/stdin, one JSON line per event:
`{"event": "setup"}` once set up; `{"event": "warm"}` after the warm-up,
then it waits for one stdin line before it goes on, so run.py can do its
own work while nothing is measured; `{"event": "done", ...}` last, after
which run.py kills the launch and its JVM rather than wait for an orderly
stop.
With `--setup-only` it stops after set-up. With `--trace-out`, the same
JVM runs the traced legs (perfbench/layers.py) instead of the measured
jobs and writes the per-layer record to that file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

# curate: every stage of plans.curation.curate_corpus binds on the inputs
DOMAIN_CAP = 200
BUDGET = 50_000
MIN_QUALITY = 0.5


def build_session(cpus: int, mem_mb: int, work: str,
                  eventlog_dir: str | None = None):
    """local[cpus] session whose scratch all stays under `work`."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("dqcs-perfbench")
         .config("spark.driver.memory", f"{mem_mb}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{mem_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 # a fixed set of JIT threads, so jit_cpu_s can read them
                 "-XX:-UseDynamicNumberOfCompilerThreads")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.eventLog.enabled", str(eventlog_dir is not None)))
    if eventlog_dir is not None:
        b = (b.config("spark.eventLog.dir", eventlog_dir)
             .config("spark.eventLog.rolling.enabled", "true")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_job(spark, workload: str, inp: str, out: str, cpus: int) -> None:
    """The workload's entry point, exactly as a user calls it."""
    if workload == "label":
        from data_quality_check_spark import cli

        cli.main(["--mode", "label", "--no-resume", "--local", str(cpus),
                  "--input", inp, "--output", out])
    elif workload == "curate":
        from data_quality_check_spark import cli

        cli.main(["--mode", "curate", "--local", str(cpus),
                  "--input", inp, "--output", out,
                  "--blocklist", ",".join(gen.BLOCKED_HOSTS),
                  "--domain-cap", str(DOMAIN_CAP), "--budget", str(BUDGET),
                  "--min-quality", str(MIN_QUALITY)])
    else:
        from data_quality_check_spark.sources import jsonl

        jsonl.to_transcript(jsonl.read_jsonl(
            spark, inp, required_field="role")
        ).write.mode("overwrite").parquet(out)


def ingest_reason_counts(spark, inp: str) -> dict:
    """Per-reason violation counts of the validation the ingest job ran
    (an extra, untimed action)."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.sources import jsonl

    v = jsonl.read_jsonl(spark, inp, required_field="role")
    rows = (v.select(F.explode("violations").alias("r"))
            .groupBy("r").count().collect())
    valid = v.filter("valid").count()
    return {"valid": valid, "reasons": {r["r"]: r["count"] for r in rows}}


def proc_tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields, from field 3 (state) on, of `root`
    and all its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        f = stat[stat.rindex(")") + 2:].split()
        stats[int(name)] = f
        children.setdefault(int(f[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a process tree, reaped children
    included (stat fields 14-17)."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15])
               for f in proc_tree(root).values()) / tick


def jit_cpu_s(root: int) -> float:
    """User + system CPU seconds of the JIT compiler threads of the JVMs in
    a process tree (thread names `C1 CompilerThre`, `C2 CompilerThre`)."""
    tick, total = os.sysconf("SC_CLK_TCK"), 0
    for pid in proc_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except (FileNotFoundError, ProcessLookupError):
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if "CompilerThre" in name:
                g = stat[stat.rindex(")") + 2:].split()
                total += int(g[11]) + int(g[12])
    return total / tick


def emit(event: str, **rec) -> None:
    print(json.dumps({"event": event, **rec}), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.GENERATORS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--mem-mb", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=0.0,
                    help="measure jobs until this many seconds have passed")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--trace-out", default=None)
    ap.add_argument("--deadline", type=float, default=float("inf"),
                    help="epoch seconds: no measured job (traced run: "
                         "no local[1] leg) starts that would likely end "
                         "later")
    a = ap.parse_args()

    from data_quality_check_spark.functions.udfs import broadcast_models

    me = os.getpid()
    t0 = time.perf_counter()
    spark = build_session(a.cpus, a.mem_mb, a.work)
    broadcast_models(spark)
    setup_s = time.perf_counter() - t0
    emit("setup", setup_s=setup_s)
    if a.setup_only:
        emit("done", setup_s=setup_s)
        return 0

    t1 = time.perf_counter()
    run_job(spark, a.workload, a.input, os.path.join(a.output, "job0"),
            a.cpus)
    warmup_s = time.perf_counter() - t1
    emit("warm", warmup_s=warmup_s)
    sys.stdin.readline()

    rec = {"setup_s": setup_s, "warmup_s": warmup_s, "jobs": []}
    if a.workload == "ingest":
        rec["spark_validation"] = ingest_reason_counts(spark, a.input)
    if a.trace_out:
        import layers

        record = layers.run_traced(spark, a, build_session, run_job)
        with open(a.trace_out, "w") as fh:
            json.dump(record, fh)
        emit("done", **rec)
        return 0
    start = time.perf_counter()
    while True:
        k = len(rec["jobs"]) + 1
        cpu0, jit0 = tree_cpu_s(me), jit_cpu_s(me)
        t = time.perf_counter()
        run_job(spark, a.workload, a.input,
                os.path.join(a.output, f"job{k}"), a.cpus)
        job_s = time.perf_counter() - t
        jit = jit_cpu_s(me) - jit0
        rec["jobs"].append({"job_s": job_s, "jit_cpu_s": jit,
                            "job_cpu_s": tree_cpu_s(me) - cpu0 - jit})
        done = time.perf_counter() - start
        if done >= a.seconds or time.time() + done / k > a.deadline:
            break
    emit("done", **rec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
