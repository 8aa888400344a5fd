"""Production-path benchmark for data_quality_check_spark.

    python3 perfbench/run.py --workload {label,curate,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The benchmark generates the workload's input
from the seed (perfbench/gen.py, cached under .bench_build/perfbench). It
sets up fresh JVMs SETUP_SAMPLES times (`setup_s` is their median); the
last of them (perfbench/launch.py) runs one unmeasured warm-up job, then
measured jobs back to back until `--seconds` have passed (at least one,
none past RUN_BUDGET_S), one in flight at a time; the job metrics are
medians over the measured jobs. Every job's output is checked
(perfbench/checks.py). The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
one launch runs the warm-up job, then the traced legs, and the metrics
are the per-layer ones (perfbench/layers.py), each also printed as its
own JSON line.
perfbench/README.md maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# input rows per workload: every curate stage binds and label spans two
# chunks; the job time is mostly per-chunk and per-stage overhead, so the
# row counts hardly move it
SIZES = {"label": 16_000, "curate": 10_000, "ingest": 100_000}
RUN_LIMIT_S = 175  # a run must end within 180 s: launches are cut here
# no measured job (traced run: no local[1] leg) starts that would likely
# end after this many seconds of the run, so that the gated series of all
# workloads fits its time limit even on a loaded host
RUN_BUDGET_S = 55
TRACE_BUDGET_S = 110
SETUP_SAMPLES = 2  # fresh JVMs set up per run; setup_s is their median


def host_resources() -> tuple[int, int]:
    """(cores this process may use, driver heap in MB sized to the host)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return cpus, min(2048, max(1024, total_kb // 1024 // 8))


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


class TreeWatch(threading.Thread):
    """Samples a process tree every `period` seconds: its peak resident
    bytes (each memory counted once), and every (pid, start time) seen in
    it, so that processes that left the tree (the PySpark daemon starts its
    own process group) can still be stopped."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0
        self.seen: dict[int, str] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        from launch import proc_tree

        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop_evt.is_set():
            tree = proc_tree(self.pid)
            # the JVM starts chmod and the like through vfork: until it
            # execs, such a child shares the JVM's memory and reads the
            # JVM's size (stat fields 23-24), which must count once
            self.peak = max(self.peak, page * sum(
                int(f[21]) for f in tree.values()
                if tree.get(int(f[1]), [None] * 22)[20:22] != f[20:22]))
            self.seen.update((pid, f[19]) for pid, f in tree.items())
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def launch(workload: str, inp: str, out: str, cpus: int, mem_mb: int,
           log: str, timeout: float, extra: list[str],
           on_event=None) -> tuple[dict | None, int]:
    """One launch.py process; (its "done" record or None, peak tree RSS).
    `on_event(record)` is called with every other event the launch
    reports; the launch waits after its warm-up until on_event("warm")
    has returned. Once "done" is read, the launch and its JVM are
    killed."""
    cmd = [sys.executable, os.path.join(HERE, "launch.py"),
           "--workload", workload, "--input", inp, "--output", out,
           "--cpus", str(cpus), "--mem-mb", str(mem_mb), "--work", WORK,
           *extra]
    done = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                stdout=subprocess.PIPE, stderr=err,
                                cwd=ROOT, start_new_session=True, text=True)
        watch = TreeWatch(proc.pid)
        watch.start()
        timer = threading.Timer(timeout, _kill_group, (proc.pid,))
        timer.start()
        try:
            # the program's own stdout lines (cli.main prints its summary)
            # pass by; launch.py's events are JSON objects with "event"
            for line in proc.stdout:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(rec, dict) or "event" not in rec:
                    continue
                if rec["event"] == "done":
                    done = rec  # the JVM's orderly exit is not waited for
                    break
                if on_event:
                    on_event(rec)
                if rec["event"] == "warm":
                    proc.stdin.write("go\n")
                    proc.stdin.flush()
        except (BrokenPipeError, ProcessLookupError):
            pass  # killed by the timer
        finally:
            timer.cancel()
            watch.stop()
            _reap(proc, watch.seen)
    return done, watch.peak


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _reap(proc: subprocess.Popen, seen: dict[int, str]) -> None:
    """Kill what is left of a launch once its driver process has printed
    its record and ended, or timed out: its process group (JVM) and every
    process seen in its tree that still runs; wait until all are gone."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [pid for pid, start in seen.items()
                 if _start_time(pid) == start]
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            if not alive:
                break
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        time.sleep(0.05)
    proc.wait()


def _start_time(pid: int) -> str | None:
    """Start time of a live process (stat field 22), None once it is gone
    or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return None if f[0] == "Z" else f[19]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("label", "curate", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started, started_at = time.monotonic(), time.time()
    # a terminated run still reaps its launch (the finally in launch())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import data_quality_check_spark as program
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program or its engines: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {program.__file__} is not the checkout's package",
              file=sys.stderr)
        return 2
    import checks
    import gen

    cpus, mem_mb = host_resources()
    # launches are killed once done, so their Spark scratch is cleared here
    for d in ("local", "tmp", "eventlog"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("local", "tmp", "logs", "out", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the package from the checkout whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no JVM shared-memory perf file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    inp, facts = gen.materialize(WORK, a.workload, a.seed, SIZES[a.workload])
    out = os.path.join(WORK, "out", a.workload)
    trace_out = (os.path.join(WORK, "logs", f"{a.workload}-layers.json")
                 if a.trace else None)

    def remaining() -> float:
        return RUN_LIMIT_S - (time.monotonic() - started)

    # set-up samples: fresh JVMs that only set up, then the main launch's
    setups = []
    for k in range(0 if a.trace else SETUP_SAMPLES - 1):
        log = os.path.join(WORK, "logs", f"{a.workload}-setup{k}.log")
        rec, _ = launch(a.workload, inp, out, cpus, mem_mb, log,
                        remaining(), ["--setup-only"])
        if rec is None:
            print(f"perfbench: set-up launch failed, see {log}",
                  file=sys.stderr)
            return 1
        setups.append(rec["setup_s"])

    # the expected values (the label twin takes seconds) are computed while
    # the main launch runs its unmeasured warm-up job
    exp = {}

    def on_event(ev: dict) -> None:
        if ev["event"] == "setup":
            exp.update(checks.expected(a.workload, inp, facts))

    for d in ("", "-warm", "-traced", "-1core"):
        shutil.rmtree(out + d, ignore_errors=True)
    log = os.path.join(WORK, "logs", f"{a.workload}-launch.log")
    budget = TRACE_BUDGET_S if a.trace else RUN_BUDGET_S
    extra = ["--deadline", str(started_at + budget)]
    extra += (["--trace-out", trace_out] if a.trace else
              ["--seconds", str(a.seconds)])
    steal0 = steal_ticks()
    rec, peak = launch(a.workload, inp, out, cpus, mem_mb, log,
                       remaining(), extra, on_event)
    steal1 = steal_ticks()
    if rec is None or not exp:
        print(f"perfbench: launch failed, see {log}", file=sys.stderr)
        return 1
    setups.append(rec["setup_s"])
    jobs = rec["jobs"]

    # every job's output is checked: the warm-up's, the measured ones' and
    # in a traced run those of the untraced and traced legs (layers.py)
    outs = [os.path.join(out, f"job{k}") for k in range(len(jobs) + 1)]
    if a.trace:
        outs += [out + "-warm", out + "-traced"]
    failed, ratios = 0, []
    for k, job_out in enumerate(outs):
        try:
            problems = checks.check(a.workload, inp, job_out, exp, rec)
        except Exception:  # an unreadable output is a failed job
            problems = ["output check raised:\n" + traceback.format_exc()]
        for p in problems:
            print(f"perfbench: {job_out}: {p}", file=sys.stderr)
        failed += bool(problems)
        if 0 < k <= len(jobs):
            ratios.append(checks.output_bytes(job_out) / exp["input_bytes"])

    def med(key):
        return statistics.median(j[key] for j in jobs)

    if a.trace:
        with open(trace_out) as fh:
            layers = json.load(fh)
        for name, m in layers.items():
            print(json.dumps({"layer_metric": name, **m, "cpus": cpus,
                              "workload": a.workload, "seed": a.seed}))
        metrics = {n: {"value": m["value"], "unit": m["unit"]}
                   for n, m in layers.items()}
    else:
        metrics = {
            "job_cpu_s": {"value": med("job_cpu_s"), "unit": "s"},
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
            "out_bytes_ratio": {"value": statistics.median(ratios),
                                "unit": "ratio"},
        }
    # wall-time metrics follow the host's CPU steal too closely to gate
    # (README.md); they are reported here with the steal they ran under
    report = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus,
        "driver_mem_mb": mem_mb, "rows": exp["rows"],
        "setup_s_samples": setups, "warmup_job_s": rec["warmup_s"],
        "error_rate": {"value": failed / len(outs), "unit": "share"},
        "host_steal_share": (steal1[0] - steal0[0])
        / max(1, steal1[1] - steal0[1])}
    if jobs:
        report.update({
            "job_s": {"value": med("job_s"), "unit": "s",
                      "samples": [j["job_s"] for j in jobs]},
            "rows_per_s": {"value": exp["rows"] / med("job_s"),
                           "unit": "rows/s"},
            "job_cpu_s_samples": [j["job_cpu_s"] for j in jobs],
            "jit_cpu_s": {"value": med("jit_cpu_s"), "unit": "s",
                          "samples": [j["jit_cpu_s"] for j in jobs]}})
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": len(outs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
