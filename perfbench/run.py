"""ngxspark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the repository root. The seeded corpus is built (once per seed,
in a child process) under ``.bench_work/``, which is also where Spark's
scratch space, temp files and sink output go. With ``--trace 0`` the run
times checked passes and prints the end-to-end metrics; with ``--trace 1``
it prints the per-layer metrics of one traced pass (see ``trace.py``).
The last line of standard output is the result object.
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
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# One stated configuration: local[CORES] and a fixed JVM heap. Two task
# slots leave the JVM's compiler and GC threads and the Python workers room
# on a 4-CPU machine; at local[4] they contend with the tasks, and passes
# were both slower and noisier.
CORES = 2
HEAP = "2g"
RUN_LIMIT_S = 170  # the whole run, corpus build included, must end within 180 s
PASS_TIMEOUT_S = 90
# The first pass pays code generation, Python worker start and most JIT
# compilation (about twice a later pass). The timed passes that follow still
# drift by a few percent; their median is reported.
WARM_PASSES = 1
# Cold set-ups (a new JVM each) per run; setup_s takes their median. Each
# costs ~6 s of a ~55 s run, so a third would lengthen every run by a tenth.
SETUPS = 2
# the dropped curation_guards workload's queries are timed in this traced run
CURATION_TRACED_IN = "report_fanout"
CURATION_DEADLINE_S = 120  # the four queries take ~30 s cold; skip them past this


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def say(msg: str) -> None:
    """An informational line on standard output (before the result line)."""
    print(msg, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def ensure_corpus(workload: str, seed: int) -> tuple[str, dict]:
    """The seeded corpus and its expectations, built by a child process
    unless this seed's build already finished."""
    from perfbench.corpus import cache_key

    out = os.path.join(WORK, "corpus", cache_key(workload, seed, CORES))
    if not os.path.exists(os.path.join(out, "expect.json")):
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "corpus.py"),
             workload, str(seed), out, str(CORES)],
            cwd=ROOT, check=True, timeout=120,
        )
    with open(os.path.join(out, "expect.json")) as f:
        return out, json.load(f)


def spark_confs() -> dict[str, str]:
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    return {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # bench.py's split sizing: ~4 corpus files per split
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
        "spark.locality.wait": "0s",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job, stage and execution of a pass
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # scan descriptions keep the whole corpus path (engine.corpus_scans
        # matches on it); the default cuts locations at 100 characters
        "spark.sql.maxMetadataStringLength": "1000",
    }


def end_jvm() -> None:
    """End the JVM this process launched, if any, and wait until it exits,
    so that the next session starts a new one."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    if not gateway:
        return
    try:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its standard input closes
        gateway.proc.wait(timeout=30)
    finally:
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None


def start_session(held: dict):
    """``SETUPS`` cold set-ups, each a JVM launch, session build, format
    compile and plan build; all but the last are stopped, JVM included.
    Returns the last session, its plan and the median set-up timings."""
    from pyspark import SparkConf, SparkContext

    from ngxspark.fmtcompile import COMBINED_FMT, compile_format
    from ngxspark.pipeline import ACCESS_SCHEMA
    from ngxspark.plan import plan_struct
    from ngxspark.session import get_spark

    confs = spark_confs()
    jvm, sess, comp = [], [], []
    for i in range(SETUPS):
        if i:
            held.pop("spark").stop()
            end_jvm()
        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=SparkConf().setAll(list(confs.items())))
        t1 = time.perf_counter()
        spark = held["spark"] = get_spark(app="ngxspark-perfbench", cores=CORES, extra=confs)
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        plan = plan_struct(compile_format(COMBINED_FMT), ACCESS_SCHEMA)
        t3 = time.perf_counter()
        jvm.append(t1 - t0)
        sess.append(t2 - t1)
        comp.append(t3 - t2)
    log(f"set-ups: jvm start {[round(x, 2) for x in jvm]} s, "
        f"session build {[round(x, 2) for x in sess]} s")
    timings = {
        "session.s": statistics.median(j + s for j, s in zip(jvm, sess)),
        "compile.s": statistics.median(comp),
        "setup_s": statistics.median(map(sum, zip(jvm, sess, comp))),
    }
    return spark, plan, timings


class PassRunner:
    """Times passes of one workload and checks each after its clock stops."""

    def __init__(self, wl, rows: int):
        from perfbench.procfs import tree_cpu_s

        self.wl = wl
        self.rows = rows
        self._cpu = tree_cpu_s
        self.attempted = 0
        self.failed = 0
        self.series: list[tuple[str, float, float]] = []  # (kind, seconds, cpu_s)

    def run(self, kind: str):
        """One pass; returns (seconds, cpu_s, output) or None when it failed."""
        self.attempted += 1
        ix = self.attempted
        sc = self.wl.spark.sparkContext
        timer = threading.Timer(PASS_TIMEOUT_S, sc.cancelAllJobs)
        try:
            timer.start()
            c0 = self._cpu()
            t0 = time.perf_counter()
            out = self.wl.run_pass(ix)
            dt = time.perf_counter() - t0
            cpu = self._cpu() - c0
        except Exception:  # a failed pass is counted, the run goes on
            log(f"pass {ix} ({kind}) raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None
        finally:
            timer.cancel()
        self.series.append((kind, dt, cpu))
        t_check = time.perf_counter()
        try:
            bad = self.wl.check(out)
        except Exception:
            bad = [traceback.format_exc()]
        log(f"pass {ix} ({kind}) {dt:.2f} s, checked in {time.perf_counter() - t_check:.2f} s")
        if bad:
            log(f"pass {ix} ({kind}) output mismatch:\n  " + "\n  ".join(bad[:20]))
            self.failed += 1
            return None
        return dt, cpu, out


def shutdown(spark) -> None:
    """Stop the session and its JVM, then end whatever else this process
    started that still runs (Python workers) and wait for each to end."""
    from perfbench.procfs import stop_descendants

    try:
        if spark is not None:
            spark.stop()
        end_jvm()
    except Exception:  # whatever is left is signalled below
        log(f"stopping Spark raised:\n{traceback.format_exc()}")
    left = stop_descendants()
    if left:
        log(f"processes still running after SIGKILL: {left}")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "ngxspark")):
        log(f"no ngxspark package under {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.procfs import become_subreaper
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    nproc = len(os.sched_getaffinity(0))
    if CORES > nproc:
        log(f"the benchmark runs local[{CORES}], but only {nproc} CPUs are available")
        return 2

    # SIGTERM unwinds like an exception, so the processes are stopped on that
    # path too; workers orphaned by the JVM are re-parented here to be stopped
    signal.signal(signal.SIGTERM, _terminate)
    become_subreaper()
    held: dict = {}
    try:
        result, series = run_workload(args, WORKLOADS[args.workload], started, held)
    finally:
        shutdown(held.get("spark"))
    # the result line is printed only once every started process has ended
    say("passes (kind, s, cpu_s): " + json.dumps(
        [(k, round(s, 3), round(c, 2)) for k, s, c in series]))
    print(json.dumps(result))
    return 0


def run_workload(args, workload, started: float, held: dict):
    """Corpus, session, warm-up and the timed or traced passes. The session
    goes into ``held`` as soon as it exists, for the caller to stop."""
    # Spark scratch, Python temp files and worker imports stay in the checkout
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    corpus_dir, expect = ensure_corpus(args.workload, args.seed)
    cur_dir = cur_expect = None
    if args.trace and args.workload == CURATION_TRACED_IN:
        cur_dir, cur_expect = ensure_corpus("curation", args.seed)
    log(f"corpus ready after {time.perf_counter() - started:.1f} s")

    spark, plan, setup = start_session(held)
    log(f"session ready after {time.perf_counter() - started:.1f} s: {setup}")
    work_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    wl = workload(spark, corpus_dir, expect, plan, work_dir)
    runner = PassRunner(wl, expect["rows"])
    for _ in range(WARM_PASSES):
        runner.run("warm")
    if args.trace:
        result = traced_run(args, wl, runner, setup, started, cur_dir, cur_expect)
    else:
        result = timed_run(args, runner, setup, started)
    shutil.rmtree(work_dir, ignore_errors=True)
    return result, runner.series


def timed_run(args, runner: PassRunner, setup: dict, started: float) -> dict:
    from perfbench.procfs import PeakRss

    # A fixed number of passes for a given --seconds: the passes still speed
    # up one after another, so a count that varied with the machine's speed
    # would move the median with it.
    n = max(1, int(args.seconds // runner.wl.pass_s))
    times, cpus = [], []
    with PeakRss() as rss:
        for _ in range(n):
            got = runner.run("timed")
            if got is not None:
                times.append(got[0])
                cpus.append(got[1])
            last = runner.series[-1][1] if runner.series else PASS_TIMEOUT_S
            if time.perf_counter() - started + 2 * last > RUN_LIMIT_S:
                log(f"stopping after {runner.attempted} passes: the run's time limit is near")
                break
        peak = rss.peak
    metrics = {}
    if times:
        metrics = {
            "rows_per_s": {"value": runner.rows / statistics.median(times), "unit": "rows/s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
        }
    metrics["setup_s"] = {"value": setup["setup_s"], "unit": "s"}
    return {"correct": runner.failed == 0 and bool(times), "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


def traced_run(args, wl, runner: PassRunner, setup: dict, started: float,
               cur_dir, cur_expect) -> dict:
    from perfbench import trace

    tracer = trace.Tracer()
    with tracer.span("untraced_pass"):
        got = runner.run("untraced")
    untraced_s = got[0] if got else None
    runner.attempted += 1
    try:
        with tracer.span("traced_pass"):
            m, out, notes = trace.traced_pass(wl, tracer, untraced_s)
        bad = wl.check(out)
    except Exception:  # counted as a failed pass; the layers read 0
        m, notes, bad = {}, {"": "the traced pass raised"}, [traceback.format_exc()]
    if bad:
        runner.failed += 1
        log("traced pass output mismatch:\n  " + "\n  ".join(bad[:20]))
    m.update(setup)
    if cur_dir is not None and time.perf_counter() - started > CURATION_DEADLINE_S:
        notes["curation."] = f"skipped: {CURATION_DEADLINE_S} s of the run had passed"
    elif cur_dir is not None:
        cm, cbad = trace.curation_layers(wl.spark, tracer, os.path.join(cur_dir, "data"), cur_expect)
        m.update(cm)
        runner.attempted += 1
        if cbad:
            runner.failed += 1
            log("curation output mismatch:\n  " + "\n  ".join(cbad[:20]))
    else:
        notes["curation."] = f"the curation queries run only in {CURATION_TRACED_IN}'s traced run"
    for name in trace.LAYER_METRICS:
        if name not in m:
            m[name] = 0.0
            if not any(name.startswith(p) for p in notes):
                notes[name] = "not produced by this run"
    span_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    tracer.write(span_path)
    say(f"tracing overhead: {m['trace.overhead_s']:.3f} s "
        f"(traced output action minus untraced pass {untraced_s} s)")
    for prefix, why in notes.items():
        star = "" if prefix in trace.LAYER_METRICS else "*"
        say(f"not measured: {prefix}{star}: {why}")
    say(f"spans written to {span_path}")
    metrics = {k: {"value": m[k], "unit": trace.layer_unit(k)} for k in trace.LAYER_METRICS}
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
