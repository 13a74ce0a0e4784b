"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 30 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line
holds the end-to-end metrics of a timed window of ``--seconds``; with
``--trace 1`` it holds the per-layer metrics of a fixed amount of
traced work.  Everything the run writes (inputs, tables, Spark scratch,
event log) lives under ``perfbench/_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of Spark and Python at ``work``
    and make the engine importable here and in Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Spark gets half the cores: the driver JVM, this process, its
    # Python workers and the JIT and GC threads run on the other half,
    # so the run does not hold more busy threads than there are cores.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, "self"):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (which takes its Python workers
    with it) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _rate(run, work) -> float:
    """Ops per second of one call of ``work``, output checks left out."""
    t, n, c = time.perf_counter(), run.attempted, run.check_s
    work()
    return (run.attempted - n) / (time.perf_counter() - t - (run.check_s - c))


def traced_phase(spark, run, w, session_s: float) -> tuple[dict, list]:
    """Fixed work untraced, the same work traced, the same work
    untraced again (so the overhead estimate is not skewed by a JVM
    still warming), then the workload's traced maintenance, if any,
    then the traced probe of the other workload's layers.
    Returns ({"traced", "untraced"} ops/s, traced wall-clock windows)."""
    import tracing
    import workloads as W
    from checks import StorageTracker, paused

    before = _rate(run, w.fixed_work)
    tracer = tracing.Tracer(spark)
    tracing.instrument(tracer)
    tracer.record("session.get_session", session_s)
    run.tracer = tracer
    windows: list = []

    def traced(work):
        tracer.enabled = True
        start = time.time() * 1000.0
        try:
            return work()
        finally:
            tracer.enabled = False
            windows.append((start, time.time() * 1000.0))

    if w.storage is not None:
        w.storage = StorageTracker(w.tables)
    ops = {"traced": traced(lambda: _rate(run, w.fixed_work))}
    with paused(w.storage):
        ops["untraced"] = (before + _rate(run, w.fixed_work)) / 2.0
    if hasattr(w, "maintenance"):
        traced(w.maintenance)
    other = W.other_workload(run, w)
    traced(other.probe)
    W.merge_probe(run, other)
    tracer.close()
    return ops, windows


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import eventlog
    import tracing
    import workloads as W
    from cascading_hbase_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run = W.Run(spark, seed, seconds, work, tracing.Tracer())
    w = W.WORKLOADS[name](run)
    phases = {"session_s": session_s}
    try:
        w.setup()
        phases["setup_s"] = run.extra["setup_s"]
        phases["warm_s"] = run.extra["warm_s"]
        if trace:
            ops, windows = traced_phase(spark, run, w, session_s)
            w.finish()
            rss_mb = peak_rss_mb(spark)
        else:
            w.window()
            t = time.perf_counter()
            w.finish()
            phases["window_s"] = run.extra["window_s"]
            phases["checks_s"] = time.perf_counter() - t
            metrics = W.end_to_end(run, w)
    finally:
        stop_session(spark)
    print(json.dumps({"phases": phases, "mismatches": run.extra.get("mismatches")}),
          file=sys.stderr)
    if trace:
        (log_file,) = glob.glob(os.path.join(work, "events", "*"))
        metrics = W.per_layer(run, w, eventlog.read(log_file), windows, ops, rss_mb)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "keyed_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the work directory is removed
    # and the JVM stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work, bool(args.trace))
        result = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
