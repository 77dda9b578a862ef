"""One crawl in a fresh Spark driver: the child process ``run.py``
starts per timed or traced crawl.

    python3 perfbench/crawl.py --data D --state S --rounds R --cores N
        --partitions P [--token-bucket]
        [--trace-id ID] [--battery TABLES --queries Q1,Q2,...] --out RESULT.json

Starts a session on ``local[--cores]`` with ``--partitions`` shuffle
partitions (memory and shuffle dir from the env knobs ``run.py``
sets), runs ``run_crawl`` from empty state, and writes the timings to ``--out``: session start,
crawl wall time, the clock at each round commit, and peak resident
memory (see ``memory``). With ``--trace-id`` the crawl is traced
(``tracing.Tracer``) and the Spark event log is parsed into per-layer
metrics. With ``--battery`` the same driver then runs the named battery
queries over the tables dir and checks them (``battery.run``); their
jobs start after the crawl, outside its event-log window. Before exiting
it stops Spark and waits for the JVM and the Python workers to end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def memory(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident memory (VmHWM) of this driver process plus its JVM,
    and of the Python workers below the JVM (daemon included), with
    their count."""
    workers = [p for p in descendants(os.getpid()) if p != jvm_pid]
    return {
        "driver_jvm_mb": _hwm_mb(os.getpid()) + (_hwm_mb(jvm_pid) if jvm_pid else 0.0),
        "workers_mb": sum(_hwm_mb(p) for p in workers),
        "workers": float(len(workers)),
    }


def start_session(cores: int, partitions: int, event_dir: str | None):
    from sandcrawler_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=partitions, extra_conf=conf)
    return spark, time.perf_counter() - t0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark, proc) -> None:
    """Stop Spark, close the stdin of the JVM process ``proc`` (it exits
    on EOF) and wait until the JVM and every process below it have
    ended; anything still alive after the grace period is killed."""
    spark.stop()
    pids = descendants(os.getpid())
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--rounds", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--partitions", type=int, required=True)
    ap.add_argument("--token-bucket", action="store_true")
    ap.add_argument("--trace-id")
    ap.add_argument("--battery", help="tables dir for the operator battery")
    ap.add_argument("--queries", default="", help="comma-separated battery queries")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from pyspark import SparkContext
    from sandcrawler_spark.plans.frontier import run_crawl

    from perfbench import battery, tracing

    event_dir = None
    if args.trace_id:
        event_dir = os.path.join(os.path.dirname(args.out), f"eventlog-{args.trace_id}")
        os.makedirs(event_dir, exist_ok=True)
    spark, session_s = start_session(args.cores, args.partitions, event_dir)
    jvm = getattr(SparkContext._gateway, "proc", None)  # the JVM's Popen
    clock = tracing.CommitClock()
    undo = [clock.install()]
    tracer = None
    if args.trace_id:
        tracer = tracing.Tracer(spark.sparkContext, args.trace_id)
        undo.append(tracer.install())
    kw = dict(max_rounds=args.rounds, token_bucket=args.token_bucket, use_bloom=True)
    error = None
    epoch0 = time.time()
    t0 = time.perf_counter()
    try:
        if tracer:
            tracer.crawl(run_crawl, spark, args.data, args.state, **kw)
        else:
            run_crawl(spark, args.data, args.state, **kw)
    except Exception as e:  # noqa: BLE001 — reported; the parent counts it failed
        error = f"{type(e).__name__}: {e}"
    t1 = time.perf_counter()
    epoch1 = time.time()
    for u in reversed(undo):
        u()
    out = {
        "session_s": session_s,
        "run_s": t1 - t0,
        "commits": [t - t0 for t in clock.times],
        "error": error,
        **memory(jvm.pid if jvm else None),
    }
    if args.battery:
        times, problems = battery.run(spark, args.battery, args.queries.split(","))
        out["battery"] = {"times": times, "problems": problems}
    stop_session(spark, jvm)
    if tracer:
        tracer.dump(os.path.join(os.path.dirname(args.out), f"spans-{args.trace_id}.jsonl"))
        out["layers"] = {
            **tracer.span_metrics(),
            **tracing.spark_metrics(event_dir, epoch0, epoch1, args.cores),
        }
        shutil.rmtree(event_dir, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
