"""The repo's benchmark: one named workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload crawl_zipf --seed 1 --seconds 10 --trace 0

A run prepares the workload's fixture and its oracle expectation
(cached by generator arguments and seed), then measures whole crawls
until ``--seconds`` have passed, at least one. Each crawl is a
``run_crawl`` from empty state in a FRESH Spark driver on
``local[--cores]`` (new JVM, new Python workers), the way
``tools/submit_crawl.py`` runs it: one client, one batch job at a time.
Every crawl is checked against the oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones from one traced crawl (see ``tracing.py``) followed, in
the same driver, by one checked pass of the operator battery
(``battery.py``) over seeded tables (``tables.py``). The last
stdout line is the result JSON; the line before it holds every sample
and its count. Exit status is 0 whenever a result is printed, whatever
``correct`` says.
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
import time
import uuid
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


@dataclass(frozen=True)
class Workload:
    gen: dict            # gen_frontier arguments (seed comes from --seed)
    rounds: int
    token_bucket: bool


WORKLOADS = {
    # why each workload: BENCHMARK.json and perfbench/README.md
    "crawl_zipf": Workload(
        gen={"n_urls": 20_000, "n_hosts": 400, "n_seeds": 6_667, "budget_range": [16, 48]},
        rounds=2,
        token_bucket=False,
    ),
    "crawl_backlog": Workload(
        gen={"n_urls": 20_000, "n_hosts": 10, "n_seeds": 6_667, "budget_range": [24, 25]},
        rounds=2,
        token_bucket=True,
    ),
}
# --scale tiny: same shapes, sized for the benchmark's own tests
TINY_GEN = {"n_urls": 3_000, "n_seeds": 1_000}
TINY_QUERIES = 3  # the first battery queries only
# untraced run_s of earlier timed runs in this checkout, per workload:
# the traced run's overhead is measured against the median of the most
# recent ones (this VM's speed drifts over minutes, so older runs would
# measure the drift rather than the tracing)
HISTORY = os.path.join(WORK, "untraced-{}-{}.jsonl")
RECENT = 5

END_TO_END = {
    "run_s": "s",
    "urls_per_s": "1/s",
    "first_round_s": "s",
    "round_s": "s",
    "state_bytes_per_url": "B",
    "setup_s": "s",
}
# peak resident memory (crawl.memory): per layer, not gated — JVM heap
# growth and PySpark's worker count (8 to 16 per crawl) made it spread
# 14-23 % over ten seeds, close to the largest bound a metric may have
MEMORY = {"driver_jvm_mb": "MB", "workers_mb": "MB", "workers": "count"}


def nproc_or_int(value: str) -> int:
    """``nproc`` (the CPUs this process may run on) or a number."""
    return len(os.sched_getaffinity(0)) if value == "nproc" else int(value)


def configure(args) -> None:
    """Size Spark to this machine through the library's env knobs, and
    keep every file Spark, the JVM and Python workers write inside
    ``perfbench/.work``."""
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_OFFHEAP"] = args.offheap
    os.environ["SPARK_GRAFT_TMPFS"] = args.tmpfs
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    if args.tmpfs != "1":  # session.py picks tmpfs only when this is unset
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


# ------------------------------------------------------------- one crawl
def _die_with_parent() -> None:
    """Child pre-exec hook: SIGTERM the crawl if run.py dies, so a killed
    run leaves no crawl (and, through its stdin, no JVM) behind."""
    import ctypes

    ctypes.CDLL("libc.so.6").prctl(1, signal.SIGTERM)  # PR_SET_PDEATHSIG


def crawl_once(args, wl: Workload, fx, trace_id: str | None,
               battery: tuple[str, list[str]] | None = None) -> dict:
    """One crawl in a fresh driver (a ``crawl.py`` child process); returns
    its sample and, when traced, its per-layer metrics. ``battery`` =
    (tables dir, queries) runs those queries in the driver after the
    crawl. Checking against the oracle and state cleanup happen after
    the child has exited."""
    from perfbench import fixtures

    # unique per crawl: bloom sideload caches in Python workers are keyed
    # by path, so a state dir must never be reused by one driver
    tag = uuid.uuid4().hex[:12]
    state = os.path.join(WORK, "state", tag)
    out = os.path.join(WORK, f"crawl-{tag}.json")
    shutil.rmtree(state, ignore_errors=True)
    cmd = [
        sys.executable, os.path.join(HERE, "crawl.py"),
        "--data", fx.data_dir, "--state", state, "--rounds", str(wl.rounds),
        "--cores", str(args.cores), "--partitions", str(args.shuffle_partitions),
        "--out", out,
    ]
    if wl.token_bucket:
        cmd.append("--token-bucket")
    if trace_id:
        cmd += ["--trace-id", trace_id]
    if battery:
        cmd += ["--battery", battery[0], "--queries", ",".join(battery[1])]
    proc = subprocess.run(cmd, stdout=sys.stderr, check=False, preexec_fn=_die_with_parent)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"crawl child exited with {proc.returncode}")
    with open(out) as f:
        child = json.load(f)
    os.remove(out)

    expected = fx.expected
    if args.tamper_expected:  # gate self-test: the expected round-0 order no longer holds
        orders = [list(o) for o in expected.fetch_orders]
        orders[0][0], orders[0][-1] = orders[0][-1], orders[0][0]
        expected = fixtures.Expected(orders, expected.url_seen)
    error = child["error"]
    problems, terminal, counters = [error], 0, {}
    if not error:
        problems, terminal = fixtures.check_crawl(state, expected)
        counters = fixtures.committed_counters(state)
    urls = fixtures.urls_processed(counters)
    state_bytes = fixtures.dir_bytes(state)
    shutil.rmtree(state, ignore_errors=True)
    run_s, commits = child["run_s"], child["commits"]
    intervals = [b - a for a, b in zip(commits, commits[1:])]
    sample = {
        "run_s": run_s,
        "session_s": child["session_s"],
        "urls": urls,
        "urls_per_s": urls / run_s,
        "first_round_s": commits[0] if commits else run_s,
        "round_s": statistics.median(intervals) if intervals else run_s,
        "state_bytes_per_url": state_bytes / max(urls, 1),
        **{f"memory.{k}": child[k] for k in MEMORY},
        "problems": problems,
        "terminal_mismatches": terminal,
    }
    if battery:
        sample["battery"] = child["battery"]
    if trace_id:
        input_rows = sum(c.get("frontier_input_rows", 0) for c in counters.values())
        scheduled = sum(c.get("scheduled", 0) for c in counters.values())
        sample["layers"] = {
            **child["layers"],
            "frontier.input_rows": float(input_rows),
            "frontier.scheduled": float(scheduled),
            "frontier.useful_frac": scheduled / max(input_rows, 1),
        }
    return sample


# ------------------------------------------------------------- micro layers
def function_rates(data_dir: str) -> dict[str, float]:
    """Rows/s of the two URL UDF bodies on one core (driver process)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from sandcrawler_spark.functions.urlkeys import canonical_url_udf, resolve_url_udf

    seeds = pq.read_table(f"{data_dir}/seeds.parquet", columns=["base_url"])
    urls = seeds.column("base_url").to_pandas()
    caps = pq.read_table(
        f"{data_dir}/capture_history.parquet", columns=["url", "sha1hex"]
    ).to_pandas().drop_duplicates("sha1hex")
    docs = pq.read_table(f"{data_dir}/docs.parquet").to_pandas()
    spans = docs.explode("spans").dropna(subset=["spans"])
    spans = spans[spans["spans"].map(lambda s: s["kind"] == "link")]
    links = spans.assign(ref=spans["spans"].map(lambda s: s["media_ref"])).merge(
        caps, left_on="doc_id", right_on="sha1hex"
    )
    base = links["url"].reset_index(drop=True)
    ref = links["ref"].reset_index(drop=True)

    def rate(fn, *cols) -> float:
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(*cols)
            rates.append(len(cols[0]) / (time.perf_counter() - t0))
        return statistics.median(rates)

    return {
        "functions.canonicalize_rows_per_s": rate(canonical_url_udf.func, urls),
        "functions.resolve_rows_per_s": rate(resolve_url_udf.func, pd.Series(base), pd.Series(ref)),
    }


# ------------------------------------------------------------- modes
def workload_for(name: str, scale: str) -> Workload:
    wl = WORKLOADS[name]
    if scale == "tiny":
        wl = Workload({**wl.gen, **TINY_GEN}, wl.rounds, wl.token_bucket)
    return wl


def record_untraced(args, samples: list[dict]) -> None:
    with open(HISTORY.format(args.workload, args.scale), "a") as f:
        for s in samples:
            f.write(json.dumps({"seed": args.seed, "run_s": s["run_s"]}) + "\n")


def summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def timed(args, wl: Workload) -> tuple[dict, dict, int, int]:
    from perfbench import fixtures

    fx = fixtures.prepare(wl.gen, args.seed, wl.rounds, wl.token_bucket)
    samples = []
    t0 = time.perf_counter()
    while not samples or time.perf_counter() - t0 < args.seconds:
        samples.append(crawl_once(args, wl, fx, None))
    failed = sum(1 for s in samples if s["problems"])
    record_untraced(args, samples)
    med = {k: statistics.median(s[k] for s in samples) for k in END_TO_END if k in samples[0]}
    # set-up from scratch: a cache hit adds the generation and oracle
    # times recorded with the fixture, so setup_s does not depend on
    # which seeds this checkout has already seen
    fixture_s = fx.load_s + (fx.gen_s + fx.oracle_s if fx.cached else 0.0)
    med["setup_s"] = fixture_s + statistics.median(s["session_s"] for s in samples)
    detail = {
        "fixture": {"cached": fx.cached, "load_s": fx.load_s, "dir": os.path.basename(fx.data_dir)},
        "samples": {
            k: summary([s[k] for s in samples])
            for k in (*END_TO_END, "session_s", "urls", *(f"memory.{m}" for m in MEMORY))
            if k in samples[0]
        },
        "failed_frac": failed / len(samples),
        "problems": [p for s in samples for p in s["problems"]],
        "terminal_mismatches": [s["terminal_mismatches"] for s in samples],
    }
    return med, detail, len(samples), failed


def traced(args, wl: Workload, queries: list[str]) -> tuple[dict, dict, int, int]:
    from perfbench import fixtures, tables

    fx = fixtures.prepare(wl.gen, args.seed, wl.rounds, wl.token_bucket)
    tables_dir, _ = tables.prepare(args.seed)
    layers = {
        # measured when this fixture was made (possibly by an earlier run)
        "datagen.gen_s": fx.gen_s,
        "oracle.urls_per_s": fx.oracle_urls / fx.oracle_s,
        **function_rates(fx.data_dir),
    }
    samples = []
    try:
        with open(HISTORY.format(args.workload, args.scale)) as f:
            untraced = [json.loads(line)["run_s"] for line in f][-RECENT:]
    except FileNotFoundError:
        # no timed run in this checkout yet: measure one untraced crawl
        # (kept in the history, so this happens once per workload)
        samples.append(crawl_once(args, wl, fx, None))
        record_untraced(args, samples)
        untraced = [samples[0]["run_s"]]
    run_id = uuid.uuid4().hex[:12]
    tr = crawl_once(args, wl, fx, run_id, (tables_dir, queries))
    samples.append(tr)
    layers.update(tr["layers"])
    bat = tr["battery"]
    layers.update({f"battery.{q}_s": t for q, t in bat["times"].items()})
    layers.update({
        "session.start_s": tr["session_s"],
        **{f"memory.{k}": tr[f"memory.{k}"] for k in MEMORY},
        "trace.run_s": tr["run_s"],
        "trace.untraced_run_s": statistics.median(untraced),
        "trace.overhead_s": tr["run_s"] - statistics.median(untraced),
        "trace.urls_per_s": tr["urls_per_s"],
    })
    # operations: the crawls plus the battery queries
    failed = sum(1 for s in samples if s["problems"]) + len(bat["problems"])
    attempted = len(samples) + len(queries)
    detail = {
        "trace_id": run_id,
        "spans": os.path.relpath(os.path.join(WORK, f"spans-{run_id}.jsonl"), ROOT),
        "failed_frac": failed / attempted,
        "problems": [p for s in samples for p in s["problems"]],
        "battery_problems": bat["problems"],
        "terminal_mismatches": [s["terminal_mismatches"] for s in samples],
    }
    return layers, detail, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=nproc_or_int, default="nproc", help="local[N] task threads")
    ap.add_argument("--shuffle-partitions", type=nproc_or_int, default="nproc")
    ap.add_argument("--driver-mem", default="3g", help="SPARK_DRIVER_MEM")
    ap.add_argument("--offheap", default="2g", help="SPARK_OFFHEAP")
    ap.add_argument("--tmpfs", default="0", choices=("0", "1"), help="SPARK_GRAFT_TMPFS")
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument(
        "--tamper-expected", action="store_true",
        help="gate self-test: swap two URLs of the expected round-0 fetch "
        "order, so every crawl must be counted as failed",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sandcrawler_spark")):
        print(f"perfbench: no sandcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    configure(args)
    wl = workload_for(args.workload, args.scale)
    if args.trace:
        from perfbench.battery import headline

        queries = headline()[:TINY_QUERIES] if args.scale == "tiny" else headline()
        metrics, detail, attempted, failed = traced(args, wl, queries)
        units = per_layer_units(queries)
    else:
        metrics, detail, attempted, failed = timed(args, wl)
        units = END_TO_END
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def per_layer_units(queries: list[str]) -> dict[str, str]:
    from perfbench.tracing import ENGINE_METRICS, JOB_LABELS

    units = {
        "session.start_s": "s",
        **{f"memory.{k}": u for k, u in MEMORY.items()},
        "datagen.gen_s": "s",
        "oracle.urls_per_s": "1/s",
        "trace.urls_per_s": "1/s",
        "functions.canonicalize_rows_per_s": "1/s",
        "functions.resolve_rows_per_s": "1/s",
        "frontier.seeds_s": "s",
        "frontier.plan_s": "s",
        "frontier.materialize_s": "s",
        "frontier.input_rows": "count",
        "frontier.scheduled": "count",
        "frontier.useful_frac": "ratio",
        "ranking.rank_s": "s",
        "bloom.update_s": "s",
        "bloom.wait_s": "s",
        "bloom.bytes": "B",
        "state.write_s": "s",
        "state.write_wall_s": "s",
        "state.commit_s": "s",
        "spark.busy_frac": "ratio",
        "spark.jobs": "count",
        "spark.unattributed_task_s": "s",
        "trace.run_s": "s",
        "trace.untraced_run_s": "s",
        "trace.overhead_s": "s",
    }
    for label in JOB_LABELS:
        for name, unit in ENGINE_METRICS:
            units[f"{label}.{name}"] = unit
    for q in queries:
        units[f"battery.{q}_s"] = "s"
    return units


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
