"""Traced-run instrumentation, applied from outside the program.

``CommitClock`` is the one wrapper the timed runs also use: it reads
the clock once per ``SnapshotStore.commit_round`` so the benchmark can
report when each round's fetch list became durable.

``Tracer`` wraps the public calls each crawl layer exposes, records a
span per call (name, start, end, parent, thread; one run id for all
spans of a run) and labels the Spark jobs the call submits with the
thread-local job property ``perfbench.layer``. Spark metrics per layer
then come from the event log (``spark_metrics``).

Labels follow the thread that submits the job. Calls that run on
``run_crawl``'s own pool threads (``write_table``, ``BloomStore.update``)
are wrapped inside that thread, so their jobs are labelled; the driver
thread's label names the crawl phase it is in, switched at the wrapped
boundaries:

    frontier.seeds        run_crawl entry → first run_round (seed prep)
    frontier.plan         inside run_round (plan building)
    ranking.rank          inside with_global_rank (nested in run_round)
    frontier.materialize  run_round return → writes (the round's compute)
    state.commit          inside commit_round
    frontier.prep         after a commit (compaction, next round's setup)

Jobs from threads no wrapper runs in (the overlapped robots-rules count)
stay unlabelled and are reported as ``spark.unattributed_task_s``.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

LAYER_PROP = "perfbench.layer"

# labels whose jobs carry the crawl's work; each gets the per-layer
# engine metrics below. frontier.plan and ranking.rank only build plans
# (no jobs of their own); frontier.prep runs jobs only when a crawl
# compacts its frontier, which these workloads' short crawls never do.
JOB_LABELS = (
    "frontier.seeds",
    "frontier.materialize",
    "state.write",
    "bloom.update",
)
ENGINE_METRICS = (
    ("task_s", "s"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("max_task_skew", "ratio"),
)


def _patch(owner, name: str, make):
    orig = getattr(owner, name)
    setattr(owner, name, functools.wraps(orig)(make(orig)))
    return lambda: setattr(owner, name, orig)


class CommitClock:
    """Clock reading at each round commit (one ``perf_counter`` call)."""

    def __init__(self) -> None:
        self.times: list[float] = []

    def install(self):
        from sandcrawler_spark.plans.state import SnapshotStore

        times = self.times

        def make(orig):
            def commit_round(store, *a, **kw):
                orig(store, *a, **kw)
                times.append(time.perf_counter())

            return commit_round

        return _patch(SnapshotStore, "commit_round", make)


class Tracer:
    """Spans + Spark job labels for one traced crawl."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.bloom_bytes = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._root: int | None = None

    # -------------------------------------------------------------- spans
    def _frames(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def _label(self, label: str | None) -> None:
        self.sc.setLocalProperty(LAYER_PROP, label)

    def call(self, name: str, fn, args, kwargs, label_after=None, **attrs):
        """Run ``fn`` inside span ``name`` with jobs labelled ``name``;
        afterwards the thread's label becomes ``label_after`` (default:
        restored to what it was)."""
        frames = self._frames()
        parent = frames[-1] if frames else self._root
        sid = next(self._ids)
        prev = self.sc.getLocalProperty(LAYER_PROP)
        frames.append(sid)
        self._label(name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            frames.pop()
            self._label(label_after if label_after is not None else prev)
            with self._lock:
                self.spans.append(
                    {
                        "run": self.run_id, "id": sid, "parent": parent,
                        "name": name, "start": t0, "end": t1,
                        "thread": threading.current_thread().name, **attrs,
                    }
                )

    def crawl(self, fn, *args, **kwargs):
        """Root span around one ``run_crawl`` call."""
        sid = next(self._ids)
        self._root = sid
        self._label("frontier.seeds")
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            self._label(None)
            self._root = None
            self.spans.append(
                {
                    "run": self.run_id, "id": sid, "parent": None,
                    "name": "frontier.crawl", "start": t0, "end": t1,
                    "thread": threading.current_thread().name,
                }
            )

    # ------------------------------------------------------------ wrappers
    def install(self):
        """Wrap the layer boundaries; returns an undo function."""
        from sandcrawler_spark.operators.bloom import BloomStore
        from sandcrawler_spark.plans import frontier
        from sandcrawler_spark.plans.state import SnapshotStore

        tr = self

        def run_round(orig):
            def w(spark, frontier_df, url_seen, robots, captures, docs, round_id, *a, **kw):
                return tr.call(
                    "frontier.plan", orig,
                    (spark, frontier_df, url_seen, robots, captures, docs, round_id, *a),
                    kw, label_after="frontier.materialize", round=round_id,
                )
            return w

        def rank(orig):
            def w(*a, **kw):
                return tr.call("ranking.rank", orig, a, kw)
            return w

        def write_table(orig):
            def w(store, round_id, name, df):
                return tr.call(
                    "state.write", orig, (store, round_id, name, df), {},
                    round=round_id, table=name,
                )
            return w

        def commit_round(orig):
            def w(store, round_id, *a, **kw):
                return tr.call(
                    "state.commit", orig, (store, round_id, *a), kw,
                    label_after="frontier.prep", round=round_id,
                )
            return w

        def bloom_update(orig):
            def w(bloom, delta_hashes, n_delta, round_id):
                out = tr.call(
                    "bloom.update", orig, (bloom, delta_hashes, n_delta, round_id), {},
                    round=round_id,
                )
                tr.bloom_bytes = bloom.total_bytes()
                return out
            return w

        undo = [
            _patch(frontier, "run_round", run_round),
            _patch(frontier, "with_global_rank", rank),
            _patch(SnapshotStore, "write_table", write_table),
            _patch(SnapshotStore, "commit_round", commit_round),
            _patch(BloomStore, "update", bloom_update),
        ]
        return lambda: [u() for u in reversed(undo)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ------------------------------------------------------------ metrics
    def span_metrics(self) -> dict[str, float]:
        """Per-layer times from the spans, summed over the crawl's rounds."""
        by = defaultdict(list)
        for s in self.spans:
            by[s["name"]].append(s)
        crawl = by["frontier.crawl"][0]
        plans = sorted(by["frontier.plan"], key=lambda s: s["start"])

        def total(name):
            return sum(s["end"] - s["start"] for s in by[name])

        materialize = write_wall = bloom_wait = 0.0
        for p in plans:
            r = p["round"]
            writes = [s for s in by["state.write"] if s["round"] == r]
            if not writes:
                continue
            first_w = min(s["start"] for s in writes)
            last_w = max(s["end"] for s in writes)
            materialize += first_w - p["end"]
            write_wall += last_w - first_w
            for b in by["bloom.update"]:
                if b["round"] == r:
                    bloom_wait += max(0.0, b["end"] - last_w)
        return {
            "frontier.seeds_s": (plans[0]["start"] if plans else crawl["end"]) - crawl["start"],
            "frontier.plan_s": total("frontier.plan"),
            "frontier.materialize_s": materialize,
            "ranking.rank_s": total("ranking.rank"),
            "bloom.update_s": total("bloom.update"),
            "bloom.wait_s": bloom_wait,
            "bloom.bytes": float(self.bloom_bytes),
            "state.write_s": total("state.write"),
            "state.write_wall_s": write_wall,
            "state.commit_s": total("state.commit"),
        }


def spark_metrics(event_dir: str, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Engine metrics of the jobs submitted in [t0, t1] (epoch seconds),
    read from the (non-rolling, uncompressed) event log in ``event_dir``."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    job_label: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    acc = defaultdict(lambda: defaultdict(float))
    lo, hi = t0 * 1000, t1 * 1000
    for p in paths:
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    if not lo <= e["Submission Time"] <= hi:
                        continue
                    job_label[e["Job ID"]] = (e.get("Properties") or {}).get(LAYER_PROP)
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    if job is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    label = job_label[job] or "unattributed"
                    a = acc[label]
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    a["task_s"] += run_s
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    stage_tasks[e["Stage ID"]].append(run_s)
    skew: dict[str, float] = defaultdict(lambda: 1.0)
    for stage, runs in stage_tasks.items():
        label = job_label[stage_job[stage]] or "unattributed"
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            skew[label] = max(skew[label], max(runs) / med)
    out: dict[str, float] = {}
    for label in JOB_LABELS:
        for name, _ in ENGINE_METRICS:
            key = f"{label}.{name}"
            out[key] = skew[label] if name == "max_task_skew" else acc[label][name]
    busy = sum(a["task_s"] for a in acc.values())
    out["spark.busy_frac"] = busy / (cores * (t1 - t0))
    out["spark.jobs"] = float(len(job_label))
    out["spark.unattributed_task_s"] = acc["unattributed"]["task_s"]
    return out
