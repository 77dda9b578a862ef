"""Crawl fixtures and their oracle expectations, cached by (generator
arguments, seed).

A fixture is the ``gen_frontier`` output for one workload and seed; its
expectation is what ``plans.oracle.run_oracle`` (the single-threaded
reference) says the crawl must produce: the per-round fetch order and
the final URL-seen set. Both are computed once and cached side by side
under ``perfbench/.cache/<key>/`` so a repeated seed costs a cache load.

``check_crawl`` compares a finished crawl's state dir against the
expectation with plain pyarrow reads (no Spark job), so the check adds
nothing to the timed region or to the Spark event log.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")

# url_seen columns gated against the oracle, per URL
SEEN_FIELDS = ("hit", "status", "round_id")
# terminal-capture columns: compared and COUNTED but not gated. Known
# program defect: when no capture of a URL has the ingest type's best
# mimetype, the Spark best-capture window ranks NULL-mimetype captures
# last (NULL comparisons sort NULLS LAST) while the oracle treats NULL
# as "not the best mimetype" and picks the latest capture — so the
# chosen capture (never the status, hence never the fetch order)
# differs. Reported as ``terminal_mismatches`` in every run's detail.
TERMINAL_FIELDS = (
    "terminal_url",
    "terminal_dt",
    "terminal_status_code",
    "terminal_sha1hex",
)


@dataclass
class Expected:
    fetch_orders: list[list[str]]
    url_seen: dict[tuple[str, str], tuple]


@dataclass
class Fixture:
    data_dir: str
    expected: Expected
    cached: bool      # True: loaded from the cache, nothing generated
    load_s: float     # wall time of this prepare() call
    gen_s: float      # gen_frontier wall time when the fixture was made
    oracle_s: float   # run_oracle wall time when the fixture was made
    oracle_urls: int  # URLs the oracle processed (its url_seen size)


def fixture_key(gen_args: dict, seed: int, rounds: int, token_bucket: bool) -> str:
    spec = json.dumps(
        {"gen": gen_args, "seed": seed, "rounds": rounds, "token_bucket": token_bucket},
        sort_keys=True,
    )
    return hashlib.sha1(spec.encode()).hexdigest()[:16]


def _oracle_expectation(data_dir: str, rounds: int, token_bucket: bool):
    from sandcrawler_spark.plans.oracle import run_oracle

    res = run_oracle(data_dir, max_rounds=rounds, token_bucket=token_bucket)
    seen = [
        [k[0], k[1], *(v[f] for f in SEEN_FIELDS + TERMINAL_FIELDS)]
        for k, v in res.url_seen.items()
    ]
    return {"fetch_orders": res.fetch_orders, "url_seen": seen}


def _make_fixture(out_dir: str, gen_args: dict, seed: int, rounds: int,
                 token_bucket: bool) -> dict:
    """Generate the fixture into ``out_dir`` and run the oracle over it;
    writes ``expected.json`` beside the tables and returns its dict."""
    from sandcrawler_spark.plans.datagen import gen_frontier

    args = dict(gen_args)
    args["budget_range"] = tuple(args["budget_range"])
    t0 = time.perf_counter()
    gen_frontier(out_dir, seed=seed, **args)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    exp = _oracle_expectation(out_dir, rounds, token_bucket)
    exp["oracle_s"] = time.perf_counter() - t0
    exp["gen_s"] = gen_s
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(exp, f)
    return exp


def prepare(gen_args: dict, seed: int, rounds: int, token_bucket: bool) -> Fixture:
    """Cached fixture + expectation; generated on a miss. The cache entry
    appears atomically (rename of a fully written temp dir), so a run
    killed mid-generation leaves no half-made entry behind."""
    t0 = time.perf_counter()
    key = fixture_key(gen_args, seed, rounds, token_bucket)
    final = os.path.join(CACHE_DIR, key)
    cached = os.path.exists(os.path.join(final, "expected.json"))
    if cached:
        with open(os.path.join(final, "expected.json")) as f:
            exp = json.load(f)
    else:
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        exp = _make_fixture(tmp, gen_args, seed, rounds, token_bucket)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    expected = Expected(
        fetch_orders=exp["fetch_orders"],
        url_seen={(r[0], r[1]): tuple(r[2:]) for r in exp["url_seen"]},
    )
    return Fixture(
        data_dir=final,
        expected=expected,
        cached=cached,
        load_s=time.perf_counter() - t0,
        gen_s=exp["gen_s"],
        oracle_s=exp["oracle_s"],
        oracle_urls=len(exp["url_seen"]),
    )


def _read_dir(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns, partitioning=None)


def committed_counters(state_dir: str) -> dict[int, dict]:
    with open(os.path.join(state_dir, "manifest.json")) as f:
        m = json.load(f)
    return {int(r): c for r, c in m["counters"].items() if int(r) in m["rounds"]}


def check_crawl(state_dir: str, expected: Expected) -> tuple[list[str], int]:
    """(problems, terminal_mismatches): the gated differences between a
    crawl's committed state and the oracle — per-round fetch order, the
    URL-seen key set, and each seen URL's hit/status/round — plus the
    number of seen URLs whose terminal-capture columns differ (see
    TERMINAL_FIELDS)."""
    counters = committed_counters(state_dir)
    rounds = sorted(counters)
    problems = []
    if len(rounds) != len(expected.fetch_orders):
        problems.append(
            f"committed {len(rounds)} rounds, oracle ran {len(expected.fetch_orders)}"
        )
    for r, want in zip(rounds, expected.fetch_orders):
        t = _read_dir(
            os.path.join(state_dir, f"rounds/round={r:05d}", "fetch_order"),
            ["rank", "canonical_url"],
        ).sort_by("rank")
        got = t.column("canonical_url").to_pylist()
        if got != want:
            first = next(
                (i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                min(len(got), len(want)),
            )
            problems.append(
                f"round {r} fetch order differs at rank {first} "
                f"({len(got)} scheduled, oracle {len(want)})"
            )
    got_seen = {}
    dups = 0
    for r in rounds:
        rows = _read_dir(
            os.path.join(state_dir, f"rounds/round={r:05d}", "url_seen"),
            ["ingest_type", "canonical_url", *SEEN_FIELDS, *TERMINAL_FIELDS],
        ).to_pylist()
        for row in rows:
            key = (row["ingest_type"], row["canonical_url"])
            dups += key in got_seen
            got_seen[key] = tuple(
                row[f] for f in SEEN_FIELDS + TERMINAL_FIELDS
            )
    if dups:
        problems.append(f"url_seen holds {dups} URLs more than once")
    n = len(SEEN_FIELDS)
    terminal = 0
    if set(got_seen) != set(expected.url_seen):
        extra = len(set(got_seen) - set(expected.url_seen))
        missing = len(set(expected.url_seen) - set(got_seen))
        problems.append(f"url_seen set differs: {extra} extra, {missing} missing")
    else:
        bad = [k for k, v in expected.url_seen.items() if got_seen[k][:n] != v[:n]]
        if bad:
            problems.append(f"url_seen rows differ for {len(bad)} URLs, e.g. {bad[0]}")
        terminal = sum(
            1 for k, v in expected.url_seen.items() if got_seen[k][n:] != v[n:]
        )
    return problems, terminal


def urls_processed(counters: dict[int, dict]) -> int:
    """URLs processed = the sum of the ``status:*`` counters."""
    return sum(
        v
        for c in counters.values()
        for k, v in c.items()
        if k.startswith("status:")
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
