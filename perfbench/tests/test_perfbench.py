"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Tiny runs (``--scale tiny``: 3k URLs, 2 rounds, 3 battery queries)
through the real command: every metric ``BENCHMARK.json`` names is
printed with its unit and the oracle gates pass; a tampered expected
fetch order shows up as failed crawls, which proves the gate can fail.
About four minutes on 4 cores (three to four fresh Spark drivers).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures, tables  # noqa: E402
from perfbench.battery import headline  # noqa: E402
from perfbench.run import TINY_GEN, TINY_QUERIES, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, *extra: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed), "--seconds", "1", "--scale", "tiny", *extra,
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_tiny_timed_run_prints_every_end_to_end_metric():
    res = _run("crawl_zipf", 3, "--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    _assert_metrics(res, _spec()["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_tiny_traced_run_prints_every_per_layer_metric():
    res = _run("crawl_backlog", 4, "--trace", "1")
    assert res["correct"] and res["failed"] == 0
    # a tiny run times only the first battery queries
    skipped = {f"battery.{q}_s" for q in headline()[TINY_QUERIES:]}
    _assert_metrics(res, [m for m in _spec()["per_layer"] if m["name"] not in skipped])
    assert res["attempted"] >= 1 + TINY_QUERIES
    m = res["metrics"]
    assert m["frontier.scheduled"]["value"] > 0
    assert 0 < m["frontier.useful_frac"]["value"] <= 1
    assert m["spark.jobs"]["value"] > 0


def test_tampered_expected_order_counts_as_failed():
    res = _run("crawl_zipf", 3, "--trace", "0", "--tamper-expected")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_workload_names_match_benchmark_json():
    assert {w["name"] for w in _spec()["workloads"]} == set(WORKLOADS)


def test_second_seed_gives_a_different_fixture():
    wl = WORKLOADS["crawl_zipf"]
    gen = {**wl.gen, **TINY_GEN}
    a = fixtures.prepare(gen, 101, wl.rounds, wl.token_bucket)
    b = fixtures.prepare(gen, 102, wl.rounds, wl.token_bucket)
    assert a.data_dir != b.data_dir
    assert a.expected.fetch_orders != b.expected.fetch_orders
    again = fixtures.prepare(gen, 101, wl.rounds, wl.token_bucket)
    assert again.cached and again.expected == a.expected


def test_battery_tables_follow_the_seed():
    a = tables.build(tables.ROWS, 101)
    b = tables.build(tables.ROWS, 102)
    assert all(a[t].equals(tables.build(tables.ROWS, 101)[t]) for t in a)
    assert not a["lineitem"].equals(b["lineitem"])
    assert {f"battery.{q}_s" for q in headline()} <= {m["name"] for m in _spec()["per_layer"]}
