"""Token-bucket politeness (north_star: per-host token buckets on a
hosts state table): Spark-vs-oracle parity in bucket mode, burst
semantics vs the flat budget, and state-table persistence."""

from __future__ import annotations

import re

from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import run_crawl
from sandcrawler_spark.plans.oracle import run_oracle


def _orders(spark, store):
    out = []
    for r in store.committed_rounds:
        df = store.read_round_table(r, "fetch_order")
        out.append([row["canonical_url"] for row in df.orderBy("rank").collect()])
    return out


def test_token_bucket_oracle_parity(spark, tmp_path):
    d = str(tmp_path / "data")
    # low budgets + host contention so buckets actually bind
    gen_frontier(d, n_urls=600, n_hosts=8, n_seeds=300, seed=9, budget_range=(2, 5))
    oracle = run_oracle(d, max_rounds=3, token_bucket=True)
    store = run_crawl(
        spark, d, str(tmp_path / "st"), max_rounds=3, token_bucket=True
    )
    assert _orders(spark, store) == oracle.fetch_orders


def test_bucket_bursts_then_throttles(spark, tmp_path):
    """Round 0 starts with FULL buckets (capacity = 2× refill), so a
    contended host schedules up to 2× the flat budget initially, then
    drops to the refill rate — the flat-budget crawl never exceeds b."""
    d = str(tmp_path / "data2")
    gen_frontier(d, n_urls=600, n_hosts=8, n_seeds=300, seed=9, budget_range=(2, 5))
    flat = run_crawl(spark, d, str(tmp_path / "sflat"), max_rounds=1)
    bucket = run_crawl(
        spark, d, str(tmp_path / "sbuck"), max_rounds=1, token_bucket=True
    )
    n_flat = flat.counters()["0"]["scheduled"]
    n_bucket = bucket.counters()["0"]["scheduled"]
    assert n_bucket > n_flat  # initial burst capacity used

    # hosts state table exists and tokens never exceed capacity
    hosts = bucket.read_round_table(0, "hosts")
    assert hosts is not None and hosts.count() > 0
    robots = {
        r["host"]: r["host_budget"]
        for r in spark.read.parquet(f"{d}/robots.parquet").collect()
    }
    for row in hosts.collect():
        cap = 2 * (robots.get(row["host"]) or 3)
        assert 0 <= row["tokens"] <= cap, row


def _rules_joins(spark, d):
    """Physical join operators planned for the robots-rules join of one
    scheduling round over fixture ``d``."""
    from sandcrawler_spark.plans.frontier import prepare_seeds, run_round

    rr = run_round(
        spark,
        prepare_seeds(spark.read.parquet(f"{d}/seeds.parquet")),
        None,
        spark.read.parquet(f"{d}/robots.parquet"),
        spark.read.parquet(f"{d}/capture_history.parquet"),
        spark.read.parquet(f"{d}/docs.parquet"),
        0,
    )
    plan = rr.url_seen_delta._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"(\w+Join) \[host#\d+\], \[r_host#\d+\]", plan))


def test_shuffle_rules_path_parity(spark, tmp_path):
    """With broadcasting off (the 10^8-host design point where the rules
    table is past autoBroadcastJoinThreshold) the rules join plans as a
    shuffle join, and the crawl order stays byte-identical."""
    d = str(tmp_path / "data3")
    gen_frontier(d, n_urls=600, n_hosts=8, n_seeds=300, seed=9, budget_range=(2, 5))
    bc = run_crawl(spark, d, str(tmp_path / "sbc"), max_rounds=2, token_bucket=True)
    assert _rules_joins(spark, d) == {"BroadcastHashJoin"}
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        sh = run_crawl(spark, d, str(tmp_path / "ssh"), max_rounds=2, token_bucket=True)
        joins = _rules_joins(spark, d)
    finally:
        spark.conf.set(key, prev)
    assert joins and "BroadcastHashJoin" not in joins
    assert _orders(spark, bc) == _orders(spark, sh)
    assert bc.counters() == sh.counters()
