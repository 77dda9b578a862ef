"""End-to-end frontier test: Spark scheduling rounds vs the
single-threaded oracle — fetch order, URL-seen set, statuses, counters
must match EXACTLY (SURVEY §5 rebuild test plan b/d)."""

from __future__ import annotations

import os

import pytest

from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import run_crawl
from sandcrawler_spark.plans.oracle import run_oracle


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frontier_data"))
    gen_frontier(d, n_urls=800, n_hosts=25, n_seeds=200, seed=7)
    return d


def _spark_orders(store):
    orders = []
    for r in store.committed_rounds:
        df = store.read_round_table(r, "fetch_order")
        rows = df.orderBy("rank").collect()
        orders.append([row["canonical_url"] for row in rows])
    return orders


def _spark_seen(store):
    df = store.read_table("url_seen")
    return {
        (r["ingest_type"], r["canonical_url"]): {
            "hit": r["hit"],
            "status": r["status"],
            "terminal_url": r["terminal_url"],
            "terminal_dt": r["terminal_dt"],
            "terminal_status_code": r["terminal_status_code"],
            "terminal_sha1hex": r["terminal_sha1hex"],
            "round_id": r["round_id"],
        }
        for r in df.collect()
    }


def test_spark_matches_oracle(spark, fixture_dir, tmp_path):
    rounds = 3
    oracle = run_oracle(fixture_dir, max_rounds=rounds)
    store = run_crawl(
        spark, fixture_dir, str(tmp_path / "state"), max_rounds=rounds, use_bloom=True
    )

    spark_orders = _spark_orders(store)
    assert len(spark_orders) == len(oracle.fetch_orders)
    for r, (got, want) in enumerate(zip(spark_orders, oracle.fetch_orders)):
        assert got == want, f"fetch order diverged in round {r}"

    got_seen = _spark_seen(store)
    want_seen = oracle.url_seen
    assert set(got_seen) == set(want_seen)
    for k in want_seen:
        for f in ("hit", "status", "terminal_url", "terminal_dt",
                  "terminal_status_code", "terminal_sha1hex", "round_id"):
            assert got_seen[k][f] == want_seen[k][f], (k, f, got_seen[k], want_seen[k])

    # counters parity (per-status + scheduled)
    sc = store.counters()
    for r, want in enumerate(oracle.counters):
        got = {
            k: v
            for k, v in sc[str(r)].items()
            if k.startswith("status:") or k == "scheduled"
        }
        assert got == want, f"counters diverged in round {r}"


def test_resume_identical(spark, fixture_dir, tmp_path):
    """Kill/resume (SURVEY §5 d): run 1 round, 'crash', resume for 2 more
    → identical to a straight 3-round run."""
    full = run_crawl(spark, fixture_dir, str(tmp_path / "full"), max_rounds=3)
    part = run_crawl(spark, fixture_dir, str(tmp_path / "part"), max_rounds=1)
    part = run_crawl(
        spark, fixture_dir, str(tmp_path / "part"), max_rounds=3, resume=True
    )
    assert _spark_orders(full) == _spark_orders(part)
    assert _spark_seen(full) == _spark_seen(part)


def test_resume_after_torn_uncommitted_writes(spark, fixture_dir, tmp_path):
    """Crash INSIDE the write window (round 4 submits all per-round
    table writes concurrently, so any subset can have landed when the
    process dies before commit): resume must overwrite the torn,
    uncommitted round files and reproduce the straight run exactly —
    the manifest, not the files on disk, is the commit point."""
    from pyspark.sql import functions as F

    from sandcrawler_spark.plans.state import SnapshotStore

    full = run_crawl(spark, fixture_dir, str(tmp_path / "full"), max_rounds=3)
    part_dir = str(tmp_path / "part")
    part = run_crawl(spark, fixture_dir, part_dir, max_rounds=1)
    # simulate a torn round 1: one table written with GARBAGE rows (a
    # half-finished job's output), another missing, nothing committed
    store = SnapshotStore(part_dir, spark)
    garbage = spark.range(5).select(
        F.lit("pdf").alias("ingest_type"),
        F.concat(F.lit("http://torn.example/"), F.col("id")).alias("canonical_url"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(False).alias("hit"),
        F.lit("success").alias("status"),
        F.lit(None).cast("string").alias("terminal_url"),
        F.lit(None).cast("string").alias("terminal_dt"),
        F.lit(None).cast("int").alias("terminal_status_code"),
        F.lit(None).cast("string").alias("terminal_sha1hex"),
        F.lit(1).alias("round_id"),
        F.lit(False).alias("forced"),
        F.lit(0).alias("generation"),
    )
    store.write_table(1, "url_seen", garbage)
    part = run_crawl(spark, fixture_dir, part_dir, max_rounds=3, resume=True)
    assert _spark_orders(full) == _spark_orders(part)
    assert _spark_seen(full) == _spark_seen(part)


def test_no_bloom_same_result(spark, fixture_dir, tmp_path, monkeypatch):
    """Bloom is a prefilter only — disabling it must not change results,
    whichever probe form (sideload or cogrouped) the store picks."""
    from sandcrawler_spark.operators import bloom

    with_b = run_crawl(spark, fixture_dir, str(tmp_path / "b1"), max_rounds=2, use_bloom=True)
    no_b = run_crawl(spark, fixture_dir, str(tmp_path / "b0"), max_rounds=2, use_bloom=False)
    assert _spark_orders(with_b) == _spark_orders(no_b)
    assert _spark_seen(with_b) == _spark_seen(no_b)
    monkeypatch.setattr(bloom, "SIDELOAD_MAX_BYTES", 0)
    cogrouped = run_crawl(spark, fixture_dir, str(tmp_path / "b2"), max_rounds=2)
    assert _spark_orders(cogrouped) == _spark_orders(no_b)
    assert _spark_seen(cogrouped) == _spark_seen(no_b)


def test_compaction_digest_neutral_and_bounded_input(spark, fixture_dir, tmp_path):
    """Frontier compaction must not change ANY observable result (fetch
    orders, URL-seen set) while keeping per-round candidate-scan input
    O(active frontier) instead of O(cumulative additions)."""
    rounds = 6
    plain = run_crawl(
        spark, fixture_dir, str(tmp_path / "nc"), max_rounds=rounds,
        compact_factor=None,
    )
    compacted = run_crawl(
        spark, fixture_dir, str(tmp_path / "cc"), max_rounds=rounds,
        compact_factor=0.0, compact_min_rows=1,  # compact every round
    )
    assert compacted.compaction is not None  # it actually ran
    assert _spark_orders(plain) == _spark_orders(compacted)
    assert _spark_seen(plain) == _spark_seen(compacted)

    rs = sorted(map(int, plain.counters()))
    plain_in = [plain.counters()[str(r)]["frontier_input_rows"] for r in rs]
    comp_in = [compacted.counters()[str(r)]["frontier_input_rows"] for r in rs]
    # append-only input grows monotonically; compacted input tracks the
    # shrinking active frontier — strictly smaller once state accumulates
    assert all(c <= p for c, p in zip(comp_in, plain_in))
    assert comp_in[-1] < plain_in[-1]


def test_politeness_keeps_unselected(spark):
    """Regression: phase-1 salt overflow must remain in the output as
    unselected rows (they are next round's frontier), while selection
    stays exactly the per-host top-budget."""
    from pyspark.sql import functions as F

    from sandcrawler_spark.plans.frontier import _politeness_select

    rows = [
        ("pdf", f"http://hot.example.org/p{i:03d}", "hot.example.org",
         0, 1.0 - i / 100.0, 0, [], i, False, 2)
        for i in range(40)  # 40 candidates, budget 2 → heavy salt overflow
    ]
    df = spark.createDataFrame(
        rows,
        "ingest_type string, canonical_url string, host string, priority int, "
        "citation_priority double, depth int, hops array<string>, seq long, "
        "force_recrawl boolean, host_budget int",
    )
    out = _politeness_select(df).collect()
    assert len(out) == 40  # nothing dropped
    sel = sorted(r["canonical_url"] for r in out if r["selected"])
    assert sel == ["http://hot.example.org/p000", "http://hot.example.org/p001"]


def test_bucketed_seen_digest_neutral_and_resume(spark, fixture_dir, tmp_path):
    """bucketed_seen=True (url_seen folded into a catalog-bucketed base,
    exact confirm anti-joins base and deltas separately) must not change
    ANY observable result, and must resume across the compaction point
    (re-registration of the bucketed table from its sidecar spec)."""
    rounds = 6
    plain = run_crawl(
        spark, fixture_dir, str(tmp_path / "pb"), max_rounds=rounds,
        compact_factor=None,
    )
    bucketed = run_crawl(
        spark, fixture_dir, str(tmp_path / "bb"), max_rounds=rounds,
        compact_factor=0.0, compact_min_rows=1, bucketed_seen=True,
    )
    assert bucketed.seen_compaction is not None  # it actually ran
    assert _spark_orders(plain) == _spark_orders(bucketed)
    assert _spark_seen(plain) == _spark_seen(bucketed)

    # resume path: continue a bucketed crawl past its compaction point
    # in a fresh catalog state (drop the table to simulate a restart —
    # read_bucketed must re-register from the sidecar spec)
    part = run_crawl(
        spark, fixture_dir, str(tmp_path / "rb"), max_rounds=3,
        compact_factor=0.0, compact_min_rows=1, bucketed_seen=True,
    )
    sc = part.seen_compaction
    assert sc is not None
    spark.sql(f"DROP TABLE IF EXISTS {sc['catalog']}")
    part = run_crawl(
        spark, fixture_dir, str(tmp_path / "rb"), max_rounds=rounds,
        compact_factor=0.0, compact_min_rows=1, bucketed_seen=True,
        resume=True,
    )
    assert _spark_orders(part) == _spark_orders(plain)
    assert _spark_seen(part) == _spark_seen(plain)


def test_recrawl_into_recreated_state_dir(spark, fixture_dir, tmp_path):
    """A state dir deleted and recreated within one driver must crawl
    exactly like a fresh path: the bloom probe may not reuse bitmaps
    the Python workers cached for the earlier crawl's store."""
    import shutil

    other = str(tmp_path / "other_data")
    gen_frontier(other, n_urls=800, n_hosts=25, n_seeds=200, seed=8)
    reused = str(tmp_path / "reused")
    run_crawl(spark, other, reused, max_rounds=2)
    shutil.rmtree(reused)
    again = run_crawl(spark, fixture_dir, reused, max_rounds=2)
    fresh = run_crawl(spark, fixture_dir, str(tmp_path / "fresh"), max_rounds=2)
    assert again.counters() == fresh.counters()
    assert _spark_seen(again) == _spark_seen(fresh)


def test_best_capture_null_fields_match_capture_rank_key(spark):
    """NULL status, mimetype and warc_path rank exactly as in
    priority.capture_rank_key (the oracle's ranking), not NULLS LAST."""
    import random

    from sandcrawler_spark.plans.frontier import _best_capture
    from sandcrawler_spark.plans.priority import capture_rank_key

    best = {"pdf": "application/pdf", "html": "text/html"}
    rng = random.Random(11)
    fetch, caps = [], []
    for i in range(60):
        itype = "pdf" if i % 2 else "html"
        url = f"http://h{i % 5}.example/p{i}"
        fetch.append((itype, url))
        for j in range(rng.randint(2, 6)):
            caps.append((
                url,
                rng.choice(["20200101000000", "20210101000000"]),
                rng.choice([None, best[itype], "text/plain", "warc/revisit"]),
                rng.choice([None, 200, 226, 404, 302]),
                f"{i:03d}{j}",
                rng.choice([None, "a/b.warc.gz", "b.warc.gz"]),
                None,
            ))
    fetch_df = spark.createDataFrame(fetch, "ingest_type string, canonical_url string")
    caps_df = spark.createDataFrame(
        caps,
        "url string, datetime string, mimetype string, status_code int, "
        "sha1hex string, warc_path string, location string",
    )
    got = {
        r["canonical_url"]: r["cap_sha1hex"]
        for r in _best_capture(fetch_df, caps_df).collect()
    }
    want = {}
    for itype, url in fetch:
        mine = [c for c in caps if c[0] == url]
        want[url] = max(
            mine,
            key=lambda c: capture_rank_key(
                c[0], url, c[3], c[2], best[itype], c[1], c[5], c[4]
            ),
        )[4]
    assert got == want
