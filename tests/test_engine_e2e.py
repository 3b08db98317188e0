"""End-to-end: the Spark engine must match the hermetic reference oracle on
crawl order, final seen set, extracted text (byte-identical), and the
retry/failure lifecycle — on the deterministic fixture page graph."""

import pytest
from pyspark.sql import functions as F

from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import build_fixture_pages, fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore

from tests.oracle import OracleCrawl

FOLLOW = [r"site\d+\.test"]  # follow only corpus hosts (excludes js/mailto/#)


def run_both(spark, tmp_path, *, n_hosts=3, depth=2, fanout=3, use_bloom=True, **cfg_kw):
    pages = build_fixture_pages(n_hosts=n_hosts, depth=depth, fanout=fanout)
    corpus = fixture_corpus_df(spark, n_hosts=n_hosts, depth=depth, fanout=fanout)
    seeds = seed_urls(n_hosts)

    cfg = CrawlConfig(seeds=seeds, follow_patterns=FOLLOW, use_bloom=use_bloom,
                      bloom_bits=1 << 14, **cfg_kw)
    store = CheckpointStore(str(tmp_path / "state"), spark)
    engine = CrawlEngine(spark, cfg, store)
    history = engine.run(corpus)

    oracle = OracleCrawl(
        pages, seeds, FOLLOW,
        max_tries=cfg.max_tries,
        uniform_budget=cfg.effective_host_budget(),
        special_budgets=cfg.special_host_budgets,
        round_cap=cfg.round_cap,
        t0=cfg.t0,
        round_seconds=cfg.round_seconds,
        seed_recrawl=cfg.seed_recrawl,
        max_depth=cfg.max_depth,
    )
    expected = oracle.run(max_rounds=cfg.max_rounds)
    return engine, store, history, expected, pages


def assert_match(spark, store, history, expected):
    # per-round schedule order (rank within round)
    log = store.read_appended("fetch_log").select("round", "rank", "url_canon").collect()
    got_schedule = {}
    for r in log:
        got_schedule.setdefault(r["round"], []).append((r["rank"], r["url_canon"]))
    got_schedule = {k: [u for _, u in sorted(v)] for k, v in got_schedule.items()}
    assert got_schedule == expected.schedule

    # final seen set
    got_seen = {r["fingerprint"] for r in store.read_appended("seen").collect()}
    assert got_seen == expected.seen

    # byte-identical extracted text per url
    got_items = {
        r["url"]: r["extracted_text"]
        for r in store.read_appended("items").collect()
    }
    assert got_items == expected.items

    # failure lifecycle
    failed_df = store.read_appended("failed")
    got_failed = sorted(r["url_canon"] for r in failed_df.collect()) if failed_df is not None else []
    assert got_failed == sorted(expected.failed)

    # per-round counters (timing/wall_s are engine-side instrumentation)
    for h in history:
        got = {k: v for k, v in h.items() if k not in ("timing", "wall_s")}
        assert got == expected.fetch_counts[h["round"]], h


def test_unbounded_crawl_matches_oracle(spark, tmp_path):
    import os

    engine, store, history, expected, pages = run_both(spark, tmp_path)
    assert_match(spark, store, history, expected)
    # sanity: the crawl actually covered the graph (3 hosts x 13 pages,
    # minus unreachable-by-pattern none) and hit the dead-link retry path
    assert sum(h["ok"] for h in history) > 30
    assert sum(h["failed"] for h in history) > 0
    # 16 Bloom buckets under local[4]: the Bloom build runs one task per
    # core, so every seen delta (bootstrap + one per round) has at most
    # defaultParallelism files
    width = spark.sparkContext.defaultParallelism
    assert engine.cfg.bloom_buckets > width
    seen_root = os.path.join(store.root, "seen")
    deltas = [d for d in os.listdir(seen_root) if d.startswith("delta_round=")]
    assert len(deltas) == len(history) + 1
    for d in deltas:
        files = [f for f in os.listdir(os.path.join(seen_root, d)) if f.endswith(".parquet")]
        assert len(files) <= width, (d, files)


def test_extracted_text_equals_corpus_oracle_column(spark, tmp_path):
    """items.extracted_text must equal the corpus 'text' column byte-for-byte
    (FIXTURES §4) — including latin-1 and broken-utf8 pages."""
    engine, store, history, expected, pages = run_both(spark, tmp_path, n_hosts=2, depth=3)
    items = store.read_appended("items").select("url", "extracted_text")
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=3, fanout=3).select(
        "url", F.col("text").alias("expected_text")
    )
    joined = items.join(corpus, "url", "inner")
    assert joined.count() == items.count()
    mismatches = joined.filter(F.col("extracted_text") != F.col("expected_text")).count()
    assert mismatches == 0


def test_politeness_budget_matches_oracle(spark, tmp_path):
    engine, store, history, expected, _ = run_both(
        spark, tmp_path,
        max_requests_per_host=2,
        special_host_budgets={"site1": 1},
    )
    assert_match(spark, store, history, expected)
    # the hot host really was capped at 1/round
    log = store.read_appended("fetch_log")
    per_round_host = (
        log.filter(F.col("host").contains("site1"))
        .groupBy("round").count().collect()
    )
    assert per_round_host and all(r["count"] <= 1 for r in per_round_host)


def test_round_cap_matches_oracle(spark, tmp_path):
    engine, store, history, expected, _ = run_both(spark, tmp_path, round_cap=5)
    assert_match(spark, store, history, expected)
    assert all(h["selected"] <= 5 for h in history)


def test_no_bloom_same_result(spark, tmp_path):
    e1 = run_both(spark, tmp_path / "a", use_bloom=True)
    e2 = run_both(spark, tmp_path / "b", use_bloom=False)
    assert e1[3].schedule == e2[3].schedule  # same oracle
    s1 = {r["fingerprint"] for r in e1[1].read_appended("seen").collect()}
    s2 = {r["fingerprint"] for r in e2[1].read_appended("seen").collect()}
    assert s1 == s2


def test_recrawl_reenqueues(spark, tmp_path):
    engine, store, history, expected, _ = run_both(
        spark, tmp_path, n_hosts=2, depth=1, seed_recrawl=3, max_rounds=8,
    )
    # seeds fetched more than once (recrawl>0 bypasses dedup:
    # crawler.py:122-126)
    log = store.read_appended("fetch_log")
    seed_fetches = log.filter(F.col("url_canon") == "http://site0.test/p/0").count()
    assert seed_fetches >= 2
    assert_match(spark, store, history, expected)
