"""robots.txt admission (north-rule addition) + seed-inbox ingestion."""

from pyspark.sql import functions as F

from acrawler_spark.operators.robots import apply_robots, parse_robots_txt, rules_df
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore
from acrawler_spark.streaming.seeds import push_start_urls

FOLLOW = [r"site\d+\.test"]


def test_parse_robots_txt():
    body = """
# comment
User-agent: Googlebot
Disallow: /private
User-agent: *
Disallow: /p/1
Disallow: /tmp/
Crawl-delay: 2
"""
    dis, delay = parse_robots_txt(body)
    assert dis == ["/p/1", "/tmp/"]
    assert delay == 2.0


def test_apply_robots_splits(spark):
    from acrawler_spark.operators.frontier import seeds_frontier

    frontier = seeds_frontier(
        spark,
        ["http://a.test/p/1", "http://a.test/q/2", "http://b.test/p/1"],
        t0=0.0,
    )
    rules = rules_df(spark, {"a.test": {"disallow": ["/p/"]}})
    allowed, blocked = apply_robots(frontier, rules)
    assert sorted(r.url for r in allowed.collect()) == [
        "http://a.test/q/2",
        "http://b.test/p/1",  # no rules for b.test
    ]
    assert [r.url for r in blocked.collect()] == ["http://a.test/p/1"]


def test_engine_robots_blocks_subtree(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    cfg = CrawlConfig(
        seeds=seed_urls(2),
        follow_patterns=FOLLOW,
        bloom_bits=1 << 14,
        robots_rules={"site1.test": {"disallow": ["/p/"]}},
    )
    store = CheckpointStore(str(tmp_path / "s"), spark)
    CrawlEngine(spark, cfg, store).run(corpus)
    log = store.read_appended("fetch_log")
    # nothing on site1 was ever fetched; site0 crawled normally
    assert log.filter(F.col("host") == "site1.test").count() == 0
    assert log.filter(F.col("host") == "site0.test").count() > 5
    blocked = store.read_appended("robots_blocked")
    assert blocked.filter(F.col("host") == "site1.test").count() > 0


def test_crawl_delay_caps_per_round_admission(spark, tmp_path):
    """robots Crawl-delay must FOLD INTO the per-host budget (r4 verdict #3:
    previously parsed but never enforced). With round_seconds=60 and
    crawl_delay=30, site1 admits at most floor(60/30)=2 urls per round,
    so its fetches spread over more rounds than site0's."""
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)

    def rounds_per_host(tag, robots_rules):
        cfg = CrawlConfig(
            seeds=seed_urls(2),
            follow_patterns=FOLLOW,
            bloom_bits=1 << 14,
            robots_rules=robots_rules,
            round_seconds=60.0,
        )
        store = CheckpointStore(str(tmp_path / tag), spark)
        CrawlEngine(spark, cfg, store).run(corpus)
        log = store.read_appended("fetch_log")
        per_round = {
            (r.host, r.round): r.n
            for r in log.groupBy("host", "round")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        totals = {
            r.host: r.n
            for r in log.groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        return per_round, totals

    delayed, totals_d = rounds_per_host(
        "delayed", {"site1.test": {"crawl_delay": 30.0}}
    )
    free, totals_f = rounds_per_host("free", {"site1.test": {}})
    # every site1 round admits <= floor(60/30) = 2 under the delay...
    site1_rounds = {k: v for k, v in delayed.items() if k[0] == "site1.test"}
    assert site1_rounds and max(site1_rounds.values()) <= 2
    # ...but without it the same crawl admits more per round somewhere
    assert max(v for k, v in free.items() if k[0] == "site1.test") > 2
    # the cap defers, never drops: both crawls fetch the same site1 pages
    assert totals_d["site1.test"] == totals_f["site1.test"]
    # site0 (no rules) is untouched by site1's delay
    assert totals_d["site0.test"] == totals_f["site0.test"]


def test_seed_inbox_ingestion(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=3, depth=1, fanout=2)
    inbox = str(tmp_path / "inbox")
    # site2's seed arrives only via the inbox, mid-crawl
    push_start_urls(inbox, ["http://site2.test/p/0"], batch_id="b1")
    cfg = CrawlConfig(
        seeds=seed_urls(2),
        follow_patterns=FOLLOW,
        bloom_bits=1 << 14,
        seeds_inbox=inbox,
    )
    store = CheckpointStore(str(tmp_path / "s"), spark)
    CrawlEngine(spark, cfg, store).run(corpus)
    log = store.read_appended("fetch_log")
    assert log.filter(F.col("host") == "site2.test").count() > 0
    # delivered once: file moved to _consumed, re-running adds nothing
    assert not [f for f in (tmp_path / "inbox").iterdir() if f.is_file()]


def test_two_default_pushes_before_one_drain_admit_both(spark, tmp_path):
    """Two producers push with the default batch id before the crawl drains
    the inbox: both batches are admitted (the reference's SADD keeps every
    url), and both drops are consumed."""
    corpus = fixture_corpus_df(spark, n_hosts=3, depth=1, fanout=2)
    inbox = str(tmp_path / "inbox")
    push_start_urls(inbox, ["http://site1.test/p/0"])
    push_start_urls(inbox, ["http://site2.test/p/0"])
    cfg = CrawlConfig(seeds=seed_urls(1), bloom_bits=1 << 14, seeds_inbox=inbox)
    store = CheckpointStore(str(tmp_path / "s"), spark)
    CrawlEngine(spark, cfg, store).run(corpus)
    fetched = {r["url_canon"] for r in store.read_appended("fetch_log").collect()}
    assert {"http://site1.test/p/0", "http://site2.test/p/0"} <= fetched, fetched
    assert not [f for f in (tmp_path / "inbox").iterdir() if f.is_file()]
