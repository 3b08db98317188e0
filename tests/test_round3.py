"""Round-3 behaviors: broadcast bound gating, ignore_exception,
callback-family inheritance, inbox-vs-follow duplicate admission, and the
deferred fetch_log label."""

import pytest
from pyspark.sql import functions as F

from acrawler_spark.operators.items import FieldRule, ItemSpec
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine, build_fetch_join
from acrawler_spark.sources.store import CheckpointStore

from tests.oracle import OracleCrawl


def _corpus(spark, rows):
    """rows: [(url, html_str)] -> corpus DataFrame."""
    return spark.createDataFrame(
        [(u, h.encode("utf-8"), "utf-8", "en") for u, h in rows],
        "url string, html binary, encoding string, lang string",
    )


def _run(spark, tmp_path, cfg, corpus):
    store = CheckpointStore(str(tmp_path / "state"), spark)
    engine = CrawlEngine(spark, cfg, store)
    history = engine.run(corpus)
    return store, history


# -- broadcast bound (VERDICT r2 #2 / ADVICE #1) ---------------------------

def test_broadcast_hint_gated_by_bound(spark):
    """bounded=False (no cap, frontier above BROADCAST_MAX_ROWS) must leave
    NO broadcast hint in the fetch-join plan — an unbounded selected set
    can never be forced driver-side; bounded=True hints it."""
    from acrawler_spark.operators.frontier import seeds_frontier

    sel = seeds_frontier(spark, ["http://a.test/x"], 0.0).withColumn(
        "rank", F.lit(1).cast("long")
    )
    corpus = _corpus(spark, [("http://a.test/x", "<p>hi</p>")])
    cfg = CrawlConfig()  # no round_cap, no budgets

    plan_free = build_fetch_join(
        sel, corpus, [c for c in sel.columns if c != "rank"], cfg, bounded=False
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan_free.lower()

    plan_hint = build_fetch_join(
        sel, corpus, [c for c in sel.columns if c != "rank"], cfg, bounded=True
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_hint.lower()


def test_unbounded_config_crawls_without_forced_broadcast(spark, tmp_path, monkeypatch):
    """A no-budget/no-cap config with the bound forced past the frontier
    size still crawls correctly (AQE plans from runtime stats)."""
    import acrawler_spark.plans.engine as engine

    # bound can never be proven -> no hint
    monkeypatch.setattr(engine, "BROADCAST_MAX_ROWS", 0)
    rows = [
        ("http://a.test/0", '<a href="http://a.test/1">n</a>'),
        ("http://a.test/1", "<p>leaf</p>"),
    ]
    cfg = CrawlConfig(
        seeds=["http://a.test/0"],
        follow_patterns=[r"a\.test"],
        bloom_bits=1 << 12,
    )
    store, history = _run(spark, tmp_path, cfg, _corpus(spark, rows))
    log = store.read_appended("fetch_log")
    assert log.filter(F.col("ok")).count() == 2


# -- ignore_exception (task.py:51) -----------------------------------------

def test_ignore_exception_skips_retry_ladder(spark, tmp_path):
    seeds = [
        {"url": "http://a.test/miss-fast", "ignore_exception": True},
        "http://a.test/miss-slow",
    ]
    cfg = CrawlConfig(seeds=seeds, max_tries=2, bloom_bits=1 << 12)
    store, history = _run(spark, tmp_path, cfg, _corpus(spark, []))

    oracle = OracleCrawl([], seeds, [], max_tries=2)
    expected = oracle.run()

    log = store.read_appended("fetch_log")
    # ignore_exception: exactly one attempt, then failed
    assert log.filter(F.col("url_canon") == "http://a.test/miss-fast").count() == 1
    # normal miss: 1 + max_tries attempts
    assert log.filter(F.col("url_canon") == "http://a.test/miss-slow").count() == 3
    got_failed = sorted(r["url_canon"] for r in store.read_appended("failed").collect())
    assert got_failed == sorted(expected.failed)
    # engine counters match the oracle's lifecycle arithmetic
    for h in history:
        got = {k: v for k, v in h.items() if k not in ("timing", "wall_s")}
        assert got == expected.fetch_counts[h["round"]], h


# -- callback-family inheritance (http.py:102-104, 387-435) ----------------

def test_callback_family_inherited_by_followed_children(spark, tmp_path):
    """Listing pages parse with spec A, detail pages with spec B, and
    pagination/follow children INHERIT the parent's callback chain."""
    rows = [
        # listing seed -> page2 (pagination) -> page3; all carry a title
        ("http://l.test/0", '<span class="t">L0</span><a href="http://l.test/1">next</a>'),
        ("http://l.test/1", '<span class="t">L1</span><a href="http://l.test/2">next</a>'),
        ("http://l.test/2", '<span class="t">L2</span>'),
        # detail seed -> one child
        ("http://d.test/0", '<span class="t">D0</span><a href="http://d.test/1">x</a>'),
        ("http://d.test/1", '<span class="t">D1</span>'),
    ]
    cfg = CrawlConfig(
        seeds=[
            {"url": "http://l.test/0", "callback_family": "listing"},
            {"url": "http://d.test/0", "callback_family": "detail"},
        ],
        follow_patterns=[r"(l|d)\.test"],
        bloom_bits=1 << 12,
        item_specs=[
            ItemSpec(
                family="L",
                fields={"t": FieldRule("span.t::text")},
                callback_family="listing",
            ),
            ItemSpec(
                family="D",
                fields={"t": FieldRule("span.t::text")},
                callback_family="detail",
            ),
        ],
    )
    store, _ = _run(spark, tmp_path, cfg, _corpus(spark, rows))
    items = store.read_appended("items").filter(F.col("family").isin("L", "D"))
    got = {(r.family, r.url): r.content["t"] for r in items.collect()}
    assert got == {
        ("L", "http://l.test/0"): "L0",
        ("L", "http://l.test/1"): "L1",  # inherited through pagination
        ("L", "http://l.test/2"): "L2",  # inherited two hops deep
        ("D", "http://d.test/0"): "D0",
        ("D", "http://d.test/1"): "D1",
    }


# -- inbox seed vs same-round follow (ADVICE #2) ---------------------------

def test_inbox_seed_and_same_round_link_fetch_once(spark, tmp_path):
    """A URL arriving via the seeds inbox in the same round a crawled page
    links to it must be fetched exactly once (the frontier holds one row
    per fingerprint; the old rewrite could re-admit the followed copy)."""
    from acrawler_spark.streaming.seeds import push_start_urls

    inbox = str(tmp_path / "inbox")
    push_start_urls(inbox, ["http://a.test/child"])
    rows = [
        ("http://a.test/root", '<a href="http://a.test/child">c</a>'),
        ("http://a.test/child", "<p>leaf</p>"),
    ]
    cfg = CrawlConfig(
        seeds=["http://a.test/root"],
        follow_patterns=[r"a\.test"],
        seeds_inbox=inbox,
        max_rounds=6,
        bloom_bits=1 << 12,
    )
    store, _ = _run(spark, tmp_path, cfg, _corpus(spark, rows))
    per_url = (
        store.read_appended("fetch_log").groupBy("url_canon").count().collect()
    )
    assert {r["url_canon"]: r["count"] for r in per_url} == {
        "http://a.test/root": 1,
        "http://a.test/child": 1,
    }


# -- deferred rows in fetch_log (ADVICE #5) --------------------------------

def test_deferred_rows_labeled_not_failed(spark, tmp_path):
    def defer_first(df, ctx):
        return df.withColumn(
            "_defer_s",
            F.when(
                (F.col("url_canon") == "http://a.test/slow") & (F.col("tries") == 0),
                F.lit(2.0),
            ),
        )

    rows = [("http://a.test/slow", "<p>ok</p>")]
    cfg = CrawlConfig(
        seeds=["http://a.test/slow"],
        handlers={"before_parse": [(100, defer_first)]},
        max_rounds=8,
        bloom_bits=1 << 12,
    )
    store, _ = _run(spark, tmp_path, cfg, _corpus(spark, rows))
    log = store.read_appended("fetch_log").orderBy("round").collect()
    assert [r["error"] for r in log] == ["<deferred>", None]
    assert [r["ok"] for r in log] == [False, True]
