"""Fluent builder API + sinks: file sink skip-if-exists, upsert, handlers."""

import pytest
from pyspark.sql import functions as F

from acrawler_spark.api import Crawl
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.sinks import FileSink, upsert_last_wins


def test_fluent_crawl_with_items_and_handler(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    seen_rounds = []

    def tag_handler(df, ctx):
        seen_rounds.append(ctx["round"])
        return df

    store = (
        Crawl(seeds=seed_urls(2), bloom_bits=1 << 14)
        .follow(r"site\d+\.test", limit=10)
        .budget(per_host=8)
        .spawn(
            "page",
            url_pattern=r"/p/\d+$",
            title=("h1.title::text", ["strip"]),
            reviews=("span.reviews::text", ["to_int"]),
        )
        .handler("after_parse", tag_handler)
        .run(spark, corpus, str(tmp_path / "crawl"))
    )
    items = store.read_appended("items")
    page_items = items.filter(F.col("family") == "page")
    assert page_items.count() > 5
    row = page_items.filter(F.col("url") == "http://site0.test/p/2").first()
    assert row.content["title"] == "Doc 2"
    assert row.content["reviews"] == "7"
    # query pages (?a=1&b=2) excluded by url_pattern
    assert page_items.filter(F.col("url").contains("?")).count() == 0
    # handler ran every round
    assert len(seen_rounds) >= 2


def test_file_sink_skip_if_exists(spark, tmp_path):
    sink = FileSink(str(tmp_path / "files"), spark)
    b1 = spark.createDataFrame(
        [("f1", "u1", b"aaa"), ("f2", "u2", b"bbb")],
        "fingerprint string, url string, payload binary",
    )
    sink.write_new(1, b1)
    # second batch overlaps f2 -> only f3 written
    b2 = spark.createDataFrame(
        [("f2", "u2", b"bbb2"), ("f3", "u3", b"ccc")],
        "fingerprint string, url string, payload binary",
    )
    sink.write_new(2, b2)
    data = sink.data()
    assert data.count() == 3
    assert data.filter(F.col("fingerprint") == "f2").count() == 1
    payload = bytes(data.filter(F.col("fingerprint") == "f2").first().payload)
    assert payload == b"bbb"  # first write wins; duplicate skipped


def test_upsert_last_wins(spark):
    existing = spark.createDataFrame([(1, 10, "a"), (2, 5, "b")], "k int, v int, x string")
    incoming = spark.createDataFrame([(1, 12, "a2"), (3, 1, "c")], "k int, v int, x string")
    out = upsert_last_wins(existing, incoming, key="k", version="v")
    rows = {r.k: (r.v, r.x) for r in out.collect()}
    assert rows == {1: (12, "a2"), 2: (5, "b"), 3: (1, "c")}


def test_config_rejects_unknown_name():
    crawl = Crawl(seeds=seed_urls(1)).config(max_rounds=3, use_bloom=False)
    assert (crawl._cfg.max_rounds, crawl._cfg.use_bloom) == (3, False)
    # a misspelt (or removed) field must fail loudly, not ride along unused
    with pytest.raises(TypeError, match="max_round"):
        crawl.config(max_round=5)
    assert crawl._cfg.max_rounds == 3
