"""Kill-and-resume: a crawl stopped mid-run resumes from the last committed
round and produces exactly the state of an uninterrupted run (SURVEY §5.4;
reference analog: persistent crawl + shutdown put-back, crawler.py:558-638)."""

import shutil

from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore

FOLLOW = [r"site\d+\.test"]


def _cfg():
    return CrawlConfig(seeds=seed_urls(2), follow_patterns=FOLLOW, bloom_bits=1 << 14)


def _final_state(store):
    seen = {r["fingerprint"] for r in store.read_appended("seen").collect()}
    items = {
        (r["url"], r["extracted_text"]) for r in store.read_appended("items").collect()
    }
    sched = {
        (r["round"], r["rank"], r["url_canon"])
        for r in store.read_appended("fetch_log").collect()
    }
    return seen, items, sched


def test_kill_and_resume_identical(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)

    # uninterrupted run
    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, _cfg(), s_full).run(corpus)

    # interrupted run: stop after 2 rounds, then resume with a fresh engine
    s_part = CheckpointStore(str(tmp_path / "part"), spark)
    e1 = CrawlEngine(spark, _cfg(), s_part)
    e1.bootstrap()
    e1.run_round(1, corpus)
    e1.run_round(2, corpus)
    # simulate a crash mid-round-3: stage some files without committing
    e1.store.write_delta("items", 3, s_part.read_appended("items").limit(1))
    del e1
    entries_before = s_part.read_manifest()["rounds"]

    s_resume = CheckpointStore(str(tmp_path / "part"), spark)
    assert s_resume.last_round == 2
    e2 = CrawlEngine(spark, _cfg(), s_resume)
    e2.run(corpus)

    assert _final_state(s_resume) == _final_state(s_full)

    # every round's manifest entry carries its round profile (stage walls
    # and mode), the pre-crash rounds' entries survive the resume, and the
    # stage walls fit inside the round's wall
    entries = s_resume.read_manifest()["rounds"]
    assert s_resume.last_round > 2
    for rnd in ("1", "2"):
        assert entries[rnd] == entries_before[rnd]
    for rnd in range(1, s_resume.last_round + 1):
        timing = entries[str(rnd)]["timing"]
        assert timing["mode"] in ("inline", "prefetch"), timing
        walls = sum(
            timing[k]
            for k in ("pages_stage", "misses_stage", "commit_dag_build", "commit_writes")
        )
        assert walls <= entries[str(rnd)]["wall_ms"] / 1000 + 0.05, (rnd, timing)


def test_bloom_sidecar_survives_resume(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=1, fanout=2)
    store = CheckpointStore(str(tmp_path / "s"), spark)
    e = CrawlEngine(spark, _cfg(), store)
    e.bootstrap()
    e.run_round(1, corpus)
    # a fresh engine instance reloads the sidecar from disk and must not
    # re-admit already-seen urls
    e2 = CrawlEngine(spark, _cfg(), CheckpointStore(str(tmp_path / "s"), spark))
    e2.run(corpus)
    log = e2.store.read_appended("fetch_log")
    per_url = log.groupBy("url_canon").count().filter("count > 1").count()
    assert per_url == 0  # nothing fetched twice (no recrawl configured)
