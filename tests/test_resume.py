"""Kill-and-resume: a crawl stopped mid-run resumes from the last committed
round and produces exactly the state of an uninterrupted run (SURVEY §5.4;
reference analog: persistent crawl + shutdown put-back, crawler.py:558-638)."""

import os
import shutil
import time
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore
from acrawler_spark.streaming.seeds import push_start_urls

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
    frontier = sorted(str(r.asDict(recursive=True)) for r in store.read_frontier().collect())
    return seen, items, sched, frontier


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


def test_crash_with_prefetch_in_flight_resumes_exactly(spark, tmp_path):
    """The process dies in round 2's commit, after round 3's prefetched head
    staged its pages delta and before the manifest bump. A resumed engine
    drops the staged files of both uncommitted rounds, so a run that stops
    at round 2 leaves no round-3 directory, and the crawl then finishes in
    exactly the uninterrupted crawl's state."""
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, _cfg(), s_full).run(corpus)

    root = str(tmp_path / "part")
    store = CheckpointStore(root, spark)
    e1 = CrawlEngine(spark, _cfg(), store)
    commit = store.commit_round

    def dying_commit(rnd, extra=None):
        if rnd == 2:
            e1._prefetch.fut.result()  # round 3's head staged its pages
            raise RuntimeError("killed in round 2's commit")
        commit(rnd, extra)

    store.commit_round = dying_commit
    pending = []
    # a killed process retires nothing: the stub only waits for the job
    e1.discard_prefetch = lambda: pending.append(e1._prefetch) or e1._prefetch.fut.result()
    with pytest.raises(RuntimeError, match="killed"):
        e1.run(corpus)
    assert pending[0].rnd == 3
    assert os.path.isdir(os.path.join(root, "pages", "delta_round=3"))

    s_resume = CheckpointStore(root, spark)
    assert s_resume.last_round == 1
    CrawlEngine(spark, _cfg(), s_resume).run(corpus, max_rounds=2)
    assert s_resume.last_round == 2
    for stale in ("pages/delta_round=3", "frontier/round=3"):
        assert not os.path.exists(os.path.join(root, stale)), stale

    CrawlEngine(spark, _cfg(), s_resume).run(corpus)
    assert _final_state(s_resume) == _final_state(s_full)


def test_crash_mid_commit_waits_for_sibling_writes(spark, tmp_path):
    """Round 2's frontier-core write fails at once while its seen write is
    still running (it starts 3 s late). The failed commit waits for every
    write it submitted: run() raises only after the seen delta is complete,
    the manifest stays at round 1, and a fresh engine resumes to exactly
    the uninterrupted crawl's state."""
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, _cfg(), s_full).run(corpus)

    root = str(tmp_path / "part")
    store = CheckpointStore(root, spark)
    write_delta, write_frontier = store.write_delta, store.write_frontier

    def slow_seen(table, rnd, df):
        if rnd == 2 and table == "seen":
            time.sleep(3)
        write_delta(table, rnd, df)

    def failing_frontier_core(rnd, df):
        if rnd == 2:
            raise RuntimeError("frontier core write failed")
        write_frontier(rnd, df)

    store.write_delta = slow_seen
    store.write_frontier = failing_frontier_core
    with pytest.raises(RuntimeError, match="frontier core write failed"):
        CrawlEngine(spark, _cfg(), store).run(corpus, max_rounds=2)
    assert os.path.exists(os.path.join(root, "seen", "delta_round=2", "_SUCCESS")), (
        "run() raised while the seen write was still running"
    )
    s_resume = CheckpointStore(root, spark)
    assert s_resume.last_round == 1
    CrawlEngine(spark, _cfg(), s_resume).run(corpus)
    assert _final_state(s_resume) == _final_state(s_full)


@pytest.mark.parametrize("kill_at", ["pages", "seen"])
def test_kill_inside_a_round_resumes_exactly(spark, tmp_path, kill_at):
    """The process dies inside round 2, which drains an inbox seed drop:
    ``pages`` kills it after the staged selection and before the pages
    write, ``seen`` after the frontier's admitted part and before the seen
    write. A killed process removes nothing, so the round's staged
    selection, inbox seeds (and admitted part) are left behind. A fresh
    engine drops them before it runs a round, and the crawl then finishes
    in exactly the uninterrupted crawl's state, the inbox seed fetched
    once."""
    corpus = fixture_corpus_df(spark, n_hosts=3, depth=2, fanout=3)
    inbox_url = "http://site2.test/p/0"

    def start(root):
        cfg = replace(_cfg(), seeds_inbox=root + "_inbox")
        store = CheckpointStore(root, spark)
        engine = CrawlEngine(spark, cfg, store)
        engine.bootstrap()
        engine.run_round(1, corpus)
        push_start_urls(cfg.seeds_inbox, [inbox_url])
        return cfg, store, engine

    _, s_full, e_full = start(str(tmp_path / "full"))
    e_full.run(corpus)

    root = str(tmp_path / "part")
    cfg, store, e1 = start(root)
    write_delta = store.write_delta

    def dying_write(table, rnd, df):
        if (table, rnd) == (kill_at, 2):
            raise RuntimeError("killed in round 2")
        write_delta(table, rnd, df)

    store.write_delta = dying_write
    store.abort_uncommitted = lambda rnd: None  # a killed process cleans nothing
    with pytest.raises(RuntimeError, match="killed"):
        e1.run(corpus)
    staged = ["selected/delta_round=2", "inbox/delta_round=2"]
    if kill_at == "seen":
        staged.append("frontier/admitted_round=2")
    for d in staged:
        assert os.path.isdir(os.path.join(root, d)), d

    s_resume = CheckpointStore(root, spark)
    CrawlEngine(spark, cfg, s_resume).run(corpus, max_rounds=1)
    assert s_resume.last_round == 1
    for d in staged:
        assert not os.path.exists(os.path.join(root, d)), f"stale {d}"

    CrawlEngine(spark, cfg, s_resume).run(corpus)
    assert _final_state(s_resume) == _final_state(s_full)
    log = s_resume.read_appended("fetch_log")
    assert log.filter(F.col("url_canon") == inbox_url).count() == 1
