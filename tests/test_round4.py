"""Round-4 behaviors: xpath item rules, serialized no-pseudo selectors,
follow-callback inheritance modes, media_features short-payload oracle
parity, and simhash pair semantics."""

import duckdb
import pytest
from pyspark.sql import functions as F

from acrawler_spark.functions.css import parse_rule, select, serialize, parse_html
from acrawler_spark.operators.items import FieldRule, ItemSpec
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.store import CheckpointStore


# -- xpath subset (reference item.py:318-332 accepts xpath rules) ----------

_HTML = (
    '<div id="x" class="a b"><span>hello</span> tail</div>'
    '<div class="a"><a href="/p/1">one</a><a href="/p/2" rel="next">two</a></div>'
    '<ul><li data-k="v">A<b>deep</b></li><li>B</li></ul>'
)


def test_xpath_select_pure():
    assert select(_HTML, parse_rule('//div[@id="x"]/span/text()')) == ["hello"]
    assert select(_HTML, parse_rule('//div[@id="x"]//text()')) == [
        "hello", " tail"
    ]
    assert select(_HTML, parse_rule("//a/@href")) == ["/p/1", "/p/2"]
    assert select(_HTML, parse_rule("//a[@rel='next']/@href")) == ["/p/2"]
    assert select(_HTML, parse_rule("//li[@data-k]/text()")) == ["A"]
    assert select(_HTML, parse_rule("//ul/*/text()")) == ["A", "B"]
    # [@class="v"] is exact attribute equality (xpath), not token match
    assert select(_HTML, parse_rule('//div[@class="a b"]/span/text()')) == ["hello"]
    assert select(_HTML, parse_rule('//div[@class="a"]/a/text()')) == ["one", "two"]


def test_xpath_rules_in_itemspec(spark):
    """The rule a Scrapy-habituated user writes — //div[@id="x"]/text() —
    extracts through the same fallback seam as rich css (VERDICT r3 #1:
    this raised ValueError through round 3)."""
    df = spark.createDataFrame(
        [("u", _HTML, 1)], "url string, extracted_text string, round int"
    )
    spec = ItemSpec(
        family="f",
        fields={
            "span": FieldRule('//div[@id="x"]/span/text()'),
            "hrefs": FieldRule("//a/@href", getall=True),
            "next_href": FieldRule("//a[@rel='next']/@href"),
        },
    )
    row = spec.extract(df).first()
    assert row.span == "hello"
    assert row.hrefs == ["/p/1", "/p/2"]
    assert row.next_href == "/p/2"


def test_xpath_outside_subset_raises_at_spec_build():
    for bad in (
        "//div[position()>1]/text()",
        "//a/parent::div",
        "div/following-sibling::a",
        "//",
    ):
        with pytest.raises(ValueError):
            FieldRule(bad).compile(F.lit("x"))


# -- no-pseudo rule: serialized element (parsel semantics; ADVICE r3 #4) ---

def test_no_pseudo_returns_outer_html():
    got = select(_HTML, parse_rule("div.a > a"))
    assert got == ['<a href="/p/1">one</a>', '<a href="/p/2" rel="next">two</a>']
    # xpath spelling of the same rule, same serialization
    assert select(_HTML, parse_rule('//div[@class="a"]/a')) == got


def test_serialize_escapes_and_void_elements():
    root = parse_html('<div data-q="a&quot;b"><img src="i.png">x &amp; y</div>')
    el = root.children[0]
    assert serialize(el) == '<div data-q="a&quot;b"><img src="i.png">x &amp; y</div>'


def test_no_pseudo_in_itemspec(spark):
    df = spark.createDataFrame(
        [("u", _HTML, 1)], "url string, extracted_text string, round int"
    )
    spec = ItemSpec(family="f", fields={"el": FieldRule("div.a > a")})
    assert spec.extract(df).first().el == '<a href="/p/1">one</a>'


# -- follow_callbacks: inherit (paginate shape) vs reset (bare follow) -----

def _corpus(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8"), "utf-8", "en") for u, h in rows],
        "url string, html binary, encoding string, lang string",
    )


_FOLLOW_ROWS = [
    ("http://l.test/0", '<span class="t">L0</span><a href="http://l.test/1">next</a>'),
    ("http://l.test/1", '<span class="t">L1</span>'),
]


def _follow_cfg(mode):
    return CrawlConfig(
        seeds=[{"url": "http://l.test/0", "callback_family": "listing"}],
        follow_patterns=[r"l\.test"],
        bloom_bits=1 << 12,
        follow_callbacks=mode,
        item_specs=[
            ItemSpec(
                family="L",
                fields={"t": FieldRule("span.t::text")},
                callback_family="listing",
            )
        ],
    )


def test_follow_callbacks_reset_children_do_not_fire_scoped_specs(spark, tmp_path):
    """reset = the reference's bare-follow shape (parser.py:97 yields
    Request(link) with no callbacks): the scoped spec fires ONLY on the
    seed page; both pages are still fetched."""
    store = CheckpointStore(str(tmp_path / "s"), spark)
    CrawlEngine(spark, _follow_cfg("reset"), store).run(_corpus(spark, _FOLLOW_ROWS))
    items = store.read_appended("items").filter(F.col("family") == "L")
    assert {r.url: r.content["t"] for r in items.collect()} == {
        "http://l.test/0": "L0"
    }
    assert store.read_appended("fetch_log").count() == 2


def test_follow_callbacks_inherit_children_fire_scoped_specs(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "s"), spark)
    CrawlEngine(spark, _follow_cfg("inherit"), store).run(_corpus(spark, _FOLLOW_ROWS))
    items = store.read_appended("items").filter(F.col("family") == "L")
    assert {r.url: r.content["t"] for r in items.collect()} == {
        "http://l.test/0": "L0",
        "http://l.test/1": "L1",
    }


def test_follow_callbacks_invalid_value_raises(spark, tmp_path):
    with pytest.raises(ValueError):
        CrawlEngine(
            spark,
            CrawlConfig(seeds=["http://a.test/"], follow_callbacks="both"),
            CheckpointStore(str(tmp_path / "s"), spark),
        )


# -- media_features oracle: short / empty / non-ascii payloads -------------
# (ADVICE r3 #3: the oracle held only because fixture documents are long;
# pin the padded-chunk + zeros-row semantics on adversarial payloads)

def test_media_features_short_payload_oracle_parity(spark, tmp_path):
    from acrawler_spark.analytics import SQL_MEDIA_FEATURES, q_media_features

    rows = [
        (0, ""),            # 0 sanitized bytes -> zeros row, n_frames=8
        (1, "a"),           # 1 byte -> 7 empty chunks mean 0.0
        (2, "ab"),
        (3, "1234567"),     # 7 bytes
        (4, "12345678"),    # exactly 8
        (5, "é中文"),  # sanitizes to 0 bytes (non-ascii only)
        (6, "xéy"),    # sanitizes to 2 bytes
        (7, "the quick brown fox jumps over the lazy dog"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = {
        r.media_id: (r.n_bytes, r.feat_mean, r.feat_std, r.n_frames)
        for r in q_media_features(spark, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    exp = {
        int(r[0]): (int(r[2]), float(r[3]), float(r[4]), int(r[5]))
        for r in con.sql(SQL_MEDIA_FEATURES).fetchall()
    }
    assert set(got) == set(exp) == {r[0] for r in rows}  # every doc emits a row
    for k in got:
        assert got[k][0] == exp[k][0], (k, got[k], exp[k])
        assert got[k][3] == exp[k][3] == 8
        assert abs(got[k][1] - exp[k][1]) < 1e-9
        assert abs(got[k][2] - exp[k][2]) < 1e-9


# -- simhash near-dup pairs: semantics on a controlled corpus --------------

def test_simhash_pairs_identical_docs_distance_zero(spark, tmp_path):
    from acrawler_spark.textops import q_dedup_simhash_pairs

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),   # identical -> hamming 0
        (2, "completely different words entirely here now"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in q_dedup_simhash_pairs(spark, sf).collect()}
    assert pairs.get((0, 1)) == 0
    assert all(a == 0 and b == 1 for (a, b) in pairs)  # doc 2 pairs with nobody


def test_dedup_clusters_label_propagation(spark, tmp_path):
    """Connected components over the near-dup pair graph: a transitive
    chain collapses to one cluster labeled by its min doc_id; untouched
    docs are singleton clusters of themselves."""
    from acrawler_spark.textops import q_dedup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, base),
        (1, base),                       # identical to 0
        (2, base + " iota"),             # near 0/1 -> same component
        (3, "totally unrelated content words here none shared"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = {r.doc_id: r.cluster_id for r in q_dedup_clusters(spark, sf).collect()}
    assert got[0] == got[1] == 0
    assert got[3] == 3  # singleton
    # doc 2 joins the component iff its simhash landed within the pair
    # threshold; either way the labeling is consistent
    assert got[2] in (0, 2)


# -- round-4 additions: minhash pairs, IVF ANN, quality gate, robots gate --

def test_minhash_pairs_identical_docs_full_agreement(spark, tmp_path):
    """Identical docs share all 6 minhashes -> candidate pair with
    n_eq=6, est_jaccard=1.0; an unrelated doc forms no pair."""
    from acrawler_spark.textops import q_dedup_minhash_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),
        (2, "totally different content with no shared shingles at all now"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    pairs = {
        (r.doc_a, r.doc_b): (r.n_eq, r.est_jaccard)
        for r in q_dedup_minhash_pairs(spark, sf).collect()
    }
    assert pairs[(0, 1)] == (6, 1.0)
    assert all({a, b} == {0, 1} for (a, b) in pairs)


def test_ann_ivf_is_subset_of_probed_cells_and_ranked(spark, tmp_path):
    """IVF top-k returns k ranked rows per query, each candidate drawn
    from the query's probed cells; on a corpus where every vector sits in
    one obvious cell the result equals brute force over that cell."""
    import numpy as np

    from acrawler_spark.textops import (
        IVF_CENTROIDS, IVF_K, IVF_QUERIES, q_ann_ivf_topk,
    )

    rng = np.random.RandomState(7)
    dim = 8
    # 4 well-separated centroid directions, then queries/candidates near them
    cents = np.eye(4, dim) * 10
    rows = []
    for i in range(4):                       # vec_id 0-3: centroids
        rows.append((i, [float(x) for x in cents[i]]))
    for i in range(IVF_QUERIES):             # vec_id 4-8: queries near cell i%4
        v = cents[i % 4] + rng.randn(dim) * 0.1
        rows.append((IVF_CENTROIDS + i, [float(x) for x in v]))
    for i in range(24):                      # vec_id 9+: candidates near cell i%4
        v = cents[i % 4] + rng.randn(dim) * 0.1
        rows.append((IVF_CENTROIDS + IVF_QUERIES + i, [float(x) for x in v]))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(f"{sf}/embeddings.parquet")

    got = q_ann_ivf_topk(spark, sf).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, IVF_K + 1)
        )
        # query q sits in cell (q-4)%4; its top hits are candidates of the
        # same cell (candidate c is in cell (c-9)%4)
        for r in rs:
            assert (r.c_id - IVF_CENTROIDS - IVF_QUERIES) % 4 == (q_id - IVF_CENTROIDS) % 4
    assert len(by_q) == IVF_QUERIES


def test_corpus_quality_gate_reasons(spark, tmp_path):
    """Funnel order: length -> lang -> quality -> duplicate -> keep."""
    from acrawler_spark.textops import q_corpus_quality_gate

    good = ("the cat of a dog and the bird in a tree is near the house "
            "and the day of the week is fine ") * 3
    rows = [
        (0, "too short"),                         # length
        (1, "zz " * 200),                         # no stopwords -> lang
        (2, good),                                # keep (canonical)
        (3, good),                                # duplicate of 2
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = {r.doc_id: (r.reject_reason, r.keep) for r in q_corpus_quality_gate(spark, sf).collect()}
    assert got[0] == ("length", False)
    assert got[1] == ("lang", False)
    assert got[2] == (None, True)
    assert got[3] == ("duplicate", False)


def test_robots_gate_blocks_by_prefix(spark, sf001):
    """The production apply_robots split labels every frontier row; the
    blocked set is exactly the prefix-matching rows of ruled hosts."""
    from acrawler_spark.analytics import q_robots_gate

    rows = q_robots_gate(spark, sf001).collect()
    assert rows, "gate returned nothing"
    for r in rows:
        path = r.url_canon.split(".test", 1)[1]
        if r.host == "site0.test":
            expect = path.startswith("/p/1") or path.startswith("/p/3")
        elif r.host == "site2.test":
            expect = path.startswith("/p/")
        elif r.host == "site6.test":
            expect = path.startswith("/x/")
        else:
            expect = False
        assert r.blocked == expect, (r.url_canon, r.host, r.blocked)


# -- round software-pipelining (prefetch claim/discard, engine.py run loop) --


def _record_job_labels(engine) -> list[str]:
    """Every Spark job description the engine sets, in submission order."""
    labels: list[str] = []
    job = engine._job

    def recording(label):
        labels.append(label)
        return job(label)

    engine._job = recording
    return labels


def test_max_rounds_computes_no_round_past_cutoff(spark, tmp_path):
    """A max_rounds cutoff mid-growth computes nothing past the cutoff: no
    round-2 job is submitted (no prefetch starts), no round-2 delta is
    staged, the manifest ends at the cutoff round, and a fresh engine
    resuming on the same store converges to exactly the uninterrupted
    run's final state."""
    import os

    from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls

    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    cfg = CrawlConfig(
        seeds=seed_urls(2), follow_patterns=[r"site\d+\.test"], bloom_bits=1 << 14
    )

    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, cfg, s_full).run(corpus)

    s_cut = CheckpointStore(str(tmp_path / "cut"), spark)
    e = CrawlEngine(spark, cfg, s_cut)
    labels = _record_job_labels(e)
    e.run(corpus, max_rounds=1)  # round 1 admits links: round 2 is due
    assert s_cut.last_round == 1
    assert any(x.startswith("r1 ") for x in labels), labels
    assert not [x for x in labels if x.startswith("r2 ")], labels
    assert not os.path.exists(
        os.path.join(str(tmp_path / "cut"), "pages", "delta_round=2")
    ), "a round past max_rounds left staged files"

    CrawlEngine(spark, cfg, CheckpointStore(str(tmp_path / "cut"), spark)).run(corpus)

    def state(store):
        seen = {r["fingerprint"] for r in store.read_appended("seen").collect()}
        sched = {
            (r["round"], r["url_canon"])
            for r in store.read_appended("fetch_log").collect()
        }
        return seen, sched

    assert state(s_cut) == state(s_full)


def test_prefetch_discard_at_crawl_end_leaves_no_staged_files(spark, tmp_path):
    """A crawl that stops while a prefetched round is in flight discards
    it: run(until_ancestor=<a group with no rows>) stops after round 1,
    whose commit launched round 2's full prefetch (its pages job ran). The
    staged round-2 delta must be gone (abort protocol) and the manifest
    must end at round 1."""
    import os

    from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls

    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    cfg = CrawlConfig(
        seeds=seed_urls(2), follow_patterns=[r"site\d+\.test"], bloom_bits=1 << 14
    )
    store = CheckpointStore(str(tmp_path / "cut"), spark)
    e = CrawlEngine(spark, cfg, store)
    labels = _record_job_labels(e)
    e.run(corpus, until_ancestor="no-such-group")
    assert store.last_round == 1
    assert any(x.startswith("r2 pages") for x in labels), labels
    assert not os.path.exists(
        os.path.join(str(tmp_path / "cut"), "pages", "delta_round=2")
    ), "discarded prefetch left staged files"


def _no_follow_crawl(spark, tmp_path):
    """A crawl that never admits a link: every fixture page plus one dead
    url per host is a seed, and a per-host budget of 3 spreads them over
    rounds, so every round after the first is fed only by politeness-
    deferred seeds and 404 retries."""
    from acrawler_spark.sources.corpus import build_fixture_pages, fixture_corpus_df
    from tests.oracle import OracleCrawl

    pages = build_fixture_pages(n_hosts=2, depth=2, fanout=3)
    seeds = [r["url"] for r in pages] + [f"http://site{h}.test/gone" for h in range(2)]
    cfg = CrawlConfig(seeds=seeds, max_requests_per_host=3, bloom_bits=1 << 14)
    store = CheckpointStore(str(tmp_path / "s"), spark)
    history = CrawlEngine(spark, cfg, store).run(
        fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    )
    expected = OracleCrawl(
        pages, seeds, [], max_tries=cfg.max_tries,
        uniform_budget=cfg.effective_host_budget(), t0=cfg.t0,
        round_seconds=cfg.round_seconds,
    ).run(max_rounds=cfg.max_rounds)
    return store, history, expected


@pytest.mark.parametrize("crawl", ["follow", "no_follow"])
def test_pipelined_rounds_report_mode(spark, tmp_path, crawl):
    """run() pipelines every round after the first: the previous round's
    commit prefetched it (mode == 'prefetch'), whether that round admitted
    links (``follow``) or only left politeness-deferred seeds and retries
    due (``no_follow``). Round 1 is always inline, and both crawls equal
    the oracle."""
    from tests.test_engine_e2e import assert_match, run_both

    if crawl == "follow":
        _, store, history, expected, _ = run_both(
            spark, tmp_path, n_hosts=2, depth=2, fanout=3
        )
    else:
        store, history, expected = _no_follow_crawl(spark, tmp_path)
    modes = [h["timing"]["mode"] for h in history]
    assert modes[0] == "inline"
    assert len(modes) >= 3 and all(m == "prefetch" for m in modes[1:]), modes
    assert_match(spark, store, history, expected)


def test_failed_prefetch_releases_caches_and_staged_files(spark, tmp_path):
    """A prefetch whose pages job fails leaves nothing behind. Round 2's
    pages job stages its delta and then fails, only inside the prefetch
    round 1's commit launched: run() raises, no round-2 pages delta is
    left, the manifest ends at round 1, and every DataFrame the crawl
    cached (the launching round's caches handed to the prefetch, and the
    prefetch's own selection) is unpersisted."""
    import os
    import threading

    from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls

    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    cfg = CrawlConfig(
        seeds=seed_urls(2), follow_patterns=[r"site\d+\.test"], bloom_bits=1 << 14
    )
    store = CheckpointStore(str(tmp_path / "s"), spark)
    e = CrawlEngine(spark, cfg, store)
    pages_job = e._run_pages_job

    def failing_in_prefetch(rnd, *args):
        out = pages_job(rnd, *args)
        if rnd == 2 and threading.current_thread() is not threading.main_thread():
            raise RuntimeError("injected prefetch failure")
        return out

    e._run_pages_job = failing_in_prefetch
    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="injected prefetch failure"):
        e.run(corpus)
    assert store.last_round == 1
    assert not os.path.exists(
        os.path.join(str(tmp_path / "s"), "pages", "delta_round=2")
    ), "failed prefetch left staged files"
    leaked = set(jsc.getPersistentRDDs().keys()) - cached_before
    assert not leaked, f"{len(leaked)} cached RDDs outlived the failed crawl"


def test_exact_substring_dedup_windows(spark, tmp_path):
    """Two docs sharing a verbatim 4-token span have exactly the shared
    windows flagged; a vocabulary-disjoint doc reports zero duplicated
    windows; a doc shorter than the window width is absent."""
    from acrawler_spark.textops import q_dedup_exact_substring

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),      # 9 words, 6 windows
        (1, "said the quick brown fox jumps away"),              # 7 words, 4 windows
        (2, "completely unrelated vocabulary tokens here argue"), # 6 words, 3 windows
        (3, "too short"),                                         # < k: no windows
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = {r.doc_id: (r.n_windows, r.n_dup_windows) for r in
           q_dedup_exact_substring(spark, sf).collect()}
    # shared spans: "the quick brown fox" and "quick brown fox jumps"
    assert got[0] == (6, 2)
    assert got[1] == (4, 2)
    assert got[2] == (3, 0)
    assert 3 not in got


def test_embedding_near_dup_pairs_banded_lsh(spark, tmp_path):
    """Two near-identical vectors agree on every hyperplane, land in the
    same bucket of every band, and survive the exact-cosine threshold as
    ONE deduped pair; an anti-correlated vector never pairs above the
    threshold. Every emitted pair is ordered (id_a < id_b) and clears
    EMB_PAIR_THRESHOLD."""
    import numpy as np

    from acrawler_spark.textops import (
        EMB_PAIR_THRESHOLD, q_dedup_embedding_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(16)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.5 + rng.randn(16) * 0.01]),  # near-dup of 0
        (2, [float(x) for x in -base]),                              # cosine ~ -1
        (3, [float(x) for x in rng.randn(16)]),                      # unrelated
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(f"{sf}/embeddings.parquet")
    got = {(r.id_a, r.id_b): r.cosine for r in
           q_dedup_embedding_pairs(spark, sf).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert all(a < b for (a, b) in got)
    assert all(c >= EMB_PAIR_THRESHOLD for c in got.values())
    assert not any(2 in p for p in got)


# -- host-graph PageRank (bounded power iteration over documents) ----------

def test_host_rank_invariants(spark, sf001):
    from acrawler_spark.textops import HR_DAMP, HR_HOSTS, q_host_rank

    rows = q_host_rank(spark, sf001).collect()
    assert len(rows) == HR_HOSTS
    ranks = [r.rank for r in rows]
    # total mass conserved (dangling mass redistributed, not dropped)
    assert abs(sum(ranks) - 1.0) < 1e-4
    # every host keeps at least the teleport floor
    assert min(ranks) >= (1.0 - HR_DAMP) / HR_HOSTS - 1e-9
    # the hashed edge construction must make ranks non-trivial — a pure
    # modular formula once produced an exactly-uniform (untestable) graph
    assert max(ranks) > min(ranks) * 1.2
