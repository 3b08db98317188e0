"""The batch-iterative crawl engine: driver round loop over DataFrame plans.

One round == one pass of the reference worker loop over every currently-due
task (crawler.py:61-136), quantized to a logical clock:

    read frontier -> filter(exetime <= now)                 [eligibility]
    -> per-host budget Window (salted)                      [politeness]
    -> global round cap (TakeOrderedAndProject)             [MAX_REQUESTS]
    -> left join corpus on (url_canon, method)              [fetch]
    -> handler middleware (family-scoped), skip/defer flags [middleware]
    -> Arrow UDF: decode + absolutize + links               [parse]
    -> explode links -> canonicalize+fingerprint (JVM)      [follow]
    -> within-round dedup + Bloom + anti-join seen          [dupefilter]
    -> retry / recrawl / defer branches                     [lifecycle]
    -> commit as one snapshot                               [persistence]

Steady-state round = THREE write actions: (1) pages stage (fetch join +
parse + counters via observe), (2) seen delta with the Bloom build fused
into its write, (3) frontier rewrite as a broadcast anti-join (windows run
once) carrying next-round due stats in the manifest. Under AQE each query
stage of an action is submitted as its own Spark job, so the job count is
several times higher (a one-round polite crawl submits ~44). items /
fetch_log / failed are virtual projections of the pages delta
(plans/views.py); metrics materialize once per crawl from the manifest.

Determinism contract (tests/oracle.py mirrors it 1:1): logical clock
now = t0 + round; total order (priority DESC, exetime ASC, fingerprint ASC);
within-round discovery order (parent rank, link position).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from acrawler_spark.functions.udfs import make_parse_page_udf
from acrawler_spark.operators.dedup import BloomSidecar, admit_new_candidates
from acrawler_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    candidates_from_links,
    seeds_frontier,
)
from acrawler_spark.operators.politeness import (
    apply_host_budgets,
    global_schedule_rank,
    rank_keys,
)
from acrawler_spark.plans.views import fetch_log_view, items_view
from acrawler_spark.session import local_frame
from acrawler_spark.sources.store import CheckpointStore




@dataclass
class CrawlConfig:
    """Mirrors the reference's setting.py knobs (defaults setting.py:23-53)."""

    seeds: list[str] = field(default_factory=list)
    follow_patterns: list[str] = field(default_factory=list)  # empty => no following (parser.py:86)
    max_tries: int = 3  # MAX_TRIES (setting.py:43-44); retry while tries <= max_tries (crawler.py:100)
    max_requests_per_host: int = 0  # 0 = unlimited (counter.py:21-23)
    special_host_budgets: dict[str, int] = field(default_factory=dict)  # substring-matched (counter.py:79)
    download_delay: float = 0.0  # converted to per-round budget: floor(round_seconds/delay)
    round_seconds: float = 1.0  # logical wall-time per round
    round_cap: int | None = None  # global per-round fetch cap (MAX_REQUESTS quantized)
    status_allowed: list[int] | None = None  # None => only 200 ok; [] => all ok (http.py:270-281)
    links_to_abs: bool = True
    child_priority: int = 0
    seed_priority: int = 0
    seed_recrawl: int = 0  # task.recrawl for seeds (crawler.py:122-126)
    max_depth: int | None = None
    max_rounds: int = 1000
    t0: float = 1767225600.0  # logical epoch base (FIXTURES.md)
    use_bloom: bool = True
    bloom_buckets: int = 16
    bloom_bits: int = 1 << 20
    salt_n: int = 4
    record_rank: bool = True  # per-round global rank in fetch_log (order-parity tests)
    detailed_metrics: bool = True  # count deferred rows per round (extra job)
    seeds_inbox: str | None = None  # drop-dir seed ingestion (redis feeder analog)
    robots_rules: dict | None = None  # {host: {"disallow": [...], "crawl_delay": s}}
    # corpus bucket layout (Iceberg bucket(url) analog): when set and the
    # corpus carries a `bucket` partition column == pmod(xxhash64(url), n),
    # the fetch join adds the bucket equi-condition so dynamic partition
    # pruning skips every corpus partition the round doesn't touch — small
    # rounds stop paying a full corpus scan
    corpus_bucket_n: int | None = None
    # Broadcast policy for the fetch join / frontier anti-join: the selected
    # side is broadcast only when a PROVEN bound says it fits driver-side —
    # round_cap, or the committed frontier row count (an upper bound on any
    # round's selected set) staying under broadcast_max_rows. Without the
    # hint AQE's initial SMJ plan lets the corpus map-side shuffle (the
    # round's largest payload) start before runtime conversion, so bounded
    # rounds want the hint — but an unbounded selected set must never be
    # forced driver-side (VERDICT r2 #2: the old flag could force-broadcast
    # an arbitrarily large set). broadcast_selected=False disables the hint
    # unconditionally; True never forces it past the proven bound.
    broadcast_selected: bool = True
    broadcast_max_rows: int = 4_000_000
    # Live-HTTP transport (sources/netfetch.py): when set (a kwargs dict
    # for build_fetch_http — timeout_s/delay_s/max_bytes/user_agent), the
    # round fetches over the network via a per-partition urllib client
    # instead of joining a corpus table. Every selected row yields exactly
    # one page row (transport errors become inline 404/null-body rows), so
    # the all-hits fast path always applies and the miss job never runs.
    http_fetch: dict | None = None
    in_pattern: str | None = None  # parse gate by response url (parser.py:62-73)
    follow_limit: int | None = None  # max followed links per page (http.py:387-435)
    # Callback-chain inheritance for followed links (ADVICE r3 #2). In the
    # reference only Response.paginate copies the parent's callbacks
    # (http.py:427-435); Response.follow takes an explicit callback
    # (default None) and Parser.parse_links yields bare Request(link)
    # (parser.py:97). "inherit" (default) treats follow_patterns as the
    # paginate shape — children keep the parent's callback_family, so a
    # listing's ItemSpec also parses its pagination pages. "reset" is the
    # bare-follow shape: children carry NO callback chain and
    # callback_family-scoped ItemSpecs never fire on them.
    follow_callbacks: str = "inherit"
    item_specs: list = field(default_factory=list)  # operators.items.ItemSpec per family
    # middleware: {"before_parse"|"after_parse": [(priority, fn(df, ctx) -> df)]}
    # — family-matched, priority-descending handler stages (middleware.py:70-186)
    handlers: dict = field(default_factory=dict)
    seen_compact_deltas: int = 16  # compact seen when this many deltas accrue
    # Contract: the corpus is a keyed resource table — at most ONE row per
    # (url[, method]), the shape of a fetch (one response per request,
    # http.py:258-281). Under it, |hit rows| == |selected| proves the round
    # had zero corpus misses, and the miss job (hit-fp broadcast + anti-join
    # + delta append — fixed driver-serial cost per round) is skipped
    # entirely; the counts ride jobs that already run. Set False for corpora
    # with duplicate keys (every selected key then fans out into multiple
    # page rows AND the equality test could mask a miss) — the anti-join
    # miss path then runs every round.
    corpus_unique_keys: bool = True

    def effective_host_budget(self) -> int:
        """Fold DOWNLOAD_DELAY into the per-host round budget: with delay d,
        a host serves at most floor(round_seconds/d) fetches per round
        (counter.py:97-107, jitter disabled for determinism)."""
        budget = self.max_requests_per_host
        if self.download_delay > 0:
            delay_budget = max(1, int(self.round_seconds / self.download_delay))
            budget = delay_budget if budget <= 0 else min(budget, delay_budget)
        return budget


def build_fetch_join(
    selected_ranked: DataFrame,
    corpus: DataFrame,
    frontier_cols: list,
    cfg: "CrawlConfig",
    bounded: bool,
) -> DataFrame:
    """The round's fetch = corpus join selected (SURVEY §2.1), honoring the
    request method (http.py:100, fingerprint http.py:142): a corpus with a
    `method` column joins on (url, method); otherwise its rows are GET
    resources and non-GET requests miss.

    JOIN SHAPE MATTERS: a plain `selected LEFT OUTER corpus` cannot
    broadcast its small (preserved) side, so Spark sort-merge-joins —
    shuffling the ENTIRE decompressed corpus every round, I/O-bound
    work that scales with nothing. Instead this returns only
      hits   = corpus INNER JOIN broadcast(selected)  — the corpus
               scan streams through one stage (no shuffle), DPP prunes
               its bucket partitions from the broadcast values
    and misses are derived AFTER the hits delta is written, by
    anti-joining the (cached) selected set against the round's own
    written fingerprints (see ``build_misses``): O(selected) work with
    no second corpus scan and no sort — at web scale the corpus
    key-space is unbounded but the round's output is not.
    The broadcast hint is applied only when ``bounded`` proved the
    selected set small (see CrawlConfig.broadcast_selected)."""
    right = corpus.withColumnRenamed("url", "c_url")
    if "method" in corpus.columns:
        right = right.withColumnRenamed("method", "c_method")
        cond = (F.col("url_canon") == F.col("c_url")) & (
            F.col("method") == F.col("c_method")
        )
    else:
        cond = (F.col("url_canon") == F.col("c_url")) & (F.col("method") == "GET")
    if cfg.corpus_bucket_n and "bucket" in corpus.columns:
        # bucket equi-condition -> dynamic partition pruning on the
        # corpus scan (selected side broadcasts; only touched buckets
        # are read — the Iceberg storage-partitioned-join shape)
        right = right.withColumnRenamed("bucket", "c_bucket")
        cond = cond & (
            F.col("c_bucket")
            == F.pmod(F.xxhash64("url_canon"), F.lit(cfg.corpus_bucket_n))
        )
    # optional corpus `status` column: a hit may carry a non-200 response
    # status (e.g. a 503 page with a body); a miss is always 404
    has_status = "status" in corpus.columns
    if has_status:
        right = right.withColumnRenamed("status", "c_status")
        hit_status = F.coalesce(F.col("c_status").cast("int"), F.lit(200))
    else:
        hit_status = F.lit(200)

    sel_side = F.broadcast(selected_ranked) if bounded else selected_ranked
    sel_cols = [*frontier_cols, "rank"]
    page_cols = ["c_url", "html", "encoding", "lang"] + (
        ["c_status"] if has_status else []
    )
    hits = right.join(sel_side, cond, "inner").select(*sel_cols, *page_cols)
    return hits.withColumn("status", hit_status)


def build_misses(
    selected_ranked: DataFrame,
    hit_fps: DataFrame,
    frontier_cols: list,
    bounded: bool,
) -> DataFrame:
    """selected \\ hits == selected \\ corpus (the fetch-join is inner on
    the selected keys), so corpus misses fall out of the round's OWN
    written delta: anti-join the cached selected set against the hit
    fingerprints that were just written. No corpus key-space scan, no
    sort — ``hit_fps`` is a single-column scan of the round's pages
    delta, broadcast under the same proven bound as the selected side
    (|hits| <= |selected| <= bound). A miss is always status 404 with a
    null body (http.py:270-281: a fetch exception, never ok)."""
    fps = F.broadcast(hit_fps) if bounded else hit_fps
    miss_nulls = [
        F.lit(None).cast("string").alias("c_url"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("encoding"),
        F.lit(None).cast("string").alias("lang"),
    ]
    return selected_ranked.join(fps, "fingerprint", "left_anti").select(
        *frontier_cols, "rank", *miss_nulls
    ).withColumn("status", F.lit(404))


@dataclass
class Selection:
    """One round's selected rows (``CrawlEngine._prepare_round``): the
    persisted politeness/round-cap output and its schedule rank."""

    selected: DataFrame
    selected_ranked: DataFrame
    rank_cache: DataFrame | None
    bounded: bool  # broadcast hint proven safe (CrawlConfig.broadcast_selected)
    n_sel: int | None = None  # |selected| once counted (prefetch or miss check)

    def caches(self) -> list[DataFrame]:
        return [self.selected] + ([self.rank_cache] if self.rank_cache is not None else [])


@dataclass
class Prefetch:
    """Round ``rnd`` computed ahead by the previous round's commit; ``fut``
    yields ``(Selection, pages Observation, staged columns)``. ``release``
    holds the launching round's caches (the prefetch reads its admitted
    rows): they live on this driver-side handle, so whoever retires it (the
    claim or a discard, after a successful or a failed job) unpersists
    them."""

    rnd: int
    fut: Future
    release: list[DataFrame]


@dataclass
class RoundState:
    """What one round's stages hand each other (``CrawlEngine.run_round``)."""

    rnd: int
    now: float
    corpus: DataFrame
    frontier: DataFrame  # round-start frontier (+ this round's inbox seeds)
    seen: DataFrame  # round-start seen snapshot
    timing: dict
    start: float  # monotonic clock at round start, before any prefetch claim
    # select
    sel: Selection | None = None
    inbox_files: list[str] = field(default_factory=list)
    inbox_n: int = 0  # raw inbox url count — free at drain, bounds admitted
    new_seed_rows: DataFrame | None = None
    robots_blocked_fps: DataFrame | None = None
    # fetch
    pages: DataFrame | None = None
    counts: dict[str, int] = field(default_factory=dict)
    n_defer_user: int = 0
    # follow
    spec_items: DataFrame | None = None
    admitted: DataFrame | None = None
    core_union: DataFrame | None = None

    def __post_init__(self) -> None:
        self._last = self.start

    def tick(self, label: str) -> None:
        t = time.monotonic()
        self.timing[label] = round(t - self._last, 2)
        self._last = t

    def caches(self) -> list[DataFrame]:
        seeds = [self.new_seed_rows] if self.new_seed_rows is not None else []
        return [*self.sel.caches(), self.admitted, *seeds]


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, store: CheckpointStore):
        if cfg.follow_callbacks not in ("inherit", "reset"):
            raise ValueError(
                f"follow_callbacks must be 'inherit' or 'reset': {cfg.follow_callbacks!r}"
            )
        self.spark = spark
        self.cfg = cfg
        self.store = store
        self.bloom = (
            BloomSidecar(store.root + "/seen/_bloom", cfg.bloom_buckets, cfg.bloom_bits)
            if cfg.use_bloom
            else None
        )
        self._parse_udf = make_parse_page_udf(cfg.links_to_abs, cfg.follow_patterns)
        if cfg.seeds_inbox:
            from acrawler_spark.streaming.seeds import SeedFeeder

            self.feeder = SeedFeeder(spark, cfg.seeds_inbox)
        else:
            self.feeder = None
        if cfg.robots_rules:
            from acrawler_spark.operators.robots import delay_budgets_df, rules_df

            self.robots = rules_df(spark, cfg.robots_rules)
            # per-host Crawl-delay -> per-round cap, min-combined with the
            # configured budgets inside the politeness stage. Built only
            # when some host declares a delay (config-known, no job).
            self.robots_delay = (
                delay_budgets_df(self.robots, cfg.round_seconds)
                if any(
                    (r.get("crawl_delay") or 0) > 0
                    for r in cfg.robots_rules.values()
                )
                else None
            )
        else:
            self.robots = None
            self.robots_delay = None
        # the next round's selection + staged pages delta, computed on the
        # pipeline pool while the current round's commit tail drains
        # (launched by _launch_prefetch, retired by _claim_prefetch or
        # discard_prefetch)
        self._prefetch: Prefetch | None = None
        self._pipe_pool: ThreadPoolExecutor | None = None  # lazy, engine lifetime
        self._in_run = False  # True while run() drives the round loop

    @contextmanager
    def _job(self, label: str):
        """Label every Spark job submitted from the current (Python) thread
        — thread-local under PySpark's pinned-thread mode, so the commit
        pool's concurrent writers each carry their own name in the UI and
        event log (the per-stage/job attribution the scaling audits read)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.job.description", label)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", None)

    def _apply_handlers(self, position: str, df: DataFrame, rnd: int) -> DataFrame:
        """Run registered pipeline-stage handlers (middleware.py:129-137
        positions; priority-descending order, 0 disables —
        middleware.py:268-276).

        Entries are ``(priority, fn)`` or ``(priority, fn, family)``. A
        family-scoped handler fires only on rows whose ``family`` matches
        (reference middleware.py:74-88: handler.family in task.families);
        non-matching rows pass through untouched, so two item families never
        cross-contaminate middleware. Scoped handlers must preserve the
        input schema (the branches are re-unioned by name)."""
        for entry in sorted(self.cfg.handlers.get(position, []), key=lambda x: -x[0]):
            prio, fn, family = entry if len(entry) == 3 else (*entry, None)
            if prio == 0:
                continue
            ctx = {"round": rnd, "config": self.cfg}
            if family is None:
                df = fn(df, ctx)
            else:
                match = F.coalesce(F.col("family") == F.lit(family), F.lit(False))
                df = fn(df.filter(match), ctx).unionByName(
                    df.filter(~match), allowMissingColumns=True
                )
        return df

    # -- bootstrap ------------------------------------------------------------

    def bootstrap(self) -> None:
        """Round -0 commit: seed frontier + seed fingerprints into seen
        (admission == schedule-time seen append, scheduler.py:45-50)."""
        cfg = self.cfg
        seeds = seeds_frontier(
            self.spark, cfg.seeds, cfg.t0, cfg.seed_priority, cfg.seed_recrawl
        )
        from acrawler_spark.operators.dedup import dedupe_within_round

        seeds = dedupe_within_round(seeds)
        # position 0 = on_start (middleware.py:129-137): transform the seed
        # frontier before the round-0 commit
        seeds = self._apply_handlers("on_start", seeds, 0)
        obs = Observation()
        seeds = seeds.observe(
            obs, F.count(F.lit(1)).alias("n"), F.min("exetime").alias("min_exetime")
        )
        self.store.write_frontier(0, seeds)
        fstats = obs.get
        seen0 = self.store.read_frontier(0).select(
            "fingerprint", F.lit(0).alias("added_round")
        )
        if self.bloom is not None:
            seen0 = self.bloom.updating_scan(seen0)
        self.store.write_delta("seen", 0, seen0, cap=self.bloom is None)
        self.store.commit_round(
            0,
            {"phase": "bootstrap", "seeds": len(cfg.seeds),
             "frontier_n": int(fstats["n"] or 0),
             "frontier_min_exetime": fstats["min_exetime"]},
        )

    # -- one round: selection and the next-round prefetch ---------------------

    def _prepare_round(
        self,
        rnd: int,
        frontier: DataFrame,
        inbox_n: int = 0,
        frontier_n: int | None = None,
    ) -> Selection:
        """Round `rnd`'s selection over ``frontier``: eligibility pushdown →
        robots split → salted politeness windows → round cap → persist
        (+ rank). Lazy and READ-ONLY — it stages nothing, so the previous
        round's commit may build it for a prefetch over its in-memory next
        frontier. `now` is deterministic (t0 + rnd·round_seconds), so a
        prefetched selection is byte-identical to what the round itself
        would compute.

        ``frontier_n`` is the frontier's row count for the broadcast bound:
        None reads the manifest stats (inline path); a prefetch passes the
        count its round observed (the manifest entry is not committed yet).
        ``inbox_n`` adds this round's raw inbox url count."""
        cfg = self.cfg
        now = cfg.t0 + rnd * cfg.round_seconds
        eligible = frontier.filter(F.col("exetime") <= F.lit(now))
        if self.robots is not None:
            from acrawler_spark.operators.robots import apply_robots

            eligible, _ = apply_robots(eligible, self.robots)
        # deferred (eligible-but-over-budget) rows are never materialized:
        # the new frontier is frontier ANTI-JOIN selected (broadcast, the
        # selected set is the small side), so the budget windows run exactly
        # once and n_deferred falls out of the commit arithmetic.
        selected, _deferred = apply_host_budgets(
            eligible,
            uniform=cfg.effective_host_budget(),
            special=cfg.special_host_budgets,
            salt_n=cfg.salt_n,
            delay_budgets=self.robots_delay,
        )
        if cfg.round_cap is not None:
            selected = selected.orderBy(*rank_keys()).limit(cfg.round_cap)
        selected = selected.persist()
        # schedule rank: the order the reference's workers would pop these
        # tasks (score order). Exact global rank via range partitioning +
        # offset merge (no single-partition Window — scale-safe for
        # unbounded selected sets); record_rank=False skips the extra tiny
        # count job for bench rounds that never read the rank.
        rank_cache = None
        if cfg.record_rank:
            selected_ranked, rank_cache = global_schedule_rank(selected)
        else:
            selected_ranked = selected.withColumn(
                "rank", F.monotonically_increasing_id().cast("long")
            )
        # Broadcast bound: round_cap if set, else the frontier row count
        # PLUS the raw inbox url count — together an upper bound on this
        # round's selected set (selected ⊆ eligible ⊆ frontier ∪ inbox). At
        # a 10^10-row frontier the bound exceeds broadcast_max_rows and the
        # hint is withheld (AQE plans from runtime stats instead).
        if cfg.round_cap is not None:
            sel_bound = cfg.round_cap
        else:
            sel_bound = self._frontier_stats()[0] if frontier_n is None else frontier_n
            sel_bound += inbox_n
        bounded = cfg.broadcast_selected and sel_bound <= cfg.broadcast_max_rows
        return Selection(selected, selected_ranked, rank_cache, bounded)

    def _inbox_pending(self) -> bool:
        return self.feeder is not None and bool(self.feeder.pending_files())

    @staticmethod
    def _unpersist(dfs: list[DataFrame]) -> None:
        for df in dfs:
            df.unpersist()

    def _launch_prefetch(
        self, st: RoundState, core_stats: dict, n_admitted: int, max_round: int | None
    ) -> bool:
        """Start round rnd+1 on the engine's pipeline pool while round rnd's
        commit tail drains: its selection over the IN-MEMORY next frontier
        (core ∪ admitted — no wait for the admitted append or the commit;
        byte-identical to the committed frontier) and its whole pages stage
        (fetch-join + parse + staged write). Launched only when round rnd+1 has due work:
        admitted rows carry exetime == now, and the core write observed the
        core's min exetime. Never past ``max_round``, never with inbox files
        pending (their seeds are missing from the prefetched frontier), and
        only while run() drives the loop: a direct run_round() caller gets
        strictly synchronous rounds (a prefetch it never claims could race
        another engine on the same store). Returns whether it launched —
        this round's caches then belong to the handle."""
        cfg, rnd = self.cfg, st.rnd
        core_min = core_stats["min_exetime"]
        due = n_admitted > 0 or (
            core_min is not None and core_min <= cfg.t0 + (rnd + 1) * cfg.round_seconds
        )
        if not (
            self._in_run
            and due
            and (max_round is None or rnd < max_round)
            and not self._inbox_pending()
        ):
            return False
        cols = st.frontier.columns
        frontier = st.core_union.unionByName(st.admitted.select(*cols))
        # exact |frontier(rnd)|: both parts were counted by their jobs
        frontier_n = int(core_stats["n"] or 0) + n_admitted
        corpus = st.corpus

        def job() -> tuple:
            sel = self._prepare_round(rnd + 1, frontier, frontier_n=frontier_n)
            try:
                # pulls the politeness shuffle forward and warms the cache;
                # the count doubles as the miss fast-path's |selected|
                with self._job(f"r{rnd + 1} prepare: politeness windows + selected cache"):
                    sel.n_sel = sel.selected.count()
                return (sel, *self._run_pages_job(rnd + 1, sel, cols, corpus))
            except BaseException:
                self._unpersist(sel.caches())
                raise

        if self._pipe_pool is None:
            self._pipe_pool = ThreadPoolExecutor(max_workers=2)
        self._prefetch = Prefetch(rnd + 1, self._pipe_pool.submit(job), st.caches())
        return True

    def _claim_prefetch(self, rnd: int) -> tuple | None:
        """Round ``rnd``'s prefetch result, if one is pending for it and no
        inbox file has arrived since it launched (its frontier lacks those
        seeds; they drain inline instead). Any other pending prefetch is
        discarded first: its staged write would race this round's inline
        rewrite of the same delta dir. ``result()`` waits out the in-flight
        pages write — normally the only thing left running, so this IS the
        round's pages wall. A failed prefetch aborts its staged files and
        re-raises."""
        pf = self._prefetch
        if pf is None:
            return None
        if pf.rnd != rnd or self._inbox_pending():
            self.discard_prefetch()
            return None
        self._prefetch = None
        try:
            return pf.fut.result()
        except BaseException:
            self.store.abort_uncommitted(rnd)
            raise
        finally:
            # the launching round's caches: every prefetch job is done
            self._unpersist(pf.release)

    def discard_prefetch(self) -> None:
        """Retire the pending prefetch, if any: wait out its in-flight job,
        drop its caches and the launching round's, and remove the staged
        (never-committed) pages delta. Rare path — an inbox arrival between
        launch and claim, or the crawl ending early (an ``until_ancestor``
        stop, an error); run() calls it on the way out."""
        pf, self._prefetch = self._prefetch, None
        if pf is None:
            return
        try:
            sel = pf.fut.result()[0]
        except Exception:
            sel = None  # the failed job released its own selection
        self._unpersist(pf.release + (sel.caches() if sel is not None else []))
        self.store.abort_uncommitted(pf.rnd)

    def _stage_pages(
        self, rnd: int, frontier_cols: list[str], src: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """The page-staging pipeline, shared by the hits branch and the
        (post-write) misses branch so middleware, flag derivation, and
        counters are row-wise identical to the old single-union plan."""
        cfg = self.cfg
        # ok (http.py:270-281): status==200 OR allowed==[] OR status IN
        # allowed; the per-request status_allowed column overrides the crawl
        # config (NULL -> config default). A corpus miss is a fetch
        # exception, not a status — never ok.
        if cfg.status_allowed is None:
            cfg_ok = F.col("status") == 200
        elif cfg.status_allowed == []:
            cfg_ok = F.lit(True)
        else:
            cfg_ok = (F.col("status") == 200) | F.col("status").isin(cfg.status_allowed)
        row_ok = (
            (F.col("status") == 200)
            | (F.size("status_allowed") == 0)
            | F.array_contains(F.col("status_allowed"), F.col("status"))
        )
        ok_col = F.when(F.col("status_allowed").isNotNull(), row_ok).otherwise(cfg_ok)

        df = src.withColumn("ok", ok_col & F.col("c_url").isNotNull())
        df = df.withColumn("tries_done", F.col("tries") + 1)

        # handler middleware, position 1 = before execution
        # (task.py:137-139). Control-flow exceptions are columnar flags
        # a handler may set (exceptions.py:1-43):
        #   _skip    -> SkipTaskError: no parse/items/links, counted ok
        #   _defer_s -> ReScheduleError(defer): re-enqueued at
        #               now+defer_s, dont_filter, tries kept incremented
        #               (task.py:120 — the increment precedes the
        #               raise), NOT counted
        df = self._apply_handlers("before_parse", df, rnd)
        defer_col = (
            F.coalesce(F.col("_defer_s").cast("double"), F.lit(0.0))
            if "_defer_s" in df.columns
            else F.lit(0.0)
        )
        skip_col = (
            F.coalesce(F.col("_skip").cast("boolean"), F.lit(False))
            if "_skip" in df.columns
            else F.lit(False)
        )
        df = df.withColumn("defer_s", defer_col).withColumn("skipped", skip_col)
        # skipped rows count as success (crawler.py:85-86 + counter
        # flag 1); deferred rows are neither success nor failure (-2)
        df = df.withColumn(
            "ok", (F.col("ok") | F.col("skipped")) & (F.col("defer_s") <= 0)
        )

        # parse gate: only ok, unskipped pages matching in_pattern are
        # parsed (parser.py:62-73); masked JVM-side by nulling html so
        # the Arrow UDF sees one batch stream, skipping gated rows free
        parse_gate = F.col("ok") & ~F.col("skipped")
        if cfg.in_pattern:
            parse_gate = parse_gate & F.col("url_canon").rlike(cfg.in_pattern)

        staged = df.select(
            *frontier_cols,
            "rank",
            "status",
            "ok",
            "defer_s",
            "skipped",
            "tries_done",
            "lang",
            F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("bytes"),
            self._parse_udf(
                F.when(parse_gate, F.col("html")),
                F.col("encoding"),
                F.col("url_canon"),
            ).alias("parsed"),
        ).select(
            "*",
            F.col("parsed.text").alias("text"),
            F.col("parsed.links").alias("links"),
        ).drop("parsed").withColumn("round", F.lit(rnd))
        # position 2 = after execution (task.py:144-147) — applied
        # before staging, so the written pages delta is the canonical
        # post-middleware page state and the virtual
        # items/fetch_log/failed views (plans/views.py) see handler
        # effects
        staged = self._apply_handlers("after_parse", staged, rnd)
        # terminal-failure flag materialized so the failed view is
        # config-free; ignore_exception short-circuits the retry ladder
        # (task.py:51)
        staged = staged.withColumn(
            "final_fail",
            ~F.col("ok")
            & (F.col("defer_s") <= 0)
            & ((F.col("tries_done") > cfg.max_tries) | F.col("ignore_exception")),
        )
        # round counters ride the staging job via observe() — no
        # separate aggregation job (VERDICT r1: per-round driver-job
        # count was the scaling-efficiency floor)
        obs = Observation()
        staged = staged.observe(
            obs,
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum(F.col("final_fail").cast("long")).alias("n_failed"),
            F.sum((F.col("defer_s") > 0).cast("long")).alias("n_defer_user"),
        )
        return staged, obs

    def _run_pages_job(
        self, rnd: int, sel: Selection, frontier_cols: list[str], corpus: DataFrame
    ) -> tuple[Observation, list[str]]:
        """Stage the round's page-level result: ONE heavy job runs
        fetch-join + Arrow parse and writes the hits delta with html
        DROPPED (text+links kept). Every downstream consumer (items,
        fetch_log, candidates, retry/recrawl, metrics) is a column-pruned
        scan of this delta — the UDF runs exactly once per page and no
        multi-hundred-MB cache blocks churn the executors. Callable from
        the round's own thread OR the pipeline pool (prefetch)."""
        if self.cfg.http_fetch is not None:
            from acrawler_spark.sources.netfetch import build_fetch_http

            fetched = build_fetch_http(
                sel.selected_ranked, frontier_cols, **self.cfg.http_fetch
            )
        else:
            fetched = build_fetch_join(
                sel.selected_ranked, corpus, frontier_cols, self.cfg, sel.bounded
            )
        staged, obs = self._stage_pages(rnd, frontier_cols, fetched)
        with self._job(f"r{rnd} pages: fetch-join + parse + write"):
            self.store.write_delta("pages", rnd, staged)
        return obs, staged.columns

    # -- one round: the stages -------------------------------------------------

    def run_round(self, rnd: int, corpus: DataFrame, max_round: int | None = None) -> dict:
        """Run round ``rnd`` and commit it: select → fetch/parse →
        follow/admit/lifecycle → commit. The round claims its own prefetch
        when the previous round's commit launched one for it (mode
        "prefetch"); otherwise it computes everything in-round ("inline").
        ``max_round`` is the caller's last round: at it, the commit
        launches no next-round prefetch (work that would only be
        discarded)."""
        start = time.monotonic()  # a claim's wait is part of the pages stage
        claimed = self._claim_prefetch(rnd)
        st = RoundState(
            start=start,
            rnd=rnd,
            now=self.cfg.t0 + rnd * self.cfg.round_seconds,
            corpus=corpus,
            frontier=self.store.read_frontier(),
            seen=self.store.read_appended("seen"),
            timing={"mode": "inline" if claimed is None else "prefetch"},
        )
        self._select(st, claimed)
        self._fetch(st, claimed)
        self._follow(st)
        self._commit(st, max_round)
        return {
            "round": rnd, **st.counts,
            "timing": st.timing, "wall_s": round(time.monotonic() - st.start, 3),
        }

    def _select(self, st: RoundState, claimed: tuple | None) -> None:
        """Inbox seeds, then the selection (a claimed prefetch already ran
        it), then the robots split's staged write."""
        if claimed is not None:
            # the prefetch was claimed with an empty inbox; files dropped
            # since then drain next round (at-least-once, unchanged)
            st.sel = claimed[0]
        else:
            if self.feeder is not None:
                # between-round seed ingestion (redis feeder analog;
                # at-least-once, idempotent through the dupefilter —
                # handlers.py:282-293)
                inbox_df, st.inbox_files, st.inbox_n = self.feeder.drain(st.rnd, st.now)
                if inbox_df is not None:
                    st.new_seed_rows = admit_new_candidates(
                        inbox_df, st.seen, self.bloom
                    ).persist()
                    st.frontier = st.frontier.unionByName(
                        st.new_seed_rows.select(*st.frontier.columns)
                    )
            st.sel = self._prepare_round(st.rnd, st.frontier, st.inbox_n)
        # robots.txt admission (north-rule addition; absent in reference —
        # SURVEY §7). Blocked rows are dropped permanently (they stay seen).
        # The split is rebuilt over this round's (file-backed) frontier —
        # a prefetched selection's plan reads the previous round's released
        # caches — and its delta is always staged by the round committing it.
        if self.robots is not None:
            from acrawler_spark.operators.robots import apply_robots

            _, blocked = apply_robots(
                st.frontier.filter(F.col("exetime") <= F.lit(st.now)), self.robots
            )
            self.store.write_delta(
                "robots_blocked",
                st.rnd,
                blocked.select("url", "url_canon", "fingerprint", "host")
                .withColumn("round", F.lit(st.rnd)),
            )
            st.robots_blocked_fps = self.store.read_delta_one(
                "robots_blocked", st.rnd
            ).select("fingerprint")

    def _fetch(self, st: RoundState, claimed: tuple | None) -> None:
        """The pages stage (fetch-join + parse + staged write, or the
        claimed prefetch's), the corpus misses, and the fetch counters."""
        cfg, rnd, sel, cols = self.cfg, st.rnd, st.sel, st.frontier.columns
        if claimed is not None:
            _, obs_pages, staged_cols = claimed
        else:
            obs_pages, staged_cols = self._run_pages_job(rnd, sel, cols, st.corpus)
        st.tick("pages_stage")

        # misses staged SECOND, against the round's own output: the old
        # in-stage `selected LEFT ANTI corpus[keys]` union branch re-scanned
        # the corpus key-space and sort-merge-shuffled the full-width
        # selected set every round — measured at ~2x the whole pages-stage
        # CPU at 16 cores for a (steady-state) empty result. The anti-join
        # against written hit fingerprints is O(selected), broadcast under
        # the same proven bound, and appends a usually-empty second file.
        # Fast path: under the corpus_unique_keys contract a selected row
        # matches at most one corpus row, so |hit rows| == |selected| proves
        # zero misses — the whole miss job (fp broadcast build + anti-join
        # stage + delta append, ~1.5-2 s of driver-serial cost per round at
        # any core count) is skipped. The selected count is one tiny scan
        # of the cache the pages job just materialized (free when the
        # prefetch already counted it; an Observation on the fetch join's
        # build side would be free, but CollectMetrics under an AQE
        # broadcast stage doesn't reliably surface its row). Steady-state
        # rounds of a converged crawl are all hits, so this is the common
        # case the round loop is sized for.
        stats = [obs_pages.get]
        all_hits = False
        if cfg.corpus_unique_keys:
            if sel.n_sel is None:
                with self._job(f"r{rnd} miss check: cached selected count"):
                    sel.n_sel = sel.selected.count()
            all_hits = int(stats[0]["n_selected"] or 0) == sel.n_sel
        if not all_hits:
            hit_fps = self.store.read_delta_one("pages", rnd).select("fingerprint")
            miss_staged, obs_miss = self._stage_pages(
                rnd, cols, build_misses(sel.selected_ranked, hit_fps, cols, sel.bounded)
            )
            with self._job(f"r{rnd} misses: anti-join vs written hits + append"):
                self.store.append_delta(
                    "pages", rnd, miss_staged.select(*[F.col(c) for c in staged_cols])
                )
            stats.append(obs_miss.get)

        def total(key: str) -> int:
            return sum(int(s[key] or 0) for s in stats)

        n_selected, n_ok, n_failed = total("n_selected"), total("n_ok"), total("n_failed")
        st.n_defer_user = total("n_defer_user")
        st.counts = {
            "selected": n_selected, "ok": n_ok, "admitted": 0, "deferred": 0,
            "retried": n_selected - n_ok - n_failed - st.n_defer_user,
            "failed": n_failed,
        }
        st.tick("misses_stage")
        st.pages = self.store.read_delta_one("pages", rnd)

    def _follow(self, st: RoundState) -> None:
        """Lazy plans over the staged pages: ItemSpec extractions, followed
        links admitted against seen, and the next frontier's core — the
        round-start frontier minus selected (and robots-blocked) rows plus
        the retry / user-defer / recrawl re-entries."""
        cfg, rnd, now, pages = self.cfg, st.rnd, st.now, st.pages
        cols = st.frontier.columns

        # items / fetch_log / failed are VIRTUAL — projections of the pages
        # delta served by the store (plans/views.py); nothing to write.
        # Only ItemSpec extractions (per-family ParselItem analogs) produce
        # physical items rows.
        base_items = items_view(pages)
        for spec in cfg.item_specs:
            src = base_items.select(
                "url", "extracted_text", "lang", "depth", "round", "callback_family"
            )
            if spec.callback_family:
                # per-family callback routing (parser.py:41-57): the spec
                # fires only on rows whose inherited callback chain matches
                src = src.filter(F.col("callback_family") == spec.callback_family)
            if spec.url_pattern:
                src = src.filter(F.col("url").rlike(spec.url_pattern))
            spec_items = spec.extract(src).join(
                src.select("url", "lang", "depth"), "url", "left"
            ).select(
                "url", "family",
                F.lit(None).cast("string").alias("extracted_text"),
                "lang", "depth", F.lit(rnd).alias("round"), "content",
            )
            st.spec_items = (
                spec_items if st.spec_items is None
                else st.spec_items.unionByName(spec_items)
            )

        # follow links (only when configured — parser.py:86); follow_limit
        # caps links per page (paginate/follow limit, http.py:387-435)
        if cfg.follow_patterns:
            links_col = F.col("links")
            if cfg.follow_limit is not None:
                links_col = F.slice(links_col, 1, cfg.follow_limit)
            cb_col = (
                F.col("callback_family")
                if cfg.follow_callbacks == "inherit"
                else F.lit(None).cast("string")  # bare-follow (parser.py:97)
            )
            link_src = pages.filter(F.col("links").isNotNull()).select(
                "depth", "ancestor", "meta", "rank",
                cb_col.alias("callback_family"),
                links_col.alias("links")
            )
            candidates = candidates_from_links(
                link_src, rnd, now, cfg.child_priority, cfg.max_depth
            )
            admitted = admit_new_candidates(candidates, st.seen, self.bloom)
            if st.new_seed_rows is not None:
                # frontier invariant: at most one row per fingerprint (the
                # rewrite is an anti-join on fingerprint). Candidates admit
                # against the ROUND-START seen snapshot, which excludes
                # this round's inbox seeds — drop candidates the inbox
                # already admitted, or both rows would enter the frontier
                # and the anti-join would later drop the pair. A huge
                # external seed drop is broadcast only under the same
                # threshold as the selected set.
                seed_fps = st.new_seed_rows.select("fingerprint")
                admitted = admitted.join(
                    F.broadcast(seed_fps)
                    if st.inbox_n <= cfg.broadcast_max_rows else seed_fps,
                    "fingerprint",
                    "left_anti",
                )
            st.admitted = admitted.persist()
        else:
            st.admitted = local_frame(self.spark, [], FRONTIER_SCHEMA).persist()

        # retry branch (crawler.py:98-114): failed & tries_done <= max_tries;
        # ignore_exception rows never retry (task.py:51)
        hard_fail = ~F.col("ok") & (F.col("defer_s") <= 0)
        retries = (
            pages.filter(
                hard_fail
                & (F.col("tries_done") <= cfg.max_tries)
                & ~F.col("ignore_exception")
            )
            .select(*cols)
            .withColumn("tries", F.col("tries") + 1)
            .withColumn("exetime", F.lit(now))
            .withColumn("dont_filter", F.lit(True))
        )
        # user defer branch (ReScheduleError, exceptions.py:23-43 +
        # crawler.py:87-97): re-enqueued unfiltered at now+defer_s, tries
        # kept at the incremented value, uncounted (flag -2)
        deferred_user = (
            pages.filter(F.col("defer_s") > 0)
            .select(*cols, "defer_s", "tries_done")
            .withColumn("tries", F.col("tries_done"))
            .withColumn("exetime", F.lit(now) + F.col("defer_s"))
            .withColumn("dont_filter", F.lit(True))
            .select(*cols)
        )
        # recrawl branch (crawler.py:122-126): success & recrawl>0 re-enqueues
        # with tries=0, exetime=last_crawl+recrawl, dont_filter
        recrawls = (
            pages.filter(F.col("ok") & (F.col("recrawl") > 0))
            .select(*cols)
            .withColumn("tries", F.lit(0))
            .withColumn("exetime", F.lit(now) + F.col("recrawl").cast("double"))
            .withColumn("dont_filter", F.lit(True))
        )

        # next frontier CORE = frontier \ selected (\ robots-blocked) +
        # lifecycle re-entries — built once, consumed by (a) the frontier
        # core writer and (b) the next-round prefetch's in-memory frontier
        # (core ∪ admitted), which runs politeness for round rnd+1 without
        # waiting for the frontier files to land. A prefetched selection's
        # plan holds the previous round's core, so anti-joining it would
        # chain every prefetched round's plan to the one before — and the
        # politeness union reads its input twice, so the plan would double
        # per round. The pages delta holds exactly the selected
        # fingerprints (a hit or a 404 miss row each), so a claimed round
        # anti-joins those instead.
        claimed = st.timing["mode"] == "prefetch"
        sel_fps = (st.pages if claimed else st.sel.selected).select("fingerprint")
        remaining = st.frontier.join(
            F.broadcast(sel_fps) if st.sel.bounded else sel_fps,
            "fingerprint", "left_anti",
        )
        if st.robots_blocked_fps is not None:
            # blocked ⊆ eligible ⊆ frontier ∪ inbox — round_cap does NOT
            # bound it (the cap applies after the robots split), so the
            # hint needs the frontier-count bound even when bounded=True
            # came from round_cap
            robots_bounded = (
                self._frontier_stats()[0] + st.inbox_n <= cfg.broadcast_max_rows
            )
            fps = st.robots_blocked_fps
            remaining = remaining.join(
                F.broadcast(fps) if robots_bounded else fps, "fingerprint", "left_anti"
            )
        st.core_union = (
            remaining.select(*cols)
            .unionByName(retries.select(*cols))
            .unionByName(recrawls.select(*cols))
            .unionByName(deferred_user.select(*cols))
        )

    def _commit(self, st: RoundState, max_round: int | None) -> None:
        """Staged writes, the next-round prefetch, then the atomic manifest
        bump (its entry carries the round's counters and ``timing``).

        Per-round action budget (VERDICT r1 scaling fix): THREE write
        actions in the steady state — pages stage, seen (+Bloom fused),
        frontier; AQE runs each query stage of an action as its own Spark
        job — and the seen/frontier writes (plus optional spec-items /
        lineage) are SUBMITTED CONCURRENTLY from driver threads, so their
        per-stage scheduling latencies overlap instead of serializing.
        items/fetch_log/failed are virtual projections of the pages delta;
        every counter rides a write via observe(); nothing is counted with
        a standalone action."""
        cfg, rnd, now = self.cfg, st.rnd, st.now
        cols = st.frontier.columns
        # admitted is the empty literal when nothing can be admitted
        has_admitted = bool(cfg.follow_patterns) or st.new_seed_rows is not None

        def _cache_job() -> int:
            with self._job(f"r{rnd} admitted: admit pipeline + cache"):
                return st.admitted.count()

        def _seen_job() -> int:
            # seen delta + Bloom maintenance fused into one write job over
            # the hot admitted cache. Schedule-time semantics: seen grows in
            # the same commit that admits the rows (scheduler.py:45-50).
            if not has_admitted:
                return 0
            new_seen = st.admitted.select(
                "fingerprint",
                F.lit(rnd).alias("added_round"),
                F.lit(0).alias("_is_seed"),
            )
            if st.new_seed_rows is not None:
                new_seen = new_seen.unionByName(
                    st.new_seed_rows.select(
                        "fingerprint",
                        F.lit(rnd).alias("added_round"),
                        F.lit(1).alias("_is_seed"),
                    )
                )
            obs_seen = Observation()
            # admitted-vs-seed split rides the SAME write job (observe on a
            # marker column, dropped before the write) — an inbox round runs
            # exactly the job count of a non-inbox round, no standalone count
            new_seen = new_seen.observe(
                obs_seen,
                F.count(F.lit(1)).alias("n"),
                F.sum("_is_seed").alias("n_seed"),
            ).drop("_is_seed")
            if self.bloom is not None:
                new_seen = self.bloom.updating_scan(new_seen)
            with self._job(f"r{rnd} seen: dedup+bloom+write (materializes admitted)"):
                self.store.write_delta("seen", rnd, new_seen, cap=self.bloom is None)
            got = obs_seen.get
            return int(got["n"] or 0) - int(got["n_seed"] or 0)

        def _frontier_obs(df: DataFrame) -> tuple[DataFrame, Observation]:
            obs = Observation()
            return df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.min("exetime").alias("min_exetime"),
                F.sum((F.col("exetime") <= F.lit(now)).cast("long")).alias("n_due_now"),
            ), obs

        def _frontier_core_job() -> dict:
            # The anti-join's right side is the (cached) selected
            # fingerprints, so the politeness windows are NOT recomputed and
            # the big frontier scan streams through one stage. Requires the
            # one-row-per-fingerprint frontier invariant (held by:
            # schedule-time seen admission + the inbox-vs-candidates
            # dedupe). Broadcast is hinted only under the proven bound
            # (round_cap / frontier_n ≤ broadcast_max_rows); otherwise AQE
            # picks from runtime stats (an unbounded selected set must not
            # be forced driver-side). SPLIT COMMIT: this core part touches
            # only the prior frontier, the (hot) selected cache, and the
            # written pages delta — never `admitted` — so it runs
            # CONCURRENTLY with the admitted materialization instead of
            # serializing behind it; the admitted branch appends after.
            new_frontier, obs = _frontier_obs(st.core_union)
            with self._job(f"r{rnd} frontier core: anti-join + re-entries write"):
                self.store.write_frontier(rnd, new_frontier)
            return obs.get

        def _frontier_admitted_job() -> dict:
            if not has_admitted:
                return {"n": 0, "min_exetime": None, "n_due_now": 0}
            adf, obs = _frontier_obs(st.admitted.select(*cols))
            with self._job(f"r{rnd} frontier admitted: append"):
                self.store.append_frontier(rnd, adf)
            return obs.get

        def _items_job() -> None:
            with self._job(f"r{rnd} items: spec extraction write"):
                self.store.write_delta("items", rnd, st.spec_items)

        def _lineage_job() -> None:
            # per-partition lineage (north rule) — gated: observability,
            # not crawl state. Metrics rows live in the commit manifest and
            # are materialized once per crawl by flush_metrics().
            lineage = (
                fetch_log_view(st.pages)
                .groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(F.col("ok").cast("long")).alias("n_ok"),
                    F.sum("bytes").alias("bytes"),
                )
                .withColumn("round", F.lit(rnd))
            )
            with self._job(f"r{rnd} lineage: partition rollup write"):
                self.store.write_delta("lineage", rnd, lineage)

        # The admitted cache must be materialized by exactly ONE job before
        # any second consumer touches it: submitting two consumers with a
        # cold cache makes every task of one convoy on the other's
        # BlockInfoManager write-locks while it computes the same
        # partitions (event-log evidence at local[16], bench round 1: two
        # identical 32-task stages — candidates Window + Bloom MapInPandas
        # + Union lineage — 448 task-seconds of run time against 49 CPU-
        # seconds, ~90% lock-wait). items/lineage/frontier-core read only
        # the pages delta, the selected cache, and the prior frontier (all
        # hot/materialized by the fetch phase) — they never touch admitted,
        # so they run beside the materializer; the seen write and the
        # admitted append then consume a hot cache (the append must also
        # follow the core overwrite, which clears the dir it lands in).
        st.tick("commit_dag_build")  # py4j plan construction since misses tick
        with ThreadPoolExecutor(max_workers=6) as pool:
            fut_cache = pool.submit(_cache_job)
            fut_fcore = pool.submit(_frontier_core_job)
            extras = []
            if st.spec_items is not None:
                extras.append(pool.submit(_items_job))
            if cfg.detailed_metrics:
                extras.append(pool.submit(_lineage_job))
            n_adm_cached = fut_cache.result()
            fut_seen = pool.submit(_seen_job)  # hot cache: bloom + write tail
            core = fut_fcore.result()
            # both parts of the next frontier are counted: round rnd+1's
            # prefetch overlaps the admitted append, the seen tail and the
            # extras
            launched = self._launch_prefetch(st, core, n_adm_cached, max_round)
            adm = _frontier_admitted_job()
            n_admitted = fut_seen.result()
            for f in extras:
                f.result()
        fstats = {
            "n": int(core["n"] or 0) + int(adm["n"] or 0),
            "min_exetime": min(
                (x for x in (core["min_exetime"], adm["min_exetime"]) if x is not None),
                default=None,
            ),
        }
        # rows still due right now = politeness-deferred + retries + admitted
        # (all three carry exetime == now; recrawls, user-deferred and
        # ineligible rows are strictly future). Reported "deferred" folds in
        # user defers — both are counter flag -2 in the reference.
        n_due_now = int(core["n_due_now"] or 0) + int(adm["n_due_now"] or 0)
        st.counts["admitted"] = n_admitted
        st.counts["deferred"] = (
            n_due_now - st.counts["retried"] - n_admitted + st.n_defer_user
        )
        st.tick("commit_writes")

        self.store.commit_round(
            rnd,
            {**st.counts,
             "wall_ms": int((time.monotonic() - st.start) * 1000),
             "frontier_n": fstats["n"],
             "frontier_min_exetime": fstats["min_exetime"],
             "timing": st.timing},
        )
        if st.inbox_files:
            self.feeder.consume(st.inbox_files)  # post-commit: at-least-once
        # bound the seen table's delta-file count over long crawls
        # (Iceberg rewrite_data_files analog)
        if self.store.delta_count("seen") >= cfg.seen_compact_deltas:
            self.store.compact("seen")
        if not launched:
            # else the prefetch handle owns them: its in-flight politeness/
            # pages chain still reads these caches
            self._unpersist(st.caches())

    # -- loop ------------------------------------------------------------------

    def _frontier_stats(self) -> tuple[int, float | None]:
        """(row count, min exetime) of the committed frontier — read from the
        commit manifest (observed during the frontier write, zero jobs); one
        agg-job fallback for stores written before the stats existed."""
        m = self.store.read_manifest()
        stats = m.get("rounds", {}).get(str(self.store.last_round), {})
        if "frontier_n" in stats:
            return int(stats["frontier_n"]), stats.get("frontier_min_exetime")
        frontier = self.store.read_frontier()
        agg = frontier.agg(
            F.count("*").alias("n"), F.min("exetime").alias("min_exetime")
        ).first()
        return int(agg["n"] or 0), agg["min_exetime"]

    def flush_metrics(self) -> None:
        """Materialize the metrics table from the commit manifest (the
        durable per-round record): one overwrite of a fixed delta per crawl
        instead of one write job per round. Idempotent across resumes."""
        m = self.store.read_manifest()
        rows = [
            (int(rnd_s), "Request", None, st["ok"], st["failed"], st["retried"],
             st["deferred"], st["admitted"], st["selected"], int(st.get("wall_ms", 0)))
            for rnd_s, st in m.get("rounds", {}).items()
            if "selected" in st
        ]
        if not rows:
            return
        metrics = local_frame(
            self.spark,
            sorted(rows),
            "round int, family string, host string, success long, fail long, "
            "retried long, rescheduled long, admitted long, selected long, wall_ms long",
        )
        self.store.write_delta("metrics", 0, metrics)

    def run(
        self,
        corpus: DataFrame,
        max_rounds: int | None = None,
        until_ancestor: str | None = None,
    ) -> list[dict]:
        """Run rounds until the frontier has no due rows (counter.join()
        termination analog, crawler.py:706-724) or max_rounds. Resumes from
        the last committed round automatically. Idle ticks (everything due
        in the future) are skipped arithmetically from the manifest's
        min-exetime — the loop runs zero Spark jobs between working rounds.

        ``until_ancestor`` is the web-mode wait (counter.
        join_by_ancestor_unfinished, reference crawler.py:337 + web.py:32):
        stop as soon as the frontier holds no row of that ancestor group —
        the group's every descendant fetched or terminally failed. Other
        groups' rows stay pending in the store (resumable by a later
        run()), like the reference crawler keeps serving after answering
        one query. The check is one tiny filtered count per round, only in
        this mode (never in the hot path). A group containing ``recrawl``
        rows never completes — by design, matching the reference counter
        (a recrawl re-enqueue re-increments its group).

        Rounds are software-pipelined: a round whose successor has due work
        launches that round's prefetch (selection + pages stage) from its
        commit, and the successor's run_round claims it. A prefetch still
        pending when the loop ends (an ``until_ancestor`` stop, an error)
        is discarded on the way out."""
        import math

        cfg = self.cfg
        max_rounds = max_rounds or cfg.max_rounds
        if self.store.last_round < 0:
            self.bootstrap()
        else:
            # crash replay: drop any files staged by an uncommitted round —
            # including one round further out (a prefetched next round may
            # have staged its pages delta before the crash)
            self.store.abort_uncommitted(self.store.last_round + 1)
            self.store.abort_uncommitted(self.store.last_round + 2)
        history = []
        rnd = self.store.last_round + 1
        self._in_run = True
        try:
            while rnd <= max_rounds:
                now = cfg.t0 + rnd * cfg.round_seconds
                n, min_exetime = self._frontier_stats()
                has_inbox = self._inbox_pending()
                if n == 0 and not has_inbox:
                    break  # crawl finished (counter.join() == 0, crawler.py:706-724)
                if n > 0 and min_exetime is not None and min_exetime > now and not has_inbox:
                    # jump to the first round with a due row (idle ticks are free)
                    due_round = math.ceil((min_exetime - cfg.t0) / cfg.round_seconds)
                    rnd = max(rnd + 1, due_round)
                    continue
                history.append(self.run_round(rnd, corpus, max_round=max_rounds))
                rnd += 1
                if until_ancestor is not None:
                    left = (
                        self.store.read_frontier()
                        .filter(F.col("ancestor") == until_ancestor)
                        .limit(1)
                        .count()
                    )
                    if left == 0:
                        break  # group unfinished count == 0 (web.py wait)
        finally:
            self._in_run = False
            self.discard_prefetch()
        self.flush_metrics()
        # position 3 = on_close (middleware.py:129-137): sink flush hooks;
        # called with the committed store (not a row DataFrame)
        for entry in sorted(cfg.handlers.get("on_close", []), key=lambda x: -x[0]):
            prio, fn = entry[0], entry[1]
            if prio != 0:
                fn(self.store, {"round": self.store.last_round, "config": cfg})
        return history
