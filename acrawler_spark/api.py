"""Fluent builder API — the ChainCrawler/ChainRequest/ChainItem analog.

Reference (chain.py:11-212, SURVEY §3.3): the fluent layer is sugar that
compiles to vanilla Request/ParselItem objects and runs the same engine.
Here it compiles to a (CrawlConfig, list[ItemSpec]) pair and runs the same
CrawlEngine:

    result = (
        Crawl(seeds=["http://site0.test/p/0"])
        .follow(r"site\\d+\\.test", limit=10)
        .budget(per_host=4, special={"hot": 1})
        .spawn("page", title=("h1.title::text", ["strip"]))
        .run(spark, corpus, workdir)
    )
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession

from acrawler_spark.operators.items import FieldRule, ItemSpec
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.store import CheckpointStore


class Crawl:
    def __init__(self, seeds: list[str], **cfg_kwargs):
        self._cfg = CrawlConfig(seeds=seeds, **cfg_kwargs)

    def follow(self, *patterns: str, limit: int | None = None) -> "Crawl":
        """ChainRequest.follow (chain.py:165-189): follow links matching
        the regexes, optionally capped per page."""
        self._cfg.follow_patterns = list(patterns)
        self._cfg.follow_limit = limit
        return self

    def budget(self, per_host: int = 0, special: dict[str, int] | None = None,
               delay: float = 0.0, round_cap: int | None = None) -> "Crawl":
        self._cfg.max_requests_per_host = per_host
        self._cfg.special_host_budgets = special or {}
        self._cfg.download_delay = delay
        self._cfg.round_cap = round_cap
        return self

    def robots(self, rules: dict) -> "Crawl":
        self._cfg.robots_rules = rules
        return self

    def retry(self, max_tries: int, status_allowed: list[int] | None = None) -> "Crawl":
        self._cfg.max_tries = max_tries
        self._cfg.status_allowed = status_allowed
        return self

    def spawn(self, family: str, css_divider: str | None = None,
              url_pattern: str | None = None, **fields) -> "Crawl":
        """ChainItem/ChainCrawler.add item rules (chain.py:214-306): each
        kwarg is field=(rule,) / (rule, processors) / (rule, processors,
        default)."""
        frs = {}
        for name, spec in fields.items():
            if isinstance(spec, str):
                spec = (spec,)
            rule, *rest = spec
            procs = rest[0] if rest else []
            dflt = rest[1] if len(rest) > 1 else None
            frs[name] = FieldRule(rule, processors=procs, default=dflt)
        self._cfg.item_specs.append(
            ItemSpec(family=family, fields=frs, css_divider=css_divider, url_pattern=url_pattern)
        )
        return self

    def handler(self, position: str, fn, priority: int = 100,
                family: str | None = None) -> "Crawl":
        """@register analog (middleware.py:189-266); ``family`` scopes the
        handler to matching rows (middleware.py:74-88). ``on_close``
        handlers receive the committed store, not a row DataFrame, so a
        family scope cannot apply there — rejected rather than silently
        ignored."""
        if position == "on_close" and family is not None:
            raise ValueError(
                "on_close handlers are store-level sink flushes and cannot "
                "be family-scoped (register without family)"
            )
        entry = (priority, fn) if family is None else (priority, fn, family)
        self._cfg.handlers.setdefault(position, []).append(entry)
        return self

    def config(self, **kwargs) -> "Crawl":
        """Set CrawlConfig fields by name; an unknown name (a typo, or a
        removed field) raises TypeError instead of being silently kept."""
        self._cfg = dataclasses.replace(self._cfg, **kwargs)
        return self

    def http_transport(self, timeout_s: float = 10.0, delay_s: float = 0.0,
                       max_bytes: int = 4 * 1024 * 1024,
                       user_agent: str = "acrawler-spark/0.1",
                       keep_alive: bool = True) -> "Crawl":
        """Fetch over live HTTP (sources/netfetch.py) instead of a corpus
        table: per-partition HTTP client via mapInPandas, host-affine
        partitions, ``delay_s`` honored between same-host requests,
        connection reuse per (scheme, host) by default
        (``keep_alive=False`` restores the per-request urllib opener).
        The staging pipeline (ok/status semantics, retry/recrawl, items)
        is transport-agnostic; ``run(..., corpus=None)`` is then valid."""
        self._cfg.http_fetch = {
            "timeout_s": timeout_s, "delay_s": delay_s,
            "max_bytes": max_bytes, "user_agent": user_agent,
            "keep_alive": keep_alive,
        }
        return self

    def run(self, spark: SparkSession, corpus: DataFrame | None, workdir: str) -> CheckpointStore:
        if corpus is None and self._cfg.http_fetch is None:
            raise ValueError("corpus=None requires .http_transport(...)")
        store = CheckpointStore(workdir, spark)
        CrawlEngine(spark, self._cfg, store).run(corpus)
        return store

    def until_group(
        self,
        spark: SparkSession,
        corpus: DataFrame | None,
        workdir: str,
        urls: list,
        ancestor: str | None = None,
    ) -> "DataFrame":
        """``add_then_wait`` analog (reference crawler.py:332-339 behind
        web.py:30-45's ``GET /add``): seed ``urls`` as ONE ancestor group
        (``dont_filter``, exactly as web ``add_task`` does), run rounds
        only until that group's unfinished count reaches 0, and return
        the group's items as a DataFrame. Links followed from the group's
        pages inherit its ancestor, so the wait covers the whole subtree
        (counter.join_by_ancestor_unfinished). Rows OUTSIDE the group —
        other seeds, future-delayed work — may remain pending in the
        store, resumable by a later ``run()``: the batch analog of the
        reference's crawler continuing to serve after answering a query.

        The group tag defaults to ``web@<fingerprint(first url)>`` —
        deterministic (the reference's ``web@<time>`` tag is only a
        uniquifier)."""
        from pyspark.sql import functions as F

        from acrawler_spark.kernel import fingerprint
        from acrawler_spark.plans.views import items_view

        if corpus is None and self._cfg.http_fetch is None:
            raise ValueError("corpus=None requires .http_transport(...)")
        first = urls[0] if isinstance(urls[0], str) else urls[0]["url"]
        tag = ancestor or "web@" + fingerprint(first)
        group = [
            {**({"url": u} if isinstance(u, str) else dict(u)),
             "ancestor": tag, "dont_filter": True}
            for u in urls
        ]
        self._cfg.seeds = list(self._cfg.seeds) + group
        store = CheckpointStore(workdir, spark)
        if store.last_round >= 0:
            # CrawlEngine.run only plants cfg.seeds when the store is fresh
            # (bootstrap at last_round < 0): against a resumed store the new
            # group's urls would never enter the frontier, the ancestor wait
            # would end after one round, and the deterministic tag could
            # return a PREVIOUS run's items as if freshly crawled (ADVICE
            # r5). Fail loudly instead of silently answering wrong.
            raise ValueError(
                "until_group needs a fresh workdir: "
                f"{workdir!r} already has committed rounds "
                f"(last_round={store.last_round}). Use a new workdir per "
                "query group, or resume the pending store with run()."
            )
        CrawlEngine(spark, self._cfg, store).run(corpus, until_ancestor=tag)
        pages = store.read_appended("pages")
        return items_view(pages.filter(F.col("ancestor") == tag))
