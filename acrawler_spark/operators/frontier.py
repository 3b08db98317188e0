"""Frontier row construction: seeds and link candidates.

The frontier table is the Spark equivalent of the reference's priority queue
of Request tasks (scheduler.py:124-175); one row per pending fetch, schema
per FIXTURES.md §2. Queue order is never stored — it is the composite sort
key (priority DESC, exetime ASC, fingerprint ASC), the precision-safe
equivalent of ``score = priority*1e10 - exetime`` (task.py:92-93).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from acrawler_spark.functions.url import canonicalize_col, fingerprint_col, host_col
from acrawler_spark.session import local_frame

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("exetime", T.DoubleType(), False),
        T.StructField("tries", T.IntegerType(), False),
        T.StructField("recrawl", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("dont_filter", T.BooleanType(), False),
        T.StructField("family", T.StringType(), True),
        # callback chain routing (http.py:102-104): which parse family's
        # ItemSpecs apply to this row's response. Whether children keep
        # the parent's chain is config (CrawlConfig.follow_callbacks):
        # the reference's paginate copies it (http.py:427-435) while bare
        # follow/parse_links yield Request(link) with no callbacks
        # (parser.py:97); `family` always resets to "Request" for
        # followed links.
        T.StructField("callback_family", T.StringType(), True),
        T.StructField("ancestor", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        # per-request allowed statuses (http.py:101): NULL -> config default;
        # [] -> allow-all; else explicit list (http.py:270-281)
        T.StructField("status_allowed", T.ArrayType(T.IntegerType()), True),
        # task.py:51: a failed task with ignore_exception set is not
        # retried — it goes straight to the failed table
        T.StructField("ignore_exception", T.BooleanType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
        T.StructField("discovery_idx", T.LongType(), False),
    ]
)

_FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def _with_url_identity(df: DataFrame) -> DataFrame:
    """Attach url_canon / fingerprint / host (all JVM expressions)."""
    canon = canonicalize_col(F.col("url"))
    return (
        df.withColumn("url_canon", canon)
        .withColumn("fingerprint", fingerprint_col(F.col("url_canon"), F.col("method")))
        .withColumn("host", host_col(F.col("url")))
    )


def seeds_frontier(
    spark: SparkSession,
    seeds: list,
    t0: float,
    priority: int = 0,
    recrawl: int = 0,
    family: str = "Request",
) -> DataFrame:
    """Round-0 frontier from start_urls (reference crawler.py:295-302).

    Each seed is a plain url string or a dict of per-Request fields
    (http.py:99-105): ``{"url": ..., "method": "POST", "priority": 2,
    "status_allowed": [503], "family": ..., "recrawl": s, "meta": {...},
    "delay_s": 60, "ancestor": "web@...", "dont_filter": True}``.
    Seed exetime = init_time = t0 (task.py:73-79) + optional ``delay_s``
    (the reference's Request(exetime=now+delay) shape); ancestor = own
    fingerprint (crawler.py:341-364: tasks without a parent group by their
    own fp) unless tagged explicitly (add_task(ancestor=...) — the
    web-mode group tag, crawler.py:332-339); ``dont_filter`` mirrors
    add_task(dont_filter=True)."""
    rows = []
    for i, s in enumerate(seeds):
        s = {"url": s} if isinstance(s, str) else dict(s)
        rows.append(
            (
                s["url"], i, s.get("method", "GET"),
                int(s.get("priority", priority)), int(s.get("recrawl", recrawl)),
                s.get("status_allowed"), s.get("family", family),
                # a seed's callback family defaults to its own family (the
                # spider parse the reference would bind, crawler.py:295-302)
                s.get("callback_family", s.get("family", family)),
                {str(k): str(v) for k, v in (s.get("meta") or {}).items()},
                bool(s.get("ignore_exception", False)),
                float(s.get("delay_s", 0.0)),
                s.get("ancestor"),
                bool(s.get("dont_filter", False)),
            )
        )
    df = local_frame(
        spark,
        rows,
        "url string, seed_idx long, method string, priority int, recrawl long, "
        "status_allowed array<int>, family string, callback_family string, "
        "meta map<string,string>, ignore_exception boolean, delay_s double, "
        "seed_ancestor string, seed_dont_filter boolean",
    )
    df = _with_url_identity(df)
    df = (
        df.withColumn("exetime", F.lit(float(t0)) + F.col("delay_s"))
        .withColumn("tries", F.lit(0))
        .withColumn("depth", F.lit(0))
        .withColumn("dont_filter", F.col("seed_dont_filter"))
        .withColumn("ancestor", F.coalesce(F.col("seed_ancestor"), F.col("fingerprint")))
        .withColumn("discovered_round", F.lit(-1))
        .withColumn("discovery_idx", F.col("seed_idx").cast("long"))
    )
    return df.select(*_FRONTIER_COLS)


def candidates_from_links(
    parsed: DataFrame,
    rnd: int,
    now: float,
    child_priority: int = 0,
    max_depth: int | None = None,
) -> DataFrame:
    """Explode parsed pages' out-links into frontier candidate rows.

    ``parsed`` needs: links array<string>, depth, ancestor, meta, rank,
    callback_family
    (the page's per-round schedule rank — discovery order comes from
    (rank, link position), making within-round dedup deterministic,
    SURVEY §7). Child priority defaults to 0 — a followed link is a fresh
    ``Request(link)`` with default priority in the reference
    (parser.py:97), not the parent's."""
    c = (
        parsed.select(
            "depth",
            "ancestor",
            "meta",
            "rank",
            "callback_family",
            F.posexplode("links").alias("pos", "url"),
        )
        .withColumn("method", F.lit("GET"))
        .withColumn("depth", F.col("depth") + 1)
    )
    if max_depth is not None:
        c = c.filter(F.col("depth") <= max_depth)
    c = _with_url_identity(c)
    return c.select(
        "url",
        "url_canon",
        "fingerprint",
        "method",
        "host",
        F.lit(child_priority).cast("int").alias("priority"),
        F.lit(float(now)).alias("exetime"),
        F.lit(0).alias("tries"),
        F.lit(0).cast("long").alias("recrawl"),
        "depth",
        F.lit(False).alias("dont_filter"),
        F.lit("Request").alias("family"),
        # the caller decides callback inheritance: the engine passes the
        # parent's callback_family through for the paginate shape
        # (http.py:427-435 copies callbacks) or NULLs it for the
        # bare-follow shape (parser.py:97 yields Request(link) with no
        # callbacks) — CrawlConfig.follow_callbacks
        "callback_family",
        "ancestor",
        "meta",
        # followed links are fresh Requests with default per-request config
        # (parser.py:97) — allowed statuses fall back to the crawl config
        F.lit(None).cast("array<int>").alias("status_allowed"),
        F.lit(False).alias("ignore_exception"),
        F.lit(rnd).alias("discovered_round"),
        (F.col("rank").cast("long") * F.lit(1_000_000) + F.col("pos")).alias("discovery_idx"),
    )
