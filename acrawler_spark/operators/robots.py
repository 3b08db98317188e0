"""robots.txt admission filter — north-rule addition (NOT in the reference:
verified no 'robots' handling anywhere in /root/reference; SURVEY §7).

Model: a small per-host rules table (host, disallow array<string> of path
prefixes, crawl_delay double), broadcast-joined to the frontier as one more
admission predicate before politeness ranking. Disallowed rows are dropped
to a ``robots_blocked`` table (they are NOT retried — a disallow is
permanent for the crawl), and crawl_delay folds into the per-host budget
the same way DOWNLOAD_DELAY does: :func:`delay_budgets_df` converts each
host's delay to a per-round cap ``max(1, floor(round_seconds/delay))``,
which ``politeness.apply_host_budgets`` min-combines with the
uniform/special budget via a broadcast join on host.

Rules parsing accepts the simple robots.txt subset (User-agent: * blocks)
so fixtures can feed raw robots bodies; at production scale the parsed
rules table is itself a crawl output (fetch /robots.txt per host) stored
alongside the seen set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from acrawler_spark.session import local_frame

RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)


def parse_robots_txt(body: str) -> tuple[list[str], float | None]:
    """Minimal robots.txt parser: User-agent: * sections, Disallow and
    Crawl-delay directives. Returns (disallow_prefixes, crawl_delay)."""
    disallow: list[str] = []
    delay: float | None = None
    applies = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            applies = val == "*"
        elif applies and key == "disallow" and val:
            disallow.append(val)
        elif applies and key == "crawl-delay":
            try:
                delay = float(val)
            except ValueError:
                pass
    return disallow, delay


def rules_df(spark: SparkSession, rules: dict[str, dict]) -> DataFrame:
    """rules: {host: {"disallow": [...], "crawl_delay": s}} -> rules table."""
    rows = [
        (h, list(r.get("disallow", [])), r.get("crawl_delay"))
        for h, r in sorted(rules.items())
    ]
    return local_frame(spark, rows, RULES_SCHEMA)


def delay_budgets_df(rules: DataFrame, round_seconds: float) -> DataFrame:
    """Per-host Crawl-delay as a per-round admission cap: with delay d a
    host serves at most ``max(1, floor(round_seconds/d))`` fetches per
    round — the same fold DOWNLOAD_DELAY gets in
    ``CrawlConfig.effective_host_budget``, but per-host. The result is a
    tiny (host, delay_budget) table broadcast into the politeness stage."""
    return rules.filter(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0)
    ).select(
        "host",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(float(round_seconds)) / F.col("crawl_delay")),
        )
        .cast("int")
        .alias("delay_budget"),
    )


def apply_robots(
    frontier: DataFrame, rules: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Split frontier rows into (allowed, blocked) under the rules table.

    A row is blocked when its url path starts with any disallow prefix of
    its host. The rules side is broadcast (it is per-host metadata, tiny
    relative to the frontier); the check itself is a JVM ``exists`` over
    the prefix array — no shuffle on the frontier."""
    if rules is None:
        return frontier, frontier.limit(0)
    cols = frontier.columns
    path = F.regexp_replace(F.col("url_canon"), r"^https?://[^/]+", "")
    joined = frontier.withColumn("_path", path).join(
        F.broadcast(rules.select(F.col("host").alias("_rhost"), "disallow")),
        F.col("host") == F.col("_rhost"),
        "left",
    )
    blocked_cond = F.col("disallow").isNotNull() & F.exists(
        F.col("disallow"), lambda p: F.col("_path").startswith(p)
    )
    allowed = joined.filter(~F.coalesce(blocked_cond, F.lit(False))).select(*cols)
    blocked = joined.filter(F.coalesce(blocked_cond, F.lit(False))).select(*cols)
    return allowed, blocked
