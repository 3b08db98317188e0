"""Derived tables — views of the `pages` deltas and of the commit manifest.

The staged ``pages`` delta is the round's single materialized page-level
result (fetch status + parsed text + links, html dropped). ``items``,
``fetch_log``, ``failed`` and ``lineage`` are projections or rollups of it,
so they are never written to disk: the store serves them as *virtual
tables* — a scan of the pages deltas with column pruning (parquet reads
only the projected columns). ``metrics`` is a view of the manifest's
per-round counters. A round writes only crawl state, and avoids writing
the extracted text twice (items used to duplicate the round's largest
payload byte-for-byte).

Only rows that are NOT pure projections are materialized: per-family
ItemSpec extractions append physical ``items`` deltas, which the store
unions with the virtual base.

The views require the post-middleware pages schema (handlers are applied
before staging), including the lifecycle columns ok / defer_s / skipped /
final_fail computed at stage time — so the views are config-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acrawler_spark.session import local_frame


def items_view(pages: DataFrame) -> DataFrame:
    """Base items: one row per successfully parsed page (item.py:18-121's
    DefaultItem analog; extracted_text is the byte-identical oracle)."""
    return pages.filter(F.col("ok") & F.col("text").isNotNull()).select(
        F.col("url_canon").alias("url"),
        F.col("family"),
        F.col("callback_family"),
        F.col("text").alias("extracted_text"),
        F.col("lang"),
        F.col("depth"),
        F.col("round"),
        F.lit(None).cast("map<string,string>").alias("content"),
    )


def fetch_log_view(pages: DataFrame) -> DataFrame:
    """Per-fetch audit row (schedule rank, status, lifecycle outcome)."""
    return pages.select(
        "url",
        "url_canon",
        "fingerprint",
        "round",
        "rank",
        "status",
        "ok",
        F.col("tries_done").alias("tries"),
        "host",
        "bytes",
        # a user-deferred row (ReScheduleError, counter flag -2) is not a
        # fetch failure in the reference — label it distinctly instead of
        # surfacing a bogus '<200>' error for a rescheduled corpus hit
        F.when(F.col("defer_s") > 0, F.lit("<deferred>"))
        .when(~F.col("ok"), F.concat(F.lit("<"), F.col("status"), F.lit(">")))
        .alias("error"),
    )


def failed_view(pages: DataFrame) -> DataFrame:
    """Terminally failed fetches (tries exhausted — crawler.py:107-114)."""
    return pages.filter(F.col("final_fail")).select(
        "url",
        "url_canon",
        "fingerprint",
        "host",
        F.col("tries_done").alias("tries"),
        "status",
        "round",
    )


def lineage_view(pages: DataFrame) -> DataFrame:
    """Per-partition lineage (north rule): fetches, successes and bytes per
    (round, scan partition); a round's ``n_rows`` sum to its selected set."""
    return (
        fetch_log_view(pages)
        .groupBy(F.spark_partition_id().alias("partition_id"), "round")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum("bytes").alias("bytes"),
        )
        .select("partition_id", "n_rows", "n_ok", "bytes", "round")
    )


METRICS_SCHEMA = (
    "round int, family string, host string, success long, fail long, "
    "retried long, rescheduled long, admitted long, selected long, wall_ms long"
)


def metrics_view(spark: SparkSession, manifest: dict, upto: int) -> DataFrame | None:
    """One row per committed crawl round ≤ ``upto``, from the counters its
    manifest entry carries (the bootstrap entry has none). None before the
    first round commits."""
    rows = sorted(
        (int(rnd_s), "Request", None, st["ok"], st["failed"], st["retried"],
         st["deferred"], st["admitted"], st["selected"], int(st.get("wall_ms", 0)))
        for rnd_s, st in manifest.get("rounds", {}).items()
        if "selected" in st and int(rnd_s) <= upto
    )
    return local_frame(spark, rows, METRICS_SCHEMA) if rows else None


# the views read_appended serves over the pages deltas ("metrics", a view
# of the manifest, is served by metrics_view)
VIRTUAL_TABLES = {
    "items": items_view,
    "fetch_log": fetch_log_view,
    "failed": failed_view,
    "lineage": lineage_view,
}
