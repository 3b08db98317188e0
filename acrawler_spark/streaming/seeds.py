"""Between-round seed ingestion — the redis seed feeder analog.

Reference: handlers.py:282-293 loops SPOP on REDIS_START_KEY and wraps each
url as a Request; utils.py:164-188 is the external producer. The batch
engine's equivalent is a drop-directory: external producers write text
files of urls, one per line, into a seeds inbox (``push_start_urls`` drops
one atomically). Every file is read as text lines, so only text files may
be dropped there. Between rounds the engine drains the inbox,
canonicalizes/fingerprints the urls, admits them through the same
dupefilter path as followed links, and moves the consumed files aside. The reference's lock_always/redis mode
(crawler.py:423-429: never terminate, keep polling) maps to running the
round loop with ``max_rounds`` unbounded while an inbox exists.

The crawl stays batch-iterative (SURVEY §2.11: no event-time semantics in
the reference, so no Structured Streaming state is warranted); this is the
ingestion boundary only.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acrawler_spark.operators.frontier import seeds_frontier


class SeedFeeder:
    def __init__(self, spark: SparkSession, inbox_dir: str):
        self.spark = spark
        self.inbox = inbox_dir
        os.makedirs(inbox_dir, exist_ok=True)
        self._consumed = os.path.join(inbox_dir, "_consumed")
        os.makedirs(self._consumed, exist_ok=True)

    def pending_files(self) -> list[str]:
        return sorted(
            os.path.join(self.inbox, f)
            for f in os.listdir(self.inbox)
            if not f.startswith("_") and os.path.isfile(os.path.join(self.inbox, f))
        )

    def drain(self, rnd: int, now: float) -> tuple[DataFrame | None, list[str], int]:
        """Read pending seed files as frontier candidate rows (same schema
        as followed links — they go through the normal dedup admission).

        Returns (df, files, n_urls). ``n_urls`` is the raw line count —
        known driver-side for free, and an upper bound on the admitted
        rows (admission only drops), so the engine can prove broadcast
        bounds for inbox-fed rounds without a Spark action. The caller
        MUST call :meth:`consume` with the file list only AFTER its round
        commit — so a crash between drain and commit re-delivers the seeds
        (at-least-once; the dupefilter makes re-delivery idempotent,
        scheduler.py:282-291)."""
        files = self.pending_files()
        if not files:
            return None, [], 0
        urls: list[str] = []
        for f in files:
            with open(f) as fh:
                urls.extend(u.strip() for u in fh if u.strip())
        df = None
        if urls:
            df = (
                seeds_frontier(self.spark, urls, now)
                .withColumn("discovered_round", F.lit(rnd))
            )
        return df, files, len(urls)

    def consume(self, files: list[str]) -> None:
        """Move delivered files aside (SPOP semantics) — post-commit only."""
        for f in files:
            os.replace(f, os.path.join(self._consumed, os.path.basename(f)))


def push_start_urls(inbox_dir: str, urls: list[str], batch_id: str = "seeds") -> str:
    """External-producer helper (redis_push_start_urls analog,
    utils.py:164-188): atomically drop a url batch into the inbox. Every
    drop gets its own file (``batch_id`` is its name's prefix), so batches
    pushed before one drain all arrive, like SADDs to the reference's set,
    and concurrent producers never share a temp file."""
    os.makedirs(inbox_dir, exist_ok=True)
    name = f"{batch_id}-{time.time_ns()}-{uuid.uuid4().hex}.txt"
    tmp = os.path.join(inbox_dir, f"_tmp_{name}")
    dst = os.path.join(inbox_dir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(urls))
    os.replace(tmp, dst)
    return dst
