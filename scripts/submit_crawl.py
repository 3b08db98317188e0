"""spark-submit entrypoint for the crawl engine (north-rule run shape).

The north rule's production invocation is::

    scripts/package.sh                         # builds dist/acrawler_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/acrawler_spark.zip \
        --conf spark.sql.shuffle.partitions=<buckets> \
        scripts/submit_crawl.py \
        --corpus s3://.../pages_iceberg --store s3://.../crawl_state \
        --seeds-file seeds.txt --follow-pattern 'example\\.com' \
        --corpus-bucket-n 64

This script owns NO SparkSession tuning beyond what the job semantically
requires (map-key dedup policy, Arrow) — master, executor sizing, and
shuffle width come from spark-submit, which is the whole point of the
entrypoint: the same file runs on local[N] and on a 1000-executor cluster.

fetch_log's ``rank`` is always the exact per-round schedule rank: the
order ``tests/oracle.py`` pins, and the order in which a round's
discovered links are deduplicated (first discovered wins).

Resume is implicit in the store: re-submitting with the same ``--store``
continues from the last committed round (a killed job replays its
uncommitted staged files away first — plans/engine.py run()).

Prints ONE JSON summary line on success:
  {"rounds": N, "fetched": N, "ok": N, "secs": S, "urls_per_sec": R,
   "store": PATH, "resumed_from_round": R0}
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--corpus", required=True,
                   help="parquet/table path of (url, warc_ts, html, text, lang, encoding)")
    p.add_argument("--store", required=True,
                   help="checkpoint-store root (re-submit with the same path to resume)")
    p.add_argument("--seeds", default=None, help="comma-separated seed urls")
    p.add_argument("--seeds-file", default=None,
                   help="file of seed urls, one per line (# comments ok)")
    p.add_argument("--follow-pattern", action="append", default=[],
                   help="regex a followed link must match (repeatable; none = no following)")
    p.add_argument("--max-rounds", type=int, default=1000)
    p.add_argument("--round-cap", type=int, default=None,
                   help="global per-round fetch cap (MAX_REQUESTS quantized)")
    p.add_argument("--max-requests-per-host", type=int, default=0)
    p.add_argument("--download-delay", type=float, default=0.0)
    p.add_argument("--max-depth", type=int, default=None)
    p.add_argument("--max-tries", type=int, default=3)
    p.add_argument("--bloom-bits", type=int, default=1 << 26)
    p.add_argument("--bloom-buckets", type=int, default=16)
    p.add_argument("--no-bloom", action="store_true")
    p.add_argument("--corpus-bucket-n", type=int, default=None,
                   help="corpus bucket(url) partition count for DPP (Iceberg bucket analog)")
    p.add_argument("--seeds-inbox", default=None,
                   help="drop-dir for between-round seed ingestion (redis feeder analog)")
    return p


def load_seeds(args: argparse.Namespace) -> list[str]:
    seeds: list[str] = []
    if args.seeds:
        seeds += [s.strip() for s in args.seeds.split(",") if s.strip()]
    if args.seeds_file:
        with open(args.seeds_file) as fh:
            seeds += [
                ln.strip() for ln in fh
                if ln.strip() and not ln.lstrip().startswith("#")
            ]
    return seeds


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    seeds = load_seeds(args)

    from pyspark.sql import SparkSession

    # semantic configs only — cluster shape is spark-submit's job
    spark = (
        SparkSession.builder.appName("acrawler_spark_crawl")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
    from acrawler_spark.sources.store import CheckpointStore

    corpus = spark.read.parquet(args.corpus)
    store = CheckpointStore(args.store, spark)
    resumed_from = store.last_round
    if resumed_from < 0 and not seeds and not args.seeds_inbox:
        print("error: a fresh store needs --seeds/--seeds-file or --seeds-inbox",
              file=sys.stderr)
        return 2

    cfg = CrawlConfig(
        seeds=seeds,
        follow_patterns=args.follow_pattern,
        max_tries=args.max_tries,
        max_requests_per_host=args.max_requests_per_host,
        download_delay=args.download_delay,
        round_cap=args.round_cap,
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        use_bloom=not args.no_bloom,
        bloom_buckets=args.bloom_buckets,
        bloom_bits=args.bloom_bits,
        corpus_bucket_n=args.corpus_bucket_n,
        seeds_inbox=args.seeds_inbox,
    )
    t0 = time.monotonic()
    history = CrawlEngine(spark, cfg, store).run(corpus)
    secs = time.monotonic() - t0

    from pyspark.sql import functions as F

    log = store.read_appended("fetch_log")
    agg = log.agg(
        F.count("*").alias("n"), F.sum(F.col("ok").cast("long")).alias("ok")
    ).first()
    print(json.dumps({
        "rounds": len(history),
        "fetched": int(agg["n"] or 0),
        "ok": int(agg["ok"] or 0),
        "secs": round(secs, 2),
        "urls_per_sec": round(int(agg["n"] or 0) / max(secs, 1e-9), 2),
        "store": args.store,
        "resumed_from_round": resumed_from,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
