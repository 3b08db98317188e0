"""Per-round wall and CPU of a multi-round crawl on one warm JVM.

Usage: python scripts/probe_rounds.py [--cpus N] [--seed S] [--hosts H]
       [--depth D] [--budget B]
(defaults: 4 cores, seed 1, 8 hosts, depth 3, budget 2 fetches per host per
round)

Starts one local[N] session and writes the polite fixture corpus
(``perfbench.inputs.polite_pages``: the fixture page graph with seeded host
names, each host seeded with its root page and a dead link). It warms the
JVM and the Python workers with one round of the same crawl in a throwaway
store, which runs the parse UDF, then crawls the fixture to completion with
``CrawlEngine.run`` on a fresh store. With a per-host budget the crawl has
rounds that admit new links and rounds that only drain politeness-deferred
rows and retries.

The result is checked against the hermetic oracle (``tests/oracle.py``):
schedule, seen set, items text, failed set and per-round counters. A
mismatch prints the differences and exits 1.

Prints one line per round (``mode``, ``wall_s``, ``selected`` from the
history ``run()`` returns), then one JSON line: crawl wall, process-tree
CPU-s and Python-worker CPU-s over the crawl (from /proc, see
``perfbench/procfs.py``), and the per-round modes. Compare two commits by
running this script from each checkout in turn, several times, interleaved.
The driver heap defaults to 3g (``ACRAWLER_DRIVER_MEM`` overrides it).
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.procfs import ProcTree  # noqa: E402

FOLLOW = [r"site\d+\.test"]


def oracle_errors(rows, cfg, store, history) -> list[str]:
    from tests.oracle import OracleCrawl

    want = OracleCrawl(
        rows, cfg.seeds, FOLLOW, max_tries=cfg.max_tries,
        uniform_budget=cfg.effective_host_budget(), t0=cfg.t0,
        round_seconds=cfg.round_seconds,
    ).run(max_rounds=cfg.max_rounds)
    errors = []
    schedule: dict[int, list] = {}
    for r in store.read_appended("fetch_log").select("round", "rank", "url_canon").collect():
        schedule.setdefault(r["round"], []).append((r["rank"], r["url_canon"]))
    if {k: [u for _, u in sorted(v)] for k, v in schedule.items()} != want.schedule:
        errors.append("per-round schedule differs from the oracle")
    if {r["fingerprint"] for r in store.read_appended("seen").collect()} != want.seen:
        errors.append("seen set differs from the oracle")
    items = {r["url"]: r["extracted_text"] for r in store.read_appended("items").collect()}
    if items != want.items:
        errors.append("items text differs from the oracle")
    failed_df = store.read_appended("failed")
    failed = sorted(r["url_canon"] for r in failed_df.collect()) if failed_df else []
    if failed != sorted(want.failed):
        errors.append("failed set differs from the oracle")
    for h in history:
        got = {k: v for k, v in h.items() if k not in ("timing", "wall_s")}
        if got != want.fetch_counts.get(h["round"]):
            errors.append(f"round {h['round']} counters {got}")
    return errors


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--hosts", type=int, default=8)
    p.add_argument("--depth", type=int, default=3)
    p.add_argument("--budget", type=int, default=2)
    args = p.parse_args()

    # the session's 8g default heap is sized for bench-scale crawls; this
    # crawl needs far less, and a smaller heap keeps the probe's RSS small
    os.environ.setdefault("ACRAWLER_DRIVER_MEM", "3g")
    from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
    from acrawler_spark.session import get_spark
    from acrawler_spark.sources.store import CheckpointStore

    spark = get_spark("probe_rounds", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)
    tree = ProcTree()
    work = tempfile.mkdtemp(prefix="probe_rounds_")
    try:
        rows, seeds = inputs.polite_pages(args.seed, args.hosts, args.depth, fanout=3)
        inputs.write_corpus(os.path.join(work, "corpus"), rows)
        corpus = spark.read.parquet(os.path.join(work, "corpus"))
        cfg = CrawlConfig(seeds=seeds, follow_patterns=FOLLOW,
                          max_requests_per_host=args.budget)

        warm = CheckpointStore(os.path.join(work, "warm"), spark)
        CrawlEngine(spark, cfg, warm).run(corpus, max_rounds=1)

        store = CheckpointStore(os.path.join(work, "crawl"), spark)
        engine = CrawlEngine(spark, cfg, store)
        c0, w0 = tree.cpu_s(), tree.cpu_s(workers_only=True)
        t0 = time.monotonic()
        history = engine.run(corpus)
        wall = time.monotonic() - t0
        cpu, py_cpu = tree.cpu_s() - c0, tree.cpu_s(workers_only=True) - w0

        for h in history:
            print(f"round {h['round']:3d} {h['timing']['mode']:8s} "
                  f"wall_s {h['wall_s']:7.3f} selected {h['selected']:4d}", flush=True)
        errors = oracle_errors(rows, cfg, store, history)
        print(json.dumps({
            "seed": args.seed,
            "cpus": args.cpus,
            "rounds": len(history),
            "crawl_wall_s": round(wall, 2),
            "tree_cpu_s": round(cpu, 2),
            "python_worker_cpu_s": round(py_cpu, 2),
            "modes": [h["timing"]["mode"] for h in history],
            "oracle": "ok" if not errors else errors,
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
