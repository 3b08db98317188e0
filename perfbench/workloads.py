"""The benchmark workloads: bulk_bfs, polite_rounds and dataprep_ops.

Each workload is a closed batch run: one job at a time, the next starting
when the previous one has finished. A workload object is driven by run.py in
this order: ``setup`` (several times; the last result is kept), ``warmup``,
then ``job`` repeatedly inside the timed window, ``check`` on every job's
outputs outside the window, and in a traced run ``layer_metrics``.

``job`` returns ``{"items": n, "steps": [seconds, ...], "out": ...}``:
``items`` is the work count the throughput metrics divide by (fetched URLs,
or input rows of the query suite) and ``steps`` are the per-step walls
(crawl rounds, or suite queries).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from acrawler_spark import kernel, textops
from acrawler_spark.functions.udfs import make_parse_page_udf
from acrawler_spark.operators.dedup import BloomSidecar
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import corpus_from_documents
from acrawler_spark.sources.store import CheckpointStore

from perfbench import inputs

FOLLOW = [r"site\d+\.test"]
STORE_TABLES = ("pages", "seen", "frontier", "lineage", "metrics")
QUERIES = (
    "dedup_exact", "dedup_minhash", "dedup_simhash_pairs", "embedding_topk",
    "ann_ivf_topk_scale", "text_quality", "dedup_substr_hashkey",
)
# input sizes; "smoke" is the self-test size (sf0.001-sized tables).
# bulk_bfs: docs/vecs tables, pages = docs * mult; polite_rounds: fixture
# hosts/depth; dataprep_ops: query_docs/query_vecs tables
SIZES = {
    "full": {"docs": 3000, "vecs": 2000, "mult": 1, "body_repeat": 64, "seed_depth": 3,
             "polite_hosts": 32, "polite_depth": 3, "query_docs": 2000, "query_vecs": 500},
    "smoke": {"docs": 500, "vecs": 500, "mult": 1, "body_repeat": 4, "seed_depth": 3,
              "polite_hosts": 4, "polite_depth": 2, "query_docs": 500, "query_vecs": 500},
}


def _tree_stats(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return size, n


def kernel_pages_per_s(pages: list[tuple[bytes, str, str]], min_s: float = 0.5) -> float:
    """Spark-free parse kernel: decode + absolutize + link extraction."""
    done, t0 = 0, time.monotonic()
    while True:
        for html, enc, url in pages:
            kernel.extracted_text(html, enc, url, links_to_abs=True)
            kernel.follow_links(kernel.decode_body(html, enc), url, FOLLOW)
        done += len(pages)
        el = time.monotonic() - t0
        if el >= min_s:
            return done / el


def run_suite(spark, sf: str, tracer=None) -> tuple[dict[str, pd.DataFrame], list[float]]:
    """Each suite query materialized to pandas; per-query walls."""
    results, steps = {}, []
    for q in QUERIES:
        fn = textops.REGISTRY[q][0]
        ts = time.monotonic()
        if tracer is None:
            results[q] = fn(spark, sf).toPandas()
        else:
            results[q] = tracer.span(f"textops.{q}", lambda: fn(spark, sf).toPandas())
        steps.append(time.monotonic() - ts)
    return results, steps


class CrawlWorkload:
    """Shared crawl runner: a store per job, ``CrawlEngine.run`` timed."""

    n_setups = 3
    uses_crawl = True
    ops_per_job = 1  # one crawl run

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.corpus = None
        self.cfg: CrawlConfig | None = None
        self.n_jobs = 0
        self.build_s: list[float] = []

    def warmup(self) -> None:
        """Start the Python worker pool (interpreter, pandas, Arrow) outside
        the window. The crawl's own plans are left to compile inside it, as
        they do in a crawl submitted as its own Spark application."""
        udf = make_parse_page_udf(True, FOLLOW)
        self.corpus.limit(64).select(
            F.size(udf("html", "encoding", "url").getField("links"))
        ).collect()

    def job(self, tracer=None) -> dict:
        root = os.path.join(self.work, f"store{self.n_jobs}")
        self.n_jobs += 1
        store = CheckpointStore(root, self.spark)
        engine = CrawlEngine(self.spark, self.cfg, store)
        if tracer is not None:
            tracer.install()
        try:
            e0, t0 = time.time(), time.monotonic()
            history = engine.run(self.corpus)
            wall, e1 = time.monotonic() - t0, time.time()
        finally:
            if tracer is not None:
                tracer.uninstall()
        return {
            "wall": wall,
            "epoch0": e0,
            "epoch1": e1,
            "items": sum(h["selected"] for h in history),
            "steps": [h["wall_s"] for h in history],
            "out": {"store": store, "engine": engine, "history": history},
        }

    def failed_ops(self, errors: list[str]) -> int:
        return int(bool(errors))

    def release(self, out: dict) -> None:
        shutil.rmtree(out["store"].root, ignore_errors=True)

    def kernel_sample(self) -> list[tuple[bytes, str, str]]:
        rows = self.corpus.select("html", "encoding", "url").limit(200).collect()
        return [(bytes(r["html"]), r["encoding"], r["url"]) for r in rows]

    def layer_metrics(self, out: dict, tracer) -> dict[str, float]:
        store, engine = out["store"], out["engine"]
        rounds = tracer.rounds
        n = len(rounds)
        m: dict[str, float] = {}
        for key in ("pages_stage", "misses_stage", "commit_dag_build", "commit_writes"):
            m[f"engine.{key}_s"] = sum(r["timing"].get(key, 0.0) for r in rounds)
        m["engine.rounds"] = float(n)
        m["engine.round_wall_s"] = sum(r["wall_s"] for r in rounds)
        m["politeness.selected_p50"] = float(statistics.median(r["selected"] for r in rounds))
        m["politeness.deferred"] = float(sum(r["deferred"] for r in rounds))
        pages = store.read_appended("pages")
        cand = pages.filter(F.col("links").isNotNull()).select(
            F.sum(F.size("links"))).first()[0] or 0
        admitted = sum(r["admitted"] for r in rounds)
        m["dedup.candidates"] = float(cand)
        m["dedup.admitted"] = float(admitted)
        m["dedup.admit_ratio"] = admitted / cand if cand else 0.0
        m["dedup.bloom_fp_frac"] = self._bloom_fp_frac(engine)
        for t in STORE_TABLES:
            size, files = _tree_stats(os.path.join(store.root, t))
            m[f"store.bytes.{t}"] = float(size)
            m[f"store.files.{t}"] = float(files)
        for t in ("pages", "seen", "lineage", "metrics"):
            m[f"store.write_delta.{t}_s"] = tracer.total(f"store.write_delta.{t}")
        for name in ("write_frontier", "append_frontier", "commit_round"):
            m[f"store.{name}_s"] = tracer.total(f"store.{name}")
        m["kernel.pages_per_s"] = kernel_pages_per_s(self.kernel_sample())
        m["corpus.build_s"] = statistics.median(self.build_s)
        # the training-data ops layer, on dataprep_ops-sized tables: no crawl
        # metric depends on it, but it shares the session layer
        sf = os.path.join(self.work, "suite")
        inputs.write_tables(sf, self.seed, self.size["query_docs"], self.size["query_vecs"])
        run_suite(self.spark, sf, tracer)
        m.update({f"textops.{q}_s": tracer.total(f"textops.{q}") for q in QUERIES})
        return m

    def _bloom_fp_frac(self, engine: CrawlEngine, n: int = 20000) -> float:
        """Share of fingerprints known to be absent that the Bloom flags."""
        if engine.bloom is None:
            return 0.0
        side = BloomSidecar(engine.bloom.path, engine.bloom.n_buckets, engine.bloom.m_bits)
        absent = self.spark.range(n).select(
            F.sha1(F.concat(F.lit("http://absent.test/"), F.col("id").cast("string"),
                            F.lit("GET"))).alias("fingerprint")
        )
        flagged = side.with_maybe_seen(absent).filter(F.col("_maybe_seen")).count()
        return flagged / n


class BulkBfs(CrawlWorkload):
    """One large BFS round over a documents-derived corpus."""

    name = "bulk_bfs"
    n_hosts, fanout, n_buckets = 32, 8, 16

    def setup(self) -> None:
        s = self.size
        sf = os.path.join(self.work, "sf")
        inputs.write_tables(sf, self.seed, s["docs"], s["vecs"])
        cdir = os.path.join(self.work, "corpus")
        shutil.rmtree(cdir, ignore_errors=True)
        t0 = time.monotonic()
        # bucket(url) directory layout, so the fetch join prunes partitions
        corpus_from_documents(
            self.spark, sf, n_hosts=self.n_hosts, fanout=self.fanout,
            multiplier=s["mult"], body_repeat=s["body_repeat"],
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets))
        ).repartition(self.n_buckets, "bucket").write.partitionBy("bucket").parquet(cdir)
        self.build_s.append(time.monotonic() - t0)
        self.corpus = self.spark.read.parquet(cdir)
        self.n_pages = s["docs"] * s["mult"]
        seeds = inputs.bulk_seeds(self.seed, self.n_pages, self.n_hosts, self.fanout,
                                  s["seed_depth"])
        self.cfg = CrawlConfig(
            seeds=seeds,
            follow_patterns=FOLLOW,
            # ~10 bits per key at crawl end: the Bloom's designed operating point
            bloom_bits=1 << max(6, math.ceil(math.log2(10 * self.n_pages / 16))),
            corpus_bucket_n=self.n_buckets,
        )

    def check(self, out: dict, corrupt: str | None) -> list[str]:
        store = out["store"]
        errors = []
        log = store.read_appended("fetch_log")
        corpus_urls = self.corpus.select(F.col("url").alias("url_canon"))
        got = log.agg(F.count("*").alias("n"), F.countDistinct("url_canon").alias("d"),
                      F.sum(F.col("ok").cast("long")).alias("ok")).first()
        outside = log.select("url_canon").join(corpus_urls, "url_canon", "left_anti").count()
        if not (got["n"] == got["d"] == got["ok"] == self.n_pages and outside == 0):
            errors.append(f"fetched set: {got.asDict()} outside={outside} want {self.n_pages}")
        items = store.read_appended("items").select("url", "extracted_text")
        if corrupt == "text":
            first = items.orderBy("url").first()["url"]
            items = items.withColumn(
                "extracted_text",
                F.when(F.col("url") == first, F.concat("extracted_text", F.lit("x")))
                .otherwise(F.col("extracted_text")),
            )
        joined = items.join(self.corpus.select("url", "text"), "url")
        bad = joined.filter(~F.col("extracted_text").eqNullSafe(F.col("text"))).count()
        n_items = items.count()
        if bad or n_items != self.n_pages:
            errors.append(f"extracted text: {bad} mismatches, {n_items} items")
        seen = store.read_appended("seen").select("fingerprint")
        if corrupt == "seen":
            drop = seen.orderBy("fingerprint").first()["fingerprint"]
            seen = seen.filter(F.col("fingerprint") != drop)
        n_seen = seen.distinct().count()
        if n_seen != self.n_pages:
            errors.append(f"seen: {n_seen} distinct fingerprints, want {self.n_pages}")
        return errors


class PoliteRounds(CrawlWorkload):
    """One small politeness-bound round over the fixture page graph."""

    name = "polite_rounds"
    fanout, budget, rounds = 3, 2, 1

    def setup(self) -> None:
        s = self.size
        t0 = time.monotonic()
        self.rows, seeds = inputs.polite_pages(
            self.seed, s["polite_hosts"], s["polite_depth"], self.fanout
        )
        cdir = os.path.join(self.work, "corpus")
        shutil.rmtree(cdir, ignore_errors=True)
        inputs.write_corpus(cdir, self.rows)
        self.build_s.append(time.monotonic() - t0)
        self.corpus = self.spark.read.parquet(cdir)
        self.cfg = CrawlConfig(
            seeds=seeds,
            follow_patterns=FOLLOW,
            max_requests_per_host=self.budget,
            max_rounds=self.rounds,
        )

    def check(self, out: dict, corrupt: str | None) -> list[str]:
        from tests.oracle import OracleCrawl

        cfg, store, history = self.cfg, out["store"], out["history"]
        want = OracleCrawl(
            self.rows, cfg.seeds, FOLLOW, max_tries=cfg.max_tries,
            uniform_budget=cfg.effective_host_budget(), t0=cfg.t0,
            round_seconds=cfg.round_seconds,
        ).run(max_rounds=cfg.max_rounds)
        errors = []
        schedule: dict[int, list] = {}
        for r in store.read_appended("fetch_log").select("round", "rank", "url_canon").collect():
            schedule.setdefault(r["round"], []).append((r["rank"], r["url_canon"]))
        schedule = {k: [u for _, u in sorted(v)] for k, v in schedule.items()}
        if schedule != want.schedule:
            errors.append("per-round schedule order differs from the oracle")
        seen = {r["fingerprint"] for r in store.read_appended("seen").collect()}
        if corrupt == "seen":
            seen.discard(min(seen))
        if seen != want.seen:
            errors.append(f"seen set: {len(seen)} vs oracle {len(want.seen)}")
        items = {r["url"]: r["extracted_text"] for r in store.read_appended("items").collect()}
        if corrupt == "text":
            first = min(items)
            items[first] += "x"
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

    def kernel_sample(self) -> list[tuple[bytes, str, str]]:
        return [(r["html"], r["encoding"], r["url"]) for r in self.rows[:200]]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            for x, y in zip(a, b):
                if pd.isna(x) != pd.isna(y) or (
                    not pd.isna(x) and not math.isclose(float(x), float(y), abs_tol=1e-9)
                ):
                    return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


class DataprepOps:
    """A fixed suite of training-data queries, each timed to a pandas result.

    Runnable by name but not in BENCHMARK.json: its runs do not fit the
    benchmark's time budget beside the two crawl workloads. Its layer is
    timed in every traced bulk_bfs run instead."""

    name = "dataprep_ops"
    n_setups = 3
    uses_crawl = False
    ops_per_job = len(QUERIES)  # one operation per query

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.sf = os.path.join(work, "sf")
        self.oracle: dict[str, pd.DataFrame] | None = None

    def setup(self) -> None:
        shutil.rmtree(self.sf, ignore_errors=True)
        docs, vecs = self.size["query_docs"], self.size["query_vecs"]
        inputs.write_tables(self.sf, self.seed, docs, vecs)
        # input rows the suite reads: documents for the text queries,
        # embeddings for the vector ones
        self.items = sum(
            vecs if q in ("embedding_topk", "ann_ivf_topk_scale") else docs
            for q in QUERIES
        )

    def warmup(self) -> None:
        self.job()

    def job(self, tracer=None) -> dict:
        e0, t0 = time.time(), time.monotonic()
        results, steps = run_suite(self.spark, self.sf, tracer)
        return {"wall": time.monotonic() - t0, "epoch0": e0, "epoch1": time.time(),
                "items": self.items, "steps": steps, "out": results}

    def release(self, out: dict) -> None:
        pass

    def check(self, out: dict, corrupt: str | None) -> list[str]:
        if self.oracle is None:
            import duckdb

            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            self.oracle = {q: con.sql(textops.REGISTRY[q][1]).df() for q in QUERIES}
            con.close()
        errors = []
        for q in QUERIES:
            got = out[q]
            if corrupt == "query" and q == QUERIES[0]:
                got = got.iloc[1:]
            if not _same(got, self.oracle[q]):
                errors.append(f"{q}: result differs from the DuckDB oracle")
        return errors

    def failed_ops(self, errors: list[str]) -> int:
        return len(errors)

    def layer_metrics(self, out: dict, tracer) -> dict[str, float]:
        return {f"textops.{q}_s": tracer.total(f"textops.{q}") for q in QUERIES}


WORKLOADS = {w.name: w for w in (BulkBfs, PoliteRounds, DataprepOps)}
