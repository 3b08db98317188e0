"""The `lineage` and `metrics` tables are store views: readable as soon as a
round commits, bounded by ``upto_round``, and never written by a crawl."""

import os

from pyspark.sql import functions as F

from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore

FOLLOW = [r"site\d+\.test"]
LINEAGE_SCHEMA = "struct<partition_id:int,n_rows:bigint,n_ok:bigint,bytes:bigint,round:int>"
METRICS_SCHEMA = (
    "struct<round:int,family:string,host:string,success:bigint,fail:bigint,"
    "retried:bigint,rescheduled:bigint,admitted:bigint,selected:bigint,wall_ms:bigint>"
)


def test_views_of_a_round_by_round_crawl(spark, tmp_path):
    """A crawl driven by bootstrap + run_round (no run()) serves both
    views; each holds only the rounds up to ``upto_round``, metrics rows
    carry the manifest's counters, and lineage sums to each round's
    fetches."""
    corpus = fixture_corpus_df(spark, n_hosts=3, depth=2, fanout=3)
    cfg = CrawlConfig(seeds=seed_urls(3), follow_patterns=FOLLOW, bloom_bits=1 << 14)
    store = CheckpointStore(str(tmp_path / "s"), spark)
    engine = CrawlEngine(spark, cfg, store)
    engine.bootstrap()
    history = [engine.run_round(1, corpus), engine.run_round(2, corpus)]

    assert store.read_appended("metrics", upto_round=0) is None
    entries = store.read_manifest()["rounds"]
    for upto in (1, 2):
        metrics = store.read_appended("metrics", upto_round=upto)
        assert metrics.schema.simpleString() == METRICS_SCHEMA
        rows = metrics.orderBy("round").collect()
        assert [r["round"] for r in rows] == list(range(1, upto + 1))
        for r in rows:
            e = entries[str(r["round"])]
            assert (r["success"], r["fail"], r["retried"], r["rescheduled"],
                    r["admitted"], r["selected"], r["wall_ms"]) == (
                e["ok"], e["failed"], e["retried"], e["deferred"],
                e["admitted"], e["selected"], e["wall_ms"])

        lineage = store.read_appended("lineage", upto_round=upto)
        assert lineage.schema.simpleString() == LINEAGE_SCHEMA
        per_round = lineage.groupBy("round").agg(
            F.sum("n_rows").alias("n"), F.sum("n_ok").alias("ok")
        ).collect()
        assert {r["round"]: (r["n"], r["ok"]) for r in per_round} == {
            h["round"]: (h["selected"], h["ok"]) for h in history[:upto]
        }

    for table in ("lineage", "metrics"):
        assert not os.path.exists(os.path.join(store.root, table)), table
