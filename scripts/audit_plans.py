"""Print `.explain("formatted")` evidence for the engine's key plans as
markdown on stdout — pushdown, codegen spans, join strategies, window shapes.

Usage: python scripts/audit_plans.py 2>/dev/null > plans.md
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from acrawler_spark.functions.url import canonicalize_col, fingerprint_col, host_col
from acrawler_spark.operators.dedup import admit_new_candidates
from acrawler_spark.operators.frontier import seeds_frontier
from acrawler_spark.operators.politeness import apply_host_budgets
from acrawler_spark.session import get_spark
from acrawler_spark.sources.corpus import corpus_from_documents

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def render(spark, work: str) -> str:
    """The markdown plan dump; its parquet inputs are written under ``work``."""
    out = ["# PLANS — physical-plan evidence (sf0.001, local mode)", ""]

    tmp = os.path.join(work, "corpus")
    corpus_from_documents(spark, SF, n_hosts=8, fanout=4).write.mode("overwrite").parquet(tmp)
    corpus = spark.read.parquet(tmp)

    frontier = seeds_frontier(spark, [f"http://site{h}.test/p/{h}?b=2&a=1" for h in range(8)], 0.0)
    ftmp = os.path.join(work, "frontier")
    frontier.write.mode("overwrite").parquet(ftmp)
    frontier = spark.read.parquet(ftmp)

    sections = []

    # 1. identity projection: canonicalize + sha1 fingerprint, pure codegen
    ident = spark.read.parquet(tmp).select(
        canonicalize_col(F.col("url")).alias("url_canon"),
        fingerprint_col(canonicalize_col(F.col("url"))).alias("fp"),
        host_col(F.col("url")).alias("host"),
    )
    sections.append((
        "URL canonicalize + sha1 fingerprint (expect: single WholeStageCodegen, "
        "no exchange, ReadSchema pruned to url)",
        ident,
    ))

    # 2. eligibility filter pushdown
    elig = frontier.filter(F.col("exetime") <= 100.0).select("url_canon", "fingerprint")
    sections.append((
        "Eligibility filter (expect: PushedFilters LessThanOrEqual(exetime), "
        "ReadSchema pruned)",
        elig,
    ))

    # 3. politeness two-phase salted window
    sel = apply_host_budgets(frontier, uniform=2, special={"site1": 1})
    sections.append((
        "Politeness budgets (expect: two Window nodes — (host,salt) then host — "
        "over exchanges keyed accordingly; unlimited-host side is filter-only)",
        sel,
    ))

    # 4. seen anti-join (no bloom, shows the exact join)
    seen = frontier.select("fingerprint").limit(4)
    cand = frontier.withColumn("discovery_idx", F.col("discovery_idx"))
    admitted = admit_new_candidates(cand, seen, bloom=None)
    sections.append((
        "Candidate admission: within-round dedup window + LeftAnti join vs seen "
        "(expect: hash/broadcast anti-join on fingerprint)",
        admitted,
    ))

    # 5. fetch join
    fetched = frontier.join(
        corpus.withColumnRenamed("url", "c_url"),
        frontier.url_canon == F.col("c_url"),
        "left",
    ).select("url_canon", "c_url", F.length("html").alias("b"))
    sections.append((
        "Fetch join frontier⋈corpus on url (expect: AQE; broadcast of the small "
        "side locally, SMJ/shuffle-hash + skew split at scale; html pruned "
        "unless projected)",
        fetched,
    ))

    # 6. simhash near-dup pair join: band-bucketed, never a cartesian
    from acrawler_spark.textops import q_dedup_simhash_pairs

    sections.append((
        "SimHash pair join (expect: shuffle/broadcast hash join keyed on "
        "(band, val) — NO CartesianProduct / BroadcastNestedLoopJoin; "
        "HashAggregate pair for the distinct)",
        q_dedup_simhash_pairs(spark, SF),
    ))

    for title, df in sections:
        out += [f"## {title}", "", "```", plan_of(df).strip(), "```", ""]
    return "\n".join(out)


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as work:
        print(render(spark, work))


if __name__ == "__main__":
    main()
