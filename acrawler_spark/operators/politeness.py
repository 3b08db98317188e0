"""Per-host politeness budgets as salted Window ranking.

Reference semantics (counter.py:70-109):
* MAX_REQUESTS_PER_HOST — uniform per-host in-flight cap; batch equivalent:
  at most ``budget`` rows per host admitted per round, best-score first;
  the rest stay in the frontier (== ReScheduleError re-enqueue,
  crawler.py:87-97, uncounted).
* MAX_REQUESTS_SPECIAL_HOST — per-pattern caps matched by **substring** of
  the host (counter.py:79: ``host in req.url.host``); a special match
  suppresses the uniform check (counter.py:76-88). Multiple matches =>
  min cap (equivalent per-round admission set).
* DOWNLOAD_DELAY — converted to a per-round budget upstream
  (floor(round_seconds / delay)); the reference's random jitter
  (counter.py:106) is load-shaping, not semantics, and is disabled for
  order parity.

Scale: Window.partitionBy(host) alone funnels a hot domain into one task
(SURVEY §7 hot-host skew). Two-phase top-k fixes it: rows are first ranked
within (host, salt) — any row in a host's true top-k is also in its salt's
top-k — survivors (≤ SALT_N·budget per host) are re-ranked within host.
Unlimited hosts skip ranking entirely (no shuffle for them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNLIMITED = 1 << 30
SALT_N = 4  # phase-1 sub-partitions per limited host

def rank_keys():
    """The frontier total order (== score DESC + deterministic tie-break)."""
    return [F.col("priority").desc(), F.col("exetime").asc(), F.col("fingerprint").asc()]


def budget_col(host, uniform: int, special: dict[str, int]):
    """Effective per-round budget for a host column (kernel.host_budget as a
    JVM expression; special caps folded as nested CASE WHEN on substring
    match, min-combined)."""
    expr = F.lit(None).cast("int")
    # fold special patterns: min over matching caps
    matched_min = None
    for pat, cap in sorted(special.items()):
        this = F.when(F.instr(host, pat) > 0, F.lit(int(cap)))
        matched_min = this if matched_min is None else F.least(
            F.coalesce(matched_min, F.lit(UNLIMITED)), F.coalesce(this, F.lit(UNLIMITED))
        )
    if matched_min is not None:
        # least() above treats non-matches as UNLIMITED; recover "no match"
        any_match = None
        for pat in special:
            cond = F.instr(host, pat) > 0
            any_match = cond if any_match is None else (any_match | cond)
        expr = F.when(any_match, matched_min)
    uniform_budget = F.lit(int(uniform) if uniform > 0 else UNLIMITED)
    return F.coalesce(expr, uniform_budget)


def range_partition(df: DataFrame) -> DataFrame:
    """``df`` range-partitioned on the frontier total order, each row
    tagged with its range (``_pid``): every row of range p sorts before
    every row of range p+1. The engine stages this once (the round's
    ``selected`` delta); ``global_schedule_rank`` ranks the staged rows."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n_parts, *rank_keys()).withColumn(
        "_pid", F.spark_partition_id()
    )


def global_schedule_rank(d: DataFrame) -> DataFrame:
    """Exact global schedule rank (1-based, frontier total order) of rows
    carrying their range ``_pid`` (``range_partition``) without a
    single-partition Window over the data: row_number within each range,
    plus per-range cumulative offsets. Safe for unbounded selected sets —
    no straggler partition at any scale.

    The offsets are NOT collected to the driver: they are a lazy
    ``groupBy(_pid).count`` + cumulative-sum subplan (metadata-sized —
    n_partitions rows; its single-partition window is over partition
    COUNTS, not data) broadcast-joined back. The whole rank is therefore
    one lazy plan fused into whichever job consumes it — zero extra
    driver actions per round (VERDICT r2 #6). ``_pid`` is a column of
    ``d``, so both reads of it (counts and rows) agree whatever re-reads
    or recomputes ``d``: a staged file set needs no cache. ``rank`` is a
    long (a 10^10-row frontier overflows int).
    """
    keys = rank_keys()
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn("rank", (F.row_number().over(w) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )


def apply_host_budgets(
    eligible: DataFrame,
    uniform: int = 0,
    special: dict[str, int] | None = None,
    delay_budgets: DataFrame | None = None,
) -> DataFrame:
    """The eligible frontier rows selected under the per-host budgets, with
    the original frontier columns. The rest (deferred) are not built here:
    they keep their exetime and simply wait in the frontier for the next
    round (reference: ReScheduleError with the politeness counter
    exhausted, counter.py:86,94) — the engine's frontier rewrite is
    frontier ANTI-JOIN selected.

    ``delay_budgets`` is an optional tiny (host, delay_budget) table —
    robots.txt Crawl-delay converted to a per-round cap
    (robots.delay_budgets_df). It min-combines with the uniform/special
    budget via a broadcast join on host: no shuffle on the frontier, and
    hosts absent from the table keep their configured budget."""
    special = special or {}
    cols = eligible.columns
    b = eligible.withColumn("budget", budget_col(F.col("host"), uniform, special))
    if delay_budgets is not None:
        b = (
            b.join(
                F.broadcast(
                    delay_budgets.select(
                        F.col("host").alias("_dhost"), "delay_budget"
                    )
                ),
                F.col("host") == F.col("_dhost"),
                "left",
            )
            .withColumn(
                "budget",
                F.least(
                    F.col("budget"),
                    F.coalesce(F.col("delay_budget"), F.lit(UNLIMITED)),
                ),
            )
            .drop("_dhost", "delay_budget")
        )

    unlimited = b.filter(F.col("budget") >= UNLIMITED).select(*cols)
    limited = b.filter(F.col("budget") < UNLIMITED)

    if not special and uniform <= 0 and delay_budgets is None:
        # fast path: nobody is limited — no shuffle at all
        return eligible

    # phase 1: rank inside (host, salt) — bounds any single partition's work
    salted = limited.withColumn("salt", F.pmod(F.xxhash64("fingerprint"), F.lit(SALT_N)))
    w1 = Window.partitionBy("host", "salt").orderBy(*rank_keys())
    survivors = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= F.col("budget"))
        .drop("rn1", "salt")
    )
    # phase 2: exact top-budget within host over the ≤ SALT_N·budget survivors
    w2 = Window.partitionBy("host").orderBy(*rank_keys())
    ranked = survivors.withColumn("rn2", F.row_number().over(w2))
    selected_limited = ranked.filter(F.col("rn2") <= F.col("budget")).select(*cols)

    return unlimited.unionByName(selected_limited)
