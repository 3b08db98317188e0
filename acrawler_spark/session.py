"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a real cluster submit
(``spark-submit --py-files acrawler_spark.zip``) would set per-executor;
the partitioning knobs are the ones that matter at 10^10-URL scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = 32


# JIT profile of the driver JVM, which in local mode also runs every
# executor task. A crawl JVM is short-lived next to the servers HotSpot's
# tier-4 (C2) thresholds are tuned for: with the JDK 17 defaults (5000
# invocations, 40000 loop back-edges) a cold one-round crawl spends about
# half of its thread CPU in the C1/C2 compiler threads, mostly C2-compiling
# planner, codegen and task code that runs a few more times at most. The
# thresholds below (invocation and back-edge 20x the defaults, the
# min-invocation and combined thresholds raised with them) keep such code in
# C1 and leave C2 to code that is really hot, which a long crawl still
# reaches. C1-only (TieredStopAtLevel=1) is cheaper still for one round, but
# a 34-round warm crawl then used more CPU and up to 2x the wall time
# (SCALING.md, "JVM compile profile").
# defaultJavaOptions, not extraJavaOptions: Spark prepends it to
# extraJavaOptions, which callers set themselves (perfbench puts
# java.io.tmpdir there) and which would otherwise replace these flags.
DRIVER_JIT_FLAGS = (
    "-XX:Tier4InvocationThreshold=100000",
    "-XX:Tier4MinInvocationThreshold=40000",
    "-XX:Tier4CompileThreshold=120000",
    "-XX:Tier4BackEdgeThreshold=800000",
)


def get_spark(
    app_name: str = "acrawler_spark",
    master: str = "local[*]",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle width: at 100 TB this is sized to the frontier bucket count
        # (url-hash range partitions); locally it matches core count.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalesce + skew-join split — hot-domain fetch joins
        # are exactly the skew case AQE re-plans.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # reference meta-merge semantics: child wins on key clash
        # (crawler.py:77 {**task.meta, **new_task.meta}) — map_concat must
        # last-win instead of throwing
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Arrow for all pandas-UDF boundaries (input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a LIVENESS bound, and the invariant is
        # BYTES, not rows: Spark 4.1's PythonRunner multiplexes read+write
        # on the task thread over a ~4 MB-buffered local socket. A wedge
        # was captured live at 256 rows: the worker blocked in write(2)
        # mid-send of a ~5 MB output batch (256 rows x ~20 KB extracted
        # text cannot fit the send buffer in one write), the JVM task
        # thread looping in ReaderInputStream.select with ~21 MB of input
        # queued toward the worker and both Send-Qs pinned at 4 MB — zero
        # CPU on both sides, permanently. The deadlock interleaving (caught
        # live again with jstack + ss under local[16]): the task thread
        # parks in select with a partially-written INPUT batch pending
        # (write-interest only) while the worker is blocked writing output
        # — neither side drains, so the wedge window is "free send-buffer
        # space < one input batch" at the moment output backs up. The byte
        # cap below slices JVM->Python input batches at 256 KiB (verified
        # against 4.1.2 for both scalar pandas UDFs and mapInPandas), far
        # under the ~4 MB socket buffer, so a pending input write always
        # completes and the thread returns to read-interest; every UDF in
        # this engine emits <= ~1 output byte per input byte (parse:
        # text+links <= html; Bloom: passthrough+bool), bounding output
        # sends the same way. The row cap is then only a backstop for
        # narrow rows, where it is the per-batch-overhead knob: the
        # previous row-only cap (64, sized for 20 KB pages) made ~100-byte
        # candidate rows cross the Python boundary in ~115k batches per
        # steady round — per-batch overhead was ~half the commit phase's
        # task time at 16 cores.
        # Cap value: 1 MiB. Still 4x under the 4 MB socket buffer, so the
        # liveness bound holds (a pending 1 MiB input write completes
        # whenever output backs up by < 3 MB, and outputs are sliced by the
        # same byte cap), while the larger slices quarter the
        # batch-crossing count of html-heavy stages.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1024 * 1024))
        # Speculation: ON for cluster masters (straggler re-launch is the
        # standard guard there) but OFF in local mode — a speculative copy
        # shares the one machine (duplicated tail-task CPU), and when the
        # socket wedge above was captured live under local[16], NO
        # speculative copy had been launched for the stuck task.
        .config("spark.speculation", "false" if master.startswith("local") else "true")
        .config("spark.speculation.interval", "5s")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        # parquet vectorized-reader batch: default 4096 rows x ~100 KB html
        # = ~400 MB of decompressed column batch PER TASK — at 32 concurrent
        # tasks that alone fills a mid-size heap and GC pauses invert the
        # core-count scaling. 512 rows bounds it at ~50 MB/task while
        # keeping vectorization.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ACRAWLER_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", " ".join(DRIVER_JIT_FLAGS))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str | T.StructType) -> DataFrame:
    """DataFrame over driver-side rows (tuples in ``schema`` order), shipped
    to the JVM as one Arrow table.

    ``spark.createDataFrame(list)`` parallelizes pickled rows as a Python
    RDD: every evaluation runs defaultParallelism Python tasks just to
    unpickle them, each paying the Python worker's fixed per-task cost, in
    a worker pool of their own that never imports the engine (so never
    gets its zip-cache fix). An Arrow table is decoded JVM-side: no Python
    task at all."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
