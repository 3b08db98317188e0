"""Measure the fixed Python-worker CPU cost of one pandas-UDF task.

Usage: python scripts/probe_worker_tasks.py [--cpus N] [--tasks T] [--reps K]
(defaults: 4 cores, 16 tasks per job, 3 repetitions)

Starts one local[N] session, warms the Python worker pool, then runs K
repetitions of three tiny jobs, each T Python tasks of a few rows:

* ``plain``  — an identity ``mapInPandas`` defined in this script; it never
  imports the engine, so a worker that has only run these tasks runs
  without the package's zip-cache hook (``acrawler_spark/zipcache.py``);
* ``probe``  — ``BloomSidecar.with_maybe_seen`` over T partitions;
* ``build``  — ``BloomSidecar.updating_scan`` with T buckets, which runs
  ``min(T, defaultParallelism)`` tasks.

For each job it reads the Python workers' CPU seconds (utime+stime of the
PySpark daemon and its forked workers, reaped children included) from
/proc before and after, and prints CPU-s per Python task. The rows are too
few to matter, so the figure is the per-task fixed cost: re-check it after
a Spark or Python upgrade. ``plain`` runs first, on workers that have not
imported the engine; on CPython 3.11 it shows the cost without the hook.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.procfs import ProcTree  # noqa: E402

ROWS_PER_TASK = 4


def identity(batches):
    yield from batches


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--tasks", type=int, default=16)
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args()
    cpus, tasks, reps = args.cpus, args.tasks, args.reps

    from acrawler_spark.kernel import fingerprint
    from acrawler_spark.operators.dedup import BloomSidecar
    from acrawler_spark.session import get_spark, local_frame

    spark = get_spark("probe_worker_tasks", master=f"local[{cpus}]", shuffle_partitions=cpus)
    tree = ProcTree()
    width = spark.sparkContext.defaultParallelism
    # an Arrow-backed input: createDataFrame(list) would add Python tasks
    # of its own to every job
    fps = local_frame(
        spark,
        [(fingerprint(f"http://probe.test/{i}"),) for i in range(tasks * ROWS_PER_TASK)],
        "fingerprint string",
    ).repartition(tasks)
    work = tempfile.mkdtemp(prefix="probe_worker_tasks_")

    def plain() -> int:
        fps.mapInPandas(identity, fps.schema).write.format("noop").mode("overwrite").save()
        return tasks

    def probe() -> int:
        BloomSidecar(os.path.join(work, "bloom"), tasks, 1 << 12).with_maybe_seen(
            fps
        ).write.format("noop").mode("overwrite").save()
        return tasks

    def build() -> int:
        BloomSidecar(os.path.join(work, "bloom"), tasks, 1 << 12).updating_scan(
            fps
        ).write.format("noop").mode("overwrite").save()
        return min(tasks, width)

    def measure(job) -> float:
        c0 = tree.cpu_s(workers_only=True)
        n = job()
        return (tree.cpu_s(workers_only=True) - c0) / n

    try:
        plain()  # start the worker pool, outside any measurement
        out = {name: [] for name in ("plain", "probe", "build")}
        out["plain"].append(measure(plain))
        build()  # first engine import on the workers, outside any measurement
        for i in range(reps):
            for name, job in (("probe", probe), ("build", build)):
                out[name].append(measure(job))
            print(
                f"rep {i + 1}: probe {out['probe'][-1]:.4f} build {out['build'][-1]:.4f}"
                " CPU-s/task",
                flush=True,
            )
        print(json.dumps({
            "python": sys.version.split()[0],
            "pyspark": spark.version,
            "cpus": cpus,
            "tasks_per_job": {"plain": tasks, "probe": tasks, "build": min(tasks, width)},
            "cpu_s_per_task": {k: [round(x, 4) for x in v] for k, v in out.items()},
            "median_cpu_s_per_task": {
                k: round(statistics.median(v), 4) for k, v in out.items()
            },
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
