"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload bulk_bfs --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
sets up a ``local[N]`` Spark session (N = CPU count), runs the workload's
batch job repeatedly until ``--seconds`` of job time have been measured,
checks every job's outputs against a reference, and prints one JSON object
as its last line:

* ``--trace 0``: every end-to-end metric named in BENCHMARK.json;
* ``--trace 1``: the first job runs with spans recorded around the program's
  public functions and the Spark event log on, then the job runs traced and
  untraced once more to size the tracing overhead; prints every per-layer
  metric named in BENCHMARK.json.

Lines before the result are a human-readable summary, with an untraced
run's wall-clock and memory readings (``job_s``, ``items_per_s``,
``peak_rss_mb``: printed, but not metrics of BENCHMARK.json), and an
``audit`` record (host steal, host busy share before the run, JVM GC time,
filesystem of the checkpoint store). A failed correctness check exits with
code 1; ``--corrupt`` alters one output before the checks to show that they
fire.
Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("bulk_bfs", "polite_rounds", "dataprep_ops"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--corrupt", choices=("text", "seen", "query"), default=None)
    return p.parse_args()


def start_session(name: str, work: str, trace: bool):
    from acrawler_spark.session import get_spark

    n = os.cpu_count() or 1
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        # one plain-text file the run reads back
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(f"perfbench-{name}", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while len(tree.members()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.members():
        if pid != tree.root:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "acrawler_spark")) or not os.path.exists(BENCHMARK):
        print("run from the repository root (acrawler_spark/ and BENCHMARK.json)",
              file=sys.stderr)
        return 2
    with open(BENCHMARK) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # every file the run (and the JVM and its Python workers) writes stays
    # in the working directory
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the deployment shape: a heap that leaves the 16 GB host room
    os.environ["ACRAWLER_DRIVER_MEM"] = "3g"
    sys.path.insert(0, ROOT)

    from perfbench import procfs
    from perfbench.tracing import Tracer, busy_intervals_s, job_metrics, read_event_log
    from perfbench.workloads import WORKLOADS

    tree = procfs.ProcTree()
    audit = {
        "host_busy_frac_before": round(procfs.busy_fraction(), 4),
        "store_fs": procfs.store_fs(work),
        "cpus": os.cpu_count(),
    }
    host0 = procfs.host_cpu()
    spark = None
    sampler = procfs.TreeSampler(tree).start()
    try:
        t0 = time.monotonic()
        spark = start_session(args.workload, work, bool(args.trace))
        session_s = time.monotonic() - t0

        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        setup_runs = []
        for _ in range(wl.n_setups):
            ts = time.monotonic()
            wl.setup()
            setup_runs.append(time.monotonic() - ts)
        ts = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - ts

        errors: list[str] = []
        ops = {"attempted": 0, "failed": 0}
        readings: dict[str, tuple[float, str]] = {}
        jobs: list[dict] = []

        def run_job(tracer=None, inspect=None) -> dict:
            """One job with its CPU and peak memory; outputs checked, then
            released. ``inspect`` sees the outputs before the release."""
            cpu0 = tree.cpu_s()
            sampler.reset()
            res = wl.job(tracer)
            res["cpu"] = tree.cpu_s() - cpu0
            res["peak_mem"] = sampler.peak()
            if inspect is not None:
                inspect(res)
            errs = wl.check(res["out"], args.corrupt)
            ops["attempted"] += wl.ops_per_job
            ops["failed"] += wl.failed_ops(errs)
            errors.extend(errs)
            wl.release(res.pop("out"))
            jobs.append(res)
            return res

        if not args.trace:
            # measured window: whole jobs until --seconds of job time
            while not jobs or sum(j["wall"] for j in jobs) < args.seconds:
                run_job()
            metrics = {
                "setup_s": session_s + statistics.median(setup_runs) + warmup_s,
                "cpu_s_per_kitem": statistics.median(1e3 * j["cpu"] / j["items"] for j in jobs),
            }
            # printed, but not metrics of BENCHMARK.json: on a shared host,
            # CPU steal moves a crawl's wall time, and the JVM's heap growth
            # with it, by more than any usable bound
            readings = {
                "job_s": (statistics.median(j["wall"] for j in jobs), "s"),
                "items_per_s": (statistics.median(j["items"] / j["wall"] for j in jobs), "1/s"),
                "peak_rss_mb": (max(j["peak_mem"]["total"] for j in jobs), "MB"),
            }
        else:
            # the traced job is the run's first, like the measured job of an
            # untraced run; the Spark event log is on for the whole session
            tracer = Tracer()
            layer: dict[str, float] = {}

            def inspect(res: dict) -> None:
                # process-wide readings first, before the layer probes add work
                layer["spark.gc_s"] = jvm_gc_s(spark) - gc0
                layer["mem.peak_rss_mb"] = res["peak_mem"]["total"]
                if wl.uses_crawl:
                    layer["parse.python_cpu_s"] = tree.cpu_s(workers_only=True) - py0
                sj = read_event_log(os.path.join(work, "eventlog"), res["epoch0"], res["epoch1"])
                layer.update(job_metrics(sj, len(tracer.rounds)))
                layer.update(wl.layer_metrics(res["out"], tracer))
                if wl.uses_crawl:
                    # driver-serial time: planning, py4j, bookkeeping
                    layer["engine.driver_idle_s"] = res["wall"] - busy_intervals_s(
                        sj, res["epoch0"], res["epoch1"])

            gc0, py0 = jvm_gc_s(spark), tree.cpu_s(workers_only=True)
            run_job(tracer, inspect)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            # tracing overhead on a warm JVM: the job traced, then untraced.
            # The JVM still warms from job to job, so this order errs high.
            traced = run_job(Tracer())["wall"]
            layer["trace.overhead_frac"] = traced / run_job()["wall"] - 1
            # layers a workload never enters read 0
            metrics = {m["name"]: float(layer.get(m["name"], 0.0)) for m in wanted}

        host1 = procfs.host_cpu()
        audit.update({
            "steal_jiffies": host1["steal"] - host0["steal"],
            "host_busy_jiffies": host1["busy"] - host0["busy"],
            "jvm_gc_s": round(jvm_gc_s(spark), 3),
            "jobs": len(jobs),
            "job_walls_s": [round(j["wall"], 3) for j in jobs],
            "peak_mem": [j["peak_mem"] for j in jobs],
            "step_walls_s": [[round(s, 3) for s in j["steps"]] for j in jobs],
            "session_s": round(session_s, 3),
            "setup_runs_s": [round(s, 3) for s in setup_runs],
            "warmup_s": round(warmup_s, 3),
        })
    finally:
        sampler.stop()
        if spark is not None:
            stop_session(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    attempted, failed = ops["attempted"], ops["failed"]
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(f"ops_failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted} operations)")
    for m in wanted:
        print(f"{m['name']} {metrics[m['name']]:.6g} {m['unit']}")
    for name, (value, unit) in readings.items():
        print(f"{name} {value:.6g} {unit} (not bounded)")
    print("audit " + json.dumps(audit))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
