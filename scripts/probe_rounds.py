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

Prints one line per round: ``mode``, ``wall_s`` and ``selected`` from the
history ``run()`` returns, the generated-code compiles that finished since
the previous round ended (count from Spark's ``CodegenMetrics``
compilation-time histogram, time from ``CodeGenerator.compileTime``; both
JVM-wide, so they cover the planner and the executor tasks alike), and the
JVM's C2 and C1 compiler-thread CPU-s over the same span. With
pipelining, a round's span also holds the prefetched head of the next one.
Then one JSON line: crawl wall, process-tree CPU-s and Python-worker CPU-s
over the crawl (from /proc, see ``perfbench/procfs.py``), the per-round
modes, compile totals, and ``cpu_split_s``: the crawl's CPU-s by thread
class. JVM threads are classed by their name (``comm`` in
``/proc/<jvm pid>/task/<tid>/stat``): ``c2`` and ``c1`` compiler threads,
``gc`` (``GC Thread#N`` and the G1 concurrent threads), executor ``tasks``
(``Executor task launch worker``), and ``jvm_other`` for the rest (planning
and codegen on py4j threads, the scheduler, netty). ``jvm_exited`` is JVM
CPU of threads that exited between two samples (threads are sampled once a
second), ``python_workers`` the PySpark workers, and ``driver`` the rest of
the tree (this Python process and the worker daemon).

Compare two commits by running this script from each checkout in turn,
several times, interleaved. The driver heap defaults to 3g
(``ACRAWLER_DRIVER_MEM`` overrides it).
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.procfs import TICK, ProcTree  # noqa: E402

FOLLOW = [r"site\d+\.test"]
THREAD_CLASSES = ("c2", "c1", "gc", "tasks", "jvm_other")


def thread_class(comm: str) -> str:
    """Class of a JVM thread by its (15-byte truncated) name."""
    if comm.startswith("C2 CompilerThre"):
        return "c2"
    if comm.startswith("C1 CompilerThre"):
        return "c1"
    if comm.startswith(("GC Thread#", "G1 ")):
        return "gc"
    if comm.startswith("Executor task l"):
        return "tasks"
    return "jvm_other"


def _utime_stime_s(raw: bytes) -> float:
    # fields after "(comm) ": utime and stime are the 12th and 13th. A
    # thread's cutime/cstime are its process's, so they are not added.
    rest = raw[raw.rfind(b")") + 2 :].split()
    return (int(rest[11]) + int(rest[12])) / TICK


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """{tid: (class, CPU-s)} for the live threads of ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited since the listing
        comm = raw[raw.find(b"(") + 1 : raw.rfind(b")")].decode(errors="replace")
        out[int(tid)] = (thread_class(comm), _utime_stime_s(raw))
    return out


class ThreadSplit:
    """CPU-s of one process by thread class, from construction on.

    A background thread samples every thread once per ``interval`` s, so a
    thread that exits between readings keeps what it used up to its last
    sample; what it used after that, and the CPU of threads that lived
    less than one interval, is ``jvm_exited``: the process total (which
    keeps exited threads' time) minus the classed sum."""

    def __init__(self, pid: int, interval: float = 1.0):
        self.pid = pid
        self.base = {tid: cpu for tid, (_, cpu) in thread_cpu(pid).items()}
        self.proc0 = self._proc_cpu()
        self.last: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _proc_cpu(self) -> float:
        with open(f"/proc/{self.pid}/stat", "rb") as f:
            return _utime_stime_s(f.read())

    def _sample(self) -> None:
        now = thread_cpu(self.pid)
        with self._lock:
            self.last.update(now)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._sample()

    def split(self) -> dict[str, float]:
        """CPU-s per class since construction, plus ``jvm_exited``."""
        self._sample()
        out = dict.fromkeys(THREAD_CLASSES, 0.0)
        with self._lock:
            for tid, (cls, cpu) in self.last.items():
                out[cls] += cpu - self.base.get(tid, 0.0)
        out["jvm_exited"] = self._proc_cpu() - self.proc0 - sum(out.values())
        return out

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def codegen_reading(spark) -> tuple[int, float]:
    """(generated-code compiles, their compile ms) so far, JVM-wide."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


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

        marks = []  # (codegen reading, thread split) at the end of each round

        class ProbeEngine(CrawlEngine):
            def run_round(self, rnd, corpus, max_round=None):
                out = super().run_round(rnd, corpus, max_round=max_round)
                marks.append((codegen_reading(spark), split.split()))
                return out

        store = CheckpointStore(os.path.join(work, "crawl"), spark)
        engine = ProbeEngine(spark, cfg, store)
        split = ThreadSplit(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        c0, w0 = tree.cpu_s(), tree.cpu_s(workers_only=True)
        g0 = codegen_reading(spark)
        t0 = time.monotonic()
        history = engine.run(corpus)
        wall = time.monotonic() - t0
        cpu, py_cpu = tree.cpu_s() - c0, tree.cpu_s(workers_only=True) - w0
        jvm_split = split.split()
        split.stop()
        g1 = codegen_reading(spark)

        prev_g, prev_sp = g0, dict.fromkeys(THREAD_CLASSES, 0.0)
        for h, (g, sp) in zip(history, marks):
            print(f"round {h['round']:3d} {h['timing']['mode']:8s} "
                  f"wall_s {h['wall_s']:7.3f} selected {h['selected']:4d} "
                  f"compiles {g[0] - prev_g[0]:4d} compile_ms {g[1] - prev_g[1]:8.1f} "
                  f"c2_s {sp['c2'] - prev_sp['c2']:6.2f} c1_s {sp['c1'] - prev_sp['c1']:6.2f}",
                  flush=True)
            prev_g, prev_sp = g, sp
        errors = oracle_errors(rows, cfg, store, history)
        cpu_split = {**jvm_split, "python_workers": py_cpu}
        cpu_split["driver"] = cpu - sum(cpu_split.values())
        print(json.dumps({
            "seed": args.seed,
            "cpus": args.cpus,
            "rounds": len(history),
            "crawl_wall_s": round(wall, 2),
            "tree_cpu_s": round(cpu, 2),
            "python_worker_cpu_s": round(py_cpu, 2),
            "cpu_split_s": {k: round(v, 2) for k, v in cpu_split.items()},
            "codegen_compiles": g1[0] - g0[0],
            "codegen_compile_ms": round(g1[1] - g0[1], 1),
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
