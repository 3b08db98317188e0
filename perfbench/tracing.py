"""Traced-run instrumentation, all from outside the program.

* ``Tracer`` records spans (name, start, end, parent, thread) in memory around
  calls into the program's public functions; one tracer holds the spans of
  one traced job. ``install`` wraps the public methods of ``CheckpointStore``,
  ``CrawlEngine.run`` / ``run_round`` and the ``BloomSidecar`` plan builders
  by patching the classes for the duration of the job; ``uninstall``
  restores them. Nothing inside the package is edited.
* ``read_event_log`` reads the Spark event log and groups jobs by the labels
  the engine already puts in each job description (``r<N> <label>: ...``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import threading
import time

JOB_LABELS = (
    "prepare", "pages", "miss_check", "misses", "admitted", "seen",
    "frontier_core", "frontier_admitted", "lineage",
)
_LABEL_RE = re.compile(r"^r(\d+) ([a-z ]+):")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.rounds: list[dict] = []  # run_round results, in call order
        self._local = threading.local()
        self._round_span: int | None = None  # id of the open run_round span
        self._patched: list[tuple[type, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        stack = self._local.__dict__.setdefault("stack", [])
        # calls from the engine's commit-pool threads have no local parent:
        # attribute them to the round that is open
        parent = stack[-1] if stack else self._round_span
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.current_thread().name,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        stack.append(sid)
        if name == "engine.run_round":
            self._round_span = sid
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            rec["end"] = time.monotonic()
            if name == "engine.run_round":
                self._round_span = None

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- class patching -------------------------------------------------------

    def _patch(self, cls: type, attr: str, name_of) -> None:
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name_of(args), orig, *args, **kwargs)

        self._patched.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def install(self) -> None:
        from acrawler_spark.operators.dedup import BloomSidecar
        from acrawler_spark.plans.engine import CrawlEngine
        from acrawler_spark.sources.store import CheckpointStore

        # write_delta(self, table, ...) is timed per table
        self._patch(CheckpointStore, "write_delta", lambda a: f"store.write_delta.{a[1]}")
        for attr in ("write_frontier", "append_frontier", "append_delta",
                     "commit_round", "compact"):
            self._patch(CheckpointStore, attr, lambda a, attr=attr: f"store.{attr}")
        for attr in ("with_maybe_seen", "updating_scan"):
            self._patch(BloomSidecar, attr, lambda a, attr=attr: f"bloom.{attr}")
        self._patch(CrawlEngine, "run", lambda a: "engine.run")  # the root span

        orig_round = CrawlEngine.run_round
        tracer = self

        @functools.wraps(orig_round)
        def run_round(engine, *args, **kwargs):
            out = tracer.span("engine.run_round", orig_round, engine, *args, **kwargs)
            tracer.rounds.append(out)
            return out

        self._patched.append((CrawlEngine, "run_round", orig_round))
        CrawlEngine.run_round = run_round

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()


# -- Spark event log -----------------------------------------------------------


def job_label(description: str | None) -> str | None:
    m = _LABEL_RE.match(description or "")
    return m.group(2).strip().replace(" ", "_") if m else None


def read_event_log(log_dir: str, t_start: float, t_end: float) -> dict:
    """Jobs submitted inside [t_start, t_end] (epoch seconds) with their
    label, wall interval and task metrics (run/CPU time, shuffle, spill)."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a half-flushed last line of a running log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "label": job_label(props.get("spark.job.description")),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    window = {j: v for j, v in jobs.items()
              if t_start <= v["start"] <= t_end and v["end"] is not None}
    for jid, job in window.items():
        job["stages"] = [sid for sid, j in stage_job.items() if j == jid]
        job["tasks"] = [t for sid in job["stages"] for t in tasks.get(sid, [])]
        job["task_runs_by_stage"] = [
            [t["run_s"] for t in tasks.get(sid, [])] for sid in job["stages"]
        ]
    return window


def busy_intervals_s(jobs: dict, t_start: float, t_end: float) -> float:
    """Length of the union of job intervals clipped to the window."""
    spans = sorted((max(j["start"], t_start), min(j["end"], t_end)) for j in jobs.values())
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def job_metrics(jobs: dict, n_rounds: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for label in JOB_LABELS:
        sel = [j for j in jobs.values() if j["label"] == label]
        out[f"job.{label}.wall_s"] = sum(j["end"] - j["start"] for j in sel)
        out[f"job.{label}.run_s"] = sum(t["run_s"] for j in sel for t in j["tasks"])
        out[f"job.{label}.cpu_s"] = sum(t["cpu_s"] for j in sel for t in j["tasks"])
    labelled = sum(1 for j in jobs.values() if j["label"] in JOB_LABELS)
    out["job.per_round"] = labelled / n_rounds if n_rounds else 0.0
    all_tasks = [t for j in jobs.values() for t in j["tasks"]]
    out["spark.shuffle_write_bytes"] = float(sum(t["shuffle_write"] for t in all_tasks))
    out["spark.spill_bytes"] = float(sum(t["spill"] for t in all_tasks))
    out["spark.tasks"] = float(len(all_tasks))
    skews = []
    for j in jobs.values():
        if j["label"] != "pages":
            continue
        for runs in j["task_runs_by_stage"]:
            if len(runs) > 1 and statistics.median(runs) > 0:
                skews.append(max(runs) / statistics.median(runs))
    out["spark.pages_task_skew"] = max(skews) if skews else 0.0
    return out
