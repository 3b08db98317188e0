"""``scripts/probe_rounds.py``'s CPU split by thread class, run on this test
process's own ``/proc`` entry: a thread named like a JVM C2 compiler
thread burns CPU and must land in the ``c2`` class, and a thread that
exits before the reading keeps its CPU in its own class or in
``jvm_exited``, the remainder of the process's own CPU."""

import ctypes
import importlib.util
import os
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "probe_rounds", os.path.join(ROOT, "scripts", "probe_rounds.py")
)
probe_rounds = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe_rounds)

PR_SET_NAME = 15


def test_thread_class_names():
    tc = probe_rounds.thread_class
    assert tc("C2 CompilerThre") == "c2"
    assert tc("C1 CompilerThre") == "c1"
    assert tc("GC Thread#3") == "gc"
    assert tc("G1 Conc#0") == "gc"
    assert tc("Executor task l") == "tasks"
    for name in ("Thread-4", "dag-scheduler-e", "java", "pytest", "C2 Something"):
        assert tc(name) == "jvm_other"


def _burn(seconds: float, name: bytes, named: threading.Event, done: threading.Event,
          hold: threading.Event) -> None:
    ctypes.CDLL(None).prctl(PR_SET_NAME, name, 0, 0, 0)  # this thread only
    named.set()
    end = time.thread_time() + seconds
    while time.thread_time() < end:
        pass
    done.set()
    hold.wait()


def _start(seconds: float, name: bytes, hold: threading.Event):
    named, done = threading.Event(), threading.Event()
    t = threading.Thread(target=_burn, args=(seconds, name, named, done, hold))
    t.start()
    named.wait()
    return t, done


def test_split_on_own_process():
    split = probe_rounds.ThreadSplit(os.getpid(), interval=0.05)
    keep, let_go = threading.Event(), threading.Event()
    live, live_done = _start(0.5, b"C2 CompilerThre", keep)
    gone, _ = _start(0.3, b"GC Thread#0", let_go)
    let_go.set()
    gone.join()
    live_done.wait()
    out = split.split()  # the C2-named thread is still alive, the GC-named one exited
    keep.set()
    live.join()
    split.stop()
    assert set(out) == set(probe_rounds.THREAD_CLASSES) | {"jvm_exited"}
    assert out["c2"] >= 0.45, out
    assert out["c1"] == out["tasks"] == 0.0, out
    # an exited thread keeps its sampled CPU in its class; the rest of it
    # is in the remainder, never lost
    assert out["gc"] + out["jvm_exited"] >= 0.25, out
    assert out["gc"] <= 0.35, out
