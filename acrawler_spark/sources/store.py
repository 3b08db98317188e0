"""Checkpointed table store — per-round snapshot commits, resume-exact.

Emulates the Iceberg snapshot-per-round layout of the north rule on a plain
filesystem (this sandbox has no Iceberg runtime jar). The layout keeps the
same scale properties Iceberg would give:

* ``seen`` (the 10^10-row table) is **append-only**: one parquet delta per
  round under ``seen/delta_round=N/``; a reader unions the deltas. In
  production this binds 1:1 to an Iceberg append + bucket(fingerprint)
  partitioning — no rewrite of the big table ever happens.
* ``frontier`` is bounded (the active crawl horizon), so it is rewritten
  per round (Iceberg: copy-on-write MERGE), in two parts written side by
  side: the core (``frontier/round=N``: the previous frontier minus the
  round's selection, plus lifecycle re-entries) and the admitted links
  (``frontier/admitted_round=N``). ``read_frontier`` reads both.
* ``pages`` (the round's fetched and parsed pages), ``robots_blocked`` and
  the ItemSpec ``items`` rows are append-only round deltas.
* ``selected`` (the round's ranked selection) and ``inbox`` (its admitted
  inbox seeds) are TRANSIENT deltas: the round's intermediates that more than
  one of its actions reads, staged once and read back instead of cached.
  ``commit_round`` drops them, so a committed round keeps none.
* ``items`` / ``fetch_log`` / ``failed`` / ``lineage`` are views of the
  pages deltas and ``metrics`` a view of the manifest (plans/views.py):
  no round writes them.
* the manifest (``_manifest.json``) is committed atomically (tmp + rename),
  so a job killed mid-round resumes from the last fully-committed round —
  the in-flight round simply re-runs (reference analog: crawler.py:558-638
  pickle persistence + shutdown put-back crawler.py:128-134).

Reference parity: the store replaces aCrawler's pickle/Redis persistence
(crawler.py:558-638); `seen` replaces SetDupefilter/RedisDupefilter state
(scheduler.py:39-93).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

APPEND_TABLES = ("seen", "items", "pages", "robots_blocked")
TRANSIENT_TABLES = ("selected", "inbox")

MANIFEST = "_manifest.json"


class CheckpointStore:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"round": -1, "committed": []}
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    @property
    def last_round(self) -> int:
        return self.read_manifest()["round"]

    # -- paths --------------------------------------------------------------

    def _delta_path(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"delta_round={rnd}")

    def _frontier_path(self, rnd: int) -> str:
        return os.path.join(self.root, "frontier", f"round={rnd}")

    def _admitted_path(self, rnd: int) -> str:
        return os.path.join(self.root, "frontier", f"admitted_round={rnd}")

    # -- write (staged; becomes visible only at commit_round) ----------------

    def write_delta(self, table: str, rnd: int, df: DataFrame) -> None:
        """Write the DataFrame's own partitioning verbatim: pages rows carry
        page text and stream out of the fetch join's one stage, and the seen
        delta rides the Bloom bucket layout."""
        assert table in APPEND_TABLES + TRANSIENT_TABLES, table
        df.write.mode("overwrite").parquet(self._delta_path(table, rnd))

    def append_delta(self, table: str, rnd: int, df: DataFrame) -> None:
        """Append a second file set into an already-staged round delta
        (e.g. the pages misses written after the hits). Crash-safe under
        the same protocol: an uncommitted round's whole delta dir is
        dropped by abort_uncommitted()."""
        assert table in APPEND_TABLES, table
        df.write.mode("append").parquet(self._delta_path(table, rnd))

    def write_frontier(self, rnd: int, df: DataFrame) -> None:
        # No rebalance shuffle: the rewrite is (balanced prior frontier)
        # LEFT ANTI (broadcast selected) UNION small lifecycle branches —
        # the anti-join preserves the prior frontier's scan partitioning,
        # so the output is already file-sized and the rebalance was
        # pushing the round's second-largest payload (~250 MB at the
        # bench's big round) through shuffle disk for nothing. The union
        # branches add a handful of small files; the next round's scan
        # re-splits by size either way.
        df.write.mode("overwrite").parquet(self._frontier_path(rnd))

    def append_frontier(self, rnd: int, df: DataFrame) -> None:
        """Write the frontier's second part, the round's admitted links, into
        its own directory beside the core rewrite: the two writes never
        touch each other's files, so they run concurrently. Crash-safe under
        the same protocol as the core: abort_uncommitted drops both."""
        df.write.mode("overwrite").parquet(self._admitted_path(rnd))

    def commit_round(self, rnd: int, extra: dict | None = None) -> None:
        """Drop the round's transient deltas (every action that read them is
        done), then bump the manifest atomically. A crash in between leaves
        the round uncommitted, and its re-run stages them again."""
        for t in TRANSIENT_TABLES:
            shutil.rmtree(self._delta_path(t, rnd), ignore_errors=True)
        m = self.read_manifest()
        m["round"] = rnd
        m["committed"] = sorted(set(m.get("committed", [])) | {rnd})
        if extra:
            m.setdefault("rounds", {})[str(rnd)] = extra
        self._write_manifest(m)

    def abort_uncommitted(self, rnd: int) -> None:
        """Drop staged files from a round that never committed (crash replay):
        its deltas, transient deltas and both frontier parts."""
        for t in APPEND_TABLES + TRANSIENT_TABLES:
            shutil.rmtree(self._delta_path(t, rnd), ignore_errors=True)
        shutil.rmtree(self._frontier_path(rnd), ignore_errors=True)
        shutil.rmtree(self._admitted_path(rnd), ignore_errors=True)

    # -- read (only committed rounds) ----------------------------------------

    def read_frontier(self, rnd: int | None = None) -> DataFrame | None:
        """Round ``rnd``'s frontier (default: the last committed round): the
        core plus, when the round admitted links, the admitted part. Also
        valid before the commit, for the next round's prefetched head. A
        store written before the split (admitted rows inside the core dir)
        reads the same way."""
        rnd = self.last_round if rnd is None else rnd
        if rnd < 0:
            return None
        paths = [self._frontier_path(rnd)]
        if os.path.exists(self._admitted_path(rnd)):
            paths.append(self._admitted_path(rnd))
        return self.spark.read.parquet(*paths)

    def read_admitted(self, rnd: int) -> DataFrame:
        """The admitted part of round ``rnd``'s frontier alone."""
        return self.spark.read.parquet(self._admitted_path(rnd))

    def read_delta_one(self, table: str, rnd: int) -> DataFrame:
        """Read one round's staged delta (also valid pre-commit within the
        round that staged it — the engine stages `selected` and `pages` and
        derives the round's other writes from their columnar scans)."""
        return self.spark.read.parquet(self._delta_path(table, rnd))

    def read_appended(self, table: str, upto_round: int | None = None) -> DataFrame | None:
        """Union of committed deltas (plus the latest compacted base, if
        any). At Iceberg scale this is a single partitioned-table scan;
        here an explicit multi-path parquet read.

        ``items`` / ``fetch_log`` / ``failed`` / ``lineage`` are **virtual**:
        views of the pages deltas (plans/views.py); ``items`` also unions
        the physical ItemSpec deltas. ``metrics`` is a view of the manifest's
        round entries. None of them costs a write job."""
        from acrawler_spark.plans.views import VIRTUAL_TABLES, metrics_view

        upto = self.last_round if upto_round is None else upto_round
        if table == "metrics":
            return metrics_view(self.spark, self.read_manifest(), upto)
        if table not in VIRTUAL_TABLES:
            return self._read_appended_physical(table, upto)
        pages = self._read_appended_physical("pages", upto)
        view = VIRTUAL_TABLES[table](pages) if pages is not None else None
        if table != "items":
            return view
        specs = self._read_appended_physical("items", upto)
        if specs is None:
            return view
        if view is None:
            return specs
        return view.unionByName(specs, allowMissingColumns=True)

    def _read_appended_physical(self, table: str, upto: int) -> DataFrame | None:
        m = self.read_manifest()
        base_round = m.get("compacted", {}).get(table, -1)
        paths = []
        if base_round >= 0 and base_round <= upto:
            paths.append(self._compact_path(table, base_round))
        paths += [
            self._delta_path(table, r)
            for r in m.get("committed", [])
            if base_round < r <= upto and os.path.exists(self._delta_path(table, r))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    # -- compaction (Iceberg rewrite_data_files analog) -----------------------

    def _compact_path(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"compacted_round={rnd}")

    def delta_count(self, table: str) -> int:
        m = self.read_manifest()
        base_round = m.get("compacted", {}).get(table, -1)
        return sum(
            1
            for r in m.get("committed", [])
            if r > base_round and os.path.exists(self._delta_path(table, r))
        )

    def compact(self, table: str) -> None:
        """Rewrite base + deltas up to the last committed round into one
        compacted base. Readers before the manifest flip see the old layout;
        after, the new one — same snapshot-isolation contract as commits.
        Old files are retained (snapshot history), like Iceberg's
        rewrite_data_files + expire_snapshots being separate steps."""
        upto = self.last_round
        df = self.read_appended(table, upto)
        if df is None:
            return
        df.write.mode("overwrite").parquet(self._compact_path(table, upto))
        m = self.read_manifest()
        m.setdefault("compacted", {})[table] = upto
        self._write_manifest(m)
