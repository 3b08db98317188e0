"""URL-seen dedup: partitioned Bloom prefilter + exact anti-join.

Reference semantics (scheduler.py:39-62, 282-291): a candidate task is
admitted iff its fingerprint is not in the seen set; the fingerprint is
added at **schedule time** — a scheduled URL that later fails every retry
stays seen and is never re-crawled (SURVEY §2.3 critical semantic).
``dont_filter`` rows (retries/recrawl/reschedules) bypass the filter
entirely (scheduler.py:283-285) — in this engine they never leave the
frontier, so the filter below only ever sees newly-discovered candidates.

Batch admission contract: candidates discovered within one round are
deduplicated by earliest deterministic discovery index (SURVEY §7), then
anti-joined against the seen table. Admitted fingerprints are appended to
``seen`` in the same round commit, before they are ever fetched.

Scale path (the north rule's partitioned Bloom): the seen table is hash-
range-bucketed by fingerprint; a per-bucket Bloom sidecar answers "possibly
seen?" so the exact anti-join only processes candidates whose bucket Bloom
says maybe — in a growing crawl most candidates are new, so most rows skip
the join. Bloom hash inputs (h1/h2/bucket) are derived from the sha1 hex
JVM-side (conv/substring — codegen); only the m-bit membership probe runs
in numpy inside an Arrow batch.
"""

from __future__ import annotations

import json
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_K = 7  # hash probes => ~1% fpp at 10 bits/key


def _hash_cols(df: DataFrame, n_buckets: int) -> DataFrame:
    """h1/h2 from the sha1 hex digest (60 bits each), bucket from tail bits —
    all JVM built-ins, no Python."""
    return (
        df.withColumn("_h1", F.conv(F.substring("fingerprint", 1, 15), 16, 10).cast("long"))
        .withColumn(
            "_h2",
            F.conv(F.substring("fingerprint", 16, 15), 16, 10).cast("long").bitwiseOR(F.lit(1)),
        )
        .withColumn(
            "_bucket",
            F.pmod(F.conv(F.substring("fingerprint", 31, 8), 16, 10).cast("long"), F.lit(n_buckets)),
        )
    )


class BloomSidecar:
    """Per-bucket Bloom bit arrays persisted next to the seen table.

    Layout: ``<path>/meta.json`` + ``<path>/bucket_<i>.npy`` (uint64 words).
    Ownership is **partition-owned, executor-side** in both directions:

    * build (``updating_scan``): admitted fingerprints are hash-partitioned
      on ``_bucket`` so exactly one task holds each bucket; that task ORs the
      new bits into its bucket's ``.npy`` (atomic tmp+rename) while passing
      the rows through unchanged — the Bloom update rides the seen-delta
      write job, no driver collect, no extra job.
    * probe (``with_maybe_seen``): each task lazily loads only the bucket
      files present in its own batches, directly from the shared store path.

    Both are idempotent (bit-OR), so task retries / speculative runs are
    safe; a crash after bucket writes but before the round's manifest commit
    leaves a *superset* Bloom, which only sends extra candidates into the
    exact anti-join — never admits a duplicate.
    """

    def __init__(self, path: str, n_buckets: int = 16, m_bits: int = 1 << 20):
        self.path = path
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self._arrays: dict[int, np.ndarray] = {}
        meta = os.path.join(path, "meta.json")
        if os.path.exists(meta):
            with open(meta) as f:
                m = json.load(f)
            self.n_buckets, self.m_bits = m["n_buckets"], m["m_bits"]

    def _bucket_file(self, b: int) -> str:
        return os.path.join(self.path, f"bucket_{b}.npy")

    def _load(self, b: int) -> np.ndarray:
        if b not in self._arrays:
            f = self._bucket_file(b)
            if os.path.exists(f):
                self._arrays[b] = np.load(f)
            else:
                self._arrays[b] = np.zeros(self.m_bits // 64, dtype=np.uint64)
        return self._arrays[b]

    def ensure_meta(self) -> None:
        """Driver-side, once: persist the bucket/bit parameters so executor
        tasks construct byte-compatible sidecars."""
        os.makedirs(self.path, exist_ok=True)
        meta = os.path.join(self.path, "meta.json")
        if not os.path.exists(meta):
            tmp = meta + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"n_buckets": self.n_buckets, "m_bits": self.m_bits}, f)
            os.replace(tmp, meta)

    def _write_bucket(self, b: int) -> None:
        """Atomic per-bucket write (tmp + rename); safe under task retry
        because bit-OR updates are idempotent."""
        os.makedirs(self.path, exist_ok=True)
        tmp = self._bucket_file(b) + f".tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "wb") as f:
            np.save(f, self._arrays[b])
        os.replace(tmp, self._bucket_file(b))

    # -- membership ----------------------------------------------------------

    def _probe_positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        m = np.uint64(self.m_bits)
        idx = np.empty((_K, h1.shape[0]), dtype=np.uint64)
        h1u = h1.astype(np.uint64)
        h2u = h2.astype(np.uint64)
        for i in range(_K):
            idx[i] = (h1u + np.uint64(i) * h2u) % m
        return idx

    def _contains(self, bucket: int, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        arr = self._load(bucket)
        idx = self._probe_positions(h1, h2)
        words = arr[(idx >> np.uint64(6)).astype(np.int64)]
        bits = (words >> (idx & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=0).astype(bool)

    def _add(self, bucket: int, h1: np.ndarray, h2: np.ndarray) -> None:
        arr = self._load(bucket)
        idx = self._probe_positions(h1, h2).reshape(-1)
        np.bitwise_or.at(arr, (idx >> np.uint64(6)).astype(np.int64), np.uint64(1) << (idx & np.uint64(63)))

    # -- DataFrame API --------------------------------------------------------

    def with_maybe_seen(self, df: DataFrame) -> DataFrame:
        """Adds boolean ``_maybe_seen``; requires a ``fingerprint`` column.

        The closure captures only (path, n_buckets, m_bits) — each executor
        task builds its own sidecar and lazily loads just the bucket files
        its batches touch, always reading the freshest committed bits.

        Shape: a SCALAR pandas UDF over the three slim hash columns
        (_bucket, _h1, _h2 — 24 bytes/row), NOT mapInPandas over the full
        row. The earlier mapInPandas form round-tripped every candidate's
        ~19 columns (~300 B/row) through Arrow both ways just to attach one
        boolean — ~1.1 GB of pure serialization per million-candidate round
        riding the commit path's critical chain. The probe's bit-test is
        identical; only the bytes crossing the JVM/Python boundary changed
        (~20x less). The sidecar is built once per task (iterator form) and
        its bucket arrays cache across batches."""
        path, n_buckets, m_bits = self.path, self.n_buckets, self.m_bits

        def probe_iter(batches):
            side = BloomSidecar(path, n_buckets, m_bits)
            for b, h1, h2 in batches:
                pdf = pd.DataFrame({"b": b, "h1": h1, "h2": h2})
                out = np.zeros(len(pdf), dtype=bool)
                for bb, grp in pdf.groupby("b"):
                    out[grp.index.to_numpy()] = side._contains(
                        int(bb), grp["h1"].to_numpy(), grp["h2"].to_numpy()
                    )
                yield pd.Series(out)

        import warnings

        from pyspark.sql.functions import PandasUDFType, pandas_udf

        with warnings.catch_warnings():
            # legacy functionType registration: the type-hint form cannot be
            # used under ``from __future__ import annotations`` (PEP 563
            # stringizes the hints pyspark inspects)
            warnings.simplefilter("ignore")
            probe_udf = pandas_udf(probe_iter, "boolean", PandasUDFType.SCALAR_ITER)

        hashed = _hash_cols(df, self.n_buckets)
        return hashed.withColumn(
            "_maybe_seen", probe_udf("_bucket", "_h1", "_h2")
        ).drop("_h1", "_h2", "_bucket")

    def updating_scan(self, df: DataFrame) -> DataFrame:
        """Fuse the Bloom build into whatever job consumes ``df`` (the seen-
        delta write): hash-repartition on ``_bucket`` (one owner task per
        bucket), OR the batch's bits into that bucket's ``.npy``, pass rows
        through with the original schema. Requires a ``fingerprint`` column.

        Width is ``min(n_buckets, defaultParallelism)``, not ``n_buckets``:
        hash partitioning on ``_bucket`` still sends every row of a bucket
        to one task, and a task owns every bucket it receives. Each Python
        task carries a fixed worker cost, so 16 buckets on 4 cores run as 4
        tasks (and the seen delta lands as <= 4 files), not 16."""
        self.ensure_meta()
        path, n_buckets, m_bits = self.path, self.n_buckets, self.m_bits
        out_schema = df.schema
        out_cols = df.columns

        def update(batches):
            side = BloomSidecar(path, n_buckets, m_bits)
            touched: set[int] = set()
            for pdf in batches:
                for b, grp in pdf.groupby("_bucket"):
                    side._add(int(b), grp["_h1"].to_numpy(), grp["_h2"].to_numpy())
                    touched.add(int(b))
                yield pdf[out_cols]
            for b in touched:
                side._write_bucket(b)

        width = min(self.n_buckets, df.sparkSession.sparkContext.defaultParallelism)
        hashed = _hash_cols(df, self.n_buckets).repartition(width, "_bucket")
        return hashed.mapInPandas(update, schema=out_schema)


def dedupe_within_round(candidates: DataFrame) -> DataFrame:
    """First-discovered-wins within a round (deterministic: min
    discovery_idx per fingerprint — SURVEY §2.3/§7; discovery_idx is
    unique by construction, rank*1e6 + link position).

    Shape: groupBy + min_by, NOT a row_number window. The aggregate gets
    map-side partial aggregation — a big round's candidate explosion
    (fanout x pages, ~8:1 duplicate ratio at the bench corpus) collapses
    to near-distinct BEFORE the shuffle, and no per-key sort runs after
    it. The window form shuffled and sorted every raw candidate row."""
    cols = [c for c in candidates.columns if c != "fingerprint"]
    return (
        candidates.groupBy("fingerprint")
        .agg(F.min_by(F.struct(*cols), F.col("discovery_idx")).alias("_row"))
        .select("fingerprint", "_row.*")
        .select(*candidates.columns)
    )


def admit_new_candidates(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomSidecar | None = None,
) -> DataFrame:
    """Within-round dedup, Bloom prefilter, exact anti-join vs seen.

    Returns the admitted rows (same schema as candidates). Caller appends
    their fingerprints to the seen table *in the same round commit*
    (schedule-time semantics, scheduler.py:45-50)."""
    fresh = dedupe_within_round(candidates)
    if seen is None:
        return fresh
    if bloom is None:
        return fresh.join(seen.select("fingerprint"), "fingerprint", "left_anti")
    flagged = bloom.with_maybe_seen(fresh)
    definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    checked = maybe.join(seen.select("fingerprint"), "fingerprint", "left_anti")
    return definite_new.unionByName(checked)
