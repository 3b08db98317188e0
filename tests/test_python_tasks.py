"""Per-task Python cost: the worker's stat-gated zip directory reloads
(acrawler_spark/zipcache.py), Bloom build ownership with fewer tasks than
buckets, and textops._spread's skip branch."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np

from acrawler_spark import zipcache
from acrawler_spark.kernel import fingerprint
from acrawler_spark.operators.dedup import BloomSidecar
from acrawler_spark.operators.frontier import FRONTIER_SCHEMA
from acrawler_spark.session import local_frame

HOOKED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_hook_rereads_only_changed_archives(tmp_path, monkeypatch):
    # importing the package installed the hook; installing again is a no-op
    patched = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() is HOOKED
    assert zipcache.install() is HOOKED
    assert zipimport.zipimporter.invalidate_caches is patched

    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, {"zc_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zc_probe_a").X == 1

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.invalidate_caches()  # first reload of this archive records its stamp
        if HOOKED:
            assert archive in reads
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads, "unchanged archive was re-read"

        # a rewritten archive is re-read: its new module imports
        _write_zip(archive, {"zc_probe_a": "X = 1\n", "zc_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        if HOOKED:
            assert archive in reads
        assert importlib.import_module("zc_probe_b").Y == 2

        # the stamp includes mtime: a same-size rewrite is re-read too
        reads.clear()
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        if HOOKED:
            assert archive in reads
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_probe_a", "zc_probe_b"):
            sys.modules.pop(name, None)


def test_local_frame_equals_create_dataframe(spark):
    """The Arrow-table path builds the same rows and schema as
    createDataFrame over the pickled list: nulls, arrays, maps, unicode."""
    ddl = (
        "url string, idx long, prio int, allowed array<int>, "
        "meta map<string,string>, flag boolean, delay double"
    )
    rows = [
        ("http://a.test/", 0, 0, None, {}, False, 0.0),
        ("http://b.test/é?q=1", 1, -2, [503, 404], {"k": "v", "z": "ü"}, True, 60.5),
        (None, 2, 7, [], None, None, None),
    ]
    got, want = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=lambda r: r.idx) == sorted(
        want.collect(), key=lambda r: r.idx
    )
    empty = local_frame(spark, [], FRONTIER_SCHEMA)
    assert empty.schema == FRONTIER_SCHEMA and empty.count() == 0


def test_bloom_build_owns_buckets_with_fewer_tasks(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    n_buckets = 16
    assert width < n_buckets
    path = str(tmp_path / "bloom")
    inserted = [fingerprint(f"http://h{i % 7}.test/p/{i}") for i in range(300)]
    absent = [fingerprint(f"http://other.test/q/{i}") for i in range(300)]
    df = spark.createDataFrame(
        [(f, 0) for f in inserted], "fingerprint string, added_round int"
    ).repartition(width)

    scanned = BloomSidecar(path, n_buckets, 1 << 14).updating_scan(df)
    out = str(tmp_path / "delta")
    scanned.write.parquet(out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert 0 < len(files) <= width
    # rows pass through unchanged
    assert sorted(r.fingerprint for r in spark.read.parquet(out).collect()) == sorted(inserted)

    # every touched bucket (the engine's bucket formula) has its .npy
    touched = {int(f[30:38], 16) % n_buckets for f in inserted}
    written = {
        int(name[len("bucket_"):-len(".npy")])
        for name in os.listdir(path)
        if name.startswith("bucket_") and name.endswith(".npy")
    }
    assert written == touched

    # no false negatives, and the filter is not trivially all-true
    probe = spark.createDataFrame(
        [(f, True) for f in inserted] + [(f, False) for f in absent],
        "fingerprint string, was_inserted boolean",
    )
    flagged = BloomSidecar(path).with_maybe_seen(probe).collect()
    assert all(r._maybe_seen for r in flagged if r.was_inserted)
    assert sum(r._maybe_seen for r in flagged if not r.was_inserted) < len(absent) // 10


def test_spread_skip_branch_matches_repartition_path(spark, tmp_path):
    """A scan already at least defaultParallelism wide skips _spread's
    repartition; the query result equals the repartitioned path's."""
    from acrawler_spark.textops import _spread, q_embedding_topk

    width = spark.sparkContext.defaultParallelism
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    narrow, wide = str(tmp_path / "narrow"), str(tmp_path / "wide")
    df.coalesce(1).write.parquet(f"{narrow}/embeddings.parquet")
    df.repartition(4 * width).write.parquet(f"{wide}/embeddings.parquet")

    n_scan = spark.read.parquet(f"{narrow}/embeddings.parquet")
    assert _spread(n_scan) is not n_scan
    w_scan = spark.read.parquet(f"{wide}/embeddings.parquet")
    assert w_scan.rdd.getNumPartitions() >= width
    assert _spread(w_scan) is w_scan

    got_narrow = sorted(q_embedding_topk(spark, narrow).collect())
    got_wide = sorted(q_embedding_topk(spark, wide).collect())
    assert len(got_narrow) == 5 * 3
    assert got_wide == got_narrow
