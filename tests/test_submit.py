"""End-to-end `spark-submit --py-files` test (north-rule run shape).

Packages acrawler_spark into a zip (scripts/package.sh logic), writes a
fixture corpus to parquet, then drives scripts/submit_crawl.py through a
REAL spark-submit with the repo deliberately absent from the child's
import path — the zip must provide the package, exactly as on a cluster.
The first submit's store is checked against the hermetic oracle (schedule
order and seen set); a second submit against the same store proves
resume-on-resubmit.
"""

import json
import os
import subprocess
import sys
import zipfile

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(pyspark.__path__[0], "bin", "spark-submit")


def _build_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "acrawler_spark")
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))


def _submit(args: list[str], cwd: str) -> dict:
    env = os.environ.copy()
    # the child must import acrawler_spark from the zip, not the repo
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.driver.memory=2g",
         *args],
        capture_output=True, text=True, env=env, cwd=cwd, timeout=420,
    )
    assert out.returncode == 0, f"spark-submit failed:\n{out.stderr[-4000:]}"
    last = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(last)


def test_spark_submit_pyfiles_crawl_and_resume(spark, tmp_path):
    from acrawler_spark.sources.corpus import build_fixture_pages, fixture_corpus_df
    from acrawler_spark.sources.store import CheckpointStore

    from tests.oracle import OracleCrawl
    from tests.test_engine_e2e import schedule_of

    zip_path = str(tmp_path / "acrawler_spark.zip")
    _build_zip(zip_path)
    corpus_dir = str(tmp_path / "corpus")
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)
    corpus.write.parquet(corpus_dir)
    n_pages = corpus.count()

    store = str(tmp_path / "store")
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("# fixture seeds\nhttp://site0.test/p/0\nhttp://site1.test/p/0\n")

    base = ["--py-files", zip_path, os.path.join(REPO, "scripts", "submit_crawl.py"),
            "--corpus", corpus_dir, "--store", store,
            "--seeds-file", str(seeds_file),
            "--follow-pattern", r"site\d+\.test",
            "--bloom-bits", str(1 << 14), "--max-rounds", "10"]
    # cwd far from the repo: only the zip can provide the package
    r1 = _submit(base, cwd=str(tmp_path))
    assert r1["resumed_from_round"] == -1
    assert r1["rounds"] > 1
    # every fixture page is reachable from the seeds (cross-host links close
    # the graph), so a finished crawl fetched the full corpus successfully
    # exactly once; dead-link misses add ok=False rows on top (retry ladder)
    assert r1["ok"] == n_pages
    assert r1["fetched"] >= n_pages
    # and it is the reference's crawl: per-round schedule order (fetch_log
    # rank) and the final seen set equal the oracle's
    seeds = ["http://site0.test/p/0", "http://site1.test/p/0"]
    want = OracleCrawl(
        build_fixture_pages(2, 2, 3), seeds, [r"site\d+\.test"]
    ).run(max_rounds=10)
    got = CheckpointStore(store, spark)
    assert schedule_of(got) == want.schedule
    assert {r["fingerprint"] for r in got.read_appended("seen").collect()} == want.seen

    # resubmit with the same store: the crawl is finished, so the engine
    # resumes, finds no due frontier rows, and adds zero rounds/fetches
    r2 = _submit(base, cwd=str(tmp_path))
    assert r2["resumed_from_round"] >= 1
    assert r2["rounds"] == 0
    assert r2["ok"] == n_pages
    assert r2["fetched"] == r1["fetched"]


def test_package_sh_builds_zip(tmp_path):
    out = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "package.sh")],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    zp = os.path.join(REPO, "dist", "acrawler_spark.zip")
    assert os.path.exists(zp)
    with zipfile.ZipFile(zp) as z:
        names = z.namelist()
    assert "acrawler_spark/plans/engine.py" in names
    assert "acrawler_spark/kernel.py" in names
