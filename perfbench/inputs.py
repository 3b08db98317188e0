"""Seeded input generators for the benchmark workloads.

The seed varies content and order, never size or shape: every seed gives the
same document count, word-count distribution, page-graph shape and host
count, so two seeds exercise the same amount of work.

* ``write_tables`` — ``documents.parquet`` and ``embeddings.parquet`` with the
  schema of the sf0.x test tables (31-word vocabulary, 10-100 words per
  document, five languages, twenty sources, a few exact and near duplicates;
  64-dim unit embeddings in ten weak clusters).
* ``bulk_seeds`` — BFS-depth seed URLs over the ``corpus_from_documents``
  page forest, in a seed-shuffled order.
* ``polite_pages`` — a ``build_fixture_pages`` graph whose hosts are renamed
  by a seeded permutation, so host ids, budgets and politeness windows see a
  different order per seed while the graph stays isomorphic.
* ``write_corpus`` — those rows as a parquet corpus, written without Spark.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = i and rng.random()
        if i and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        if i and r < 0.05:
            # near duplicate: an earlier document with a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=3):
                words[j] = "dup"
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), size=n)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = np.random.default_rng(seed + 1)
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n_vecs)
    x = rng.normal(size=(n_vecs, EMB_DIM)) + 0.6 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(seed, n_vecs), os.path.join(sf_dir, "embeddings.parquet"))


def write_corpus(corpus_dir: str, rows: list[dict]) -> None:
    """Fixture rows as one parquet file with the ``CORPUS_SCHEMA`` columns."""
    os.makedirs(corpus_dir, exist_ok=True)
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
        "encoding": pa.array([r["encoding"] for r in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(corpus_dir, "part-0.parquet"))


def host_of(page_id: int, n_hosts: int, fanout: int) -> int:
    """Subtree root of a page in the ``corpus_from_documents`` forest."""
    while page_id >= n_hosts:
        page_id = (page_id - 1) // fanout
    return page_id


def forest_ids(n_pages: int, n_hosts: int, fanout: int, depth: int) -> list[int]:
    """Page ids of BFS depth <= ``depth`` (roots are the ids < n_hosts)."""
    level = list(range(n_hosts))
    ids = list(level)
    for _ in range(depth):
        level = [
            c
            for i in level
            for c in range(i * fanout + 1, i * fanout + fanout + 1)
            if n_hosts <= c < n_pages
        ]
        ids.extend(level)
    return ids


def page_url(page_id: int, n_hosts: int, fanout: int) -> str:
    return f"http://site{host_of(page_id, n_hosts, fanout)}.test/p/{page_id}"


def bulk_seeds(seed: int, n_pages: int, n_hosts: int, fanout: int, depth: int) -> list[str]:
    ids = forest_ids(n_pages, n_hosts, fanout, depth)
    random.Random(seed).shuffle(ids)
    return [page_url(i, n_hosts, fanout) for i in ids]


def polite_pages(seed: int, n_hosts: int, depth: int, fanout: int) -> tuple[list[dict], list[str]]:
    """Fixture rows with hosts renamed by a seeded permutation, plus the seed
    URLs in a seeded order. Renaming rewrites url, html and text together,
    so the text column stays the byte-identical oracle.

    Each host is seeded with its root page and with the dead link its page 3
    carries (a stale seed list): the first round already takes the
    404 -> retry path, and rediscovering the link exercises the seen reject."""
    from acrawler_spark.sources.corpus import build_fixture_pages

    perm = list(range(n_hosts))
    random.Random(seed).shuffle(perm)
    rows = build_fixture_pages(n_hosts=n_hosts, depth=depth, fanout=fanout)
    # through placeholders, so an earlier rename is never renamed again
    def rename(s: str) -> str:
        for h in range(n_hosts):
            s = s.replace(f"site{h}.test", f"\x00{h}\x00")
        for h in range(n_hosts):
            s = s.replace(f"\x00{h}\x00", f"site{perm[h]}.test")
        return s

    out = []
    for r in rows:
        html = rename(r["html"].decode("latin-1")).encode("latin-1")
        out.append({**r, "url": rename(r["url"]), "html": html, "text": rename(r["text"])})
    seeds = [u for h in range(n_hosts)
             for u in (f"http://site{h}.test/p/0", f"http://site{h}.test/dead/3")]
    random.Random(seed + 1).shuffle(seeds)
    return out, seeds
