"""Seeded input generation for the three workloads, cached on disk.

Everything here is plain Python (no Spark): the program under test only
ever sees the files written by this module.  The same ``(workload,
seed)`` always yields byte-identical inputs, so a cache entry is reused
as-is and its generation time never enters a metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

# web_pages rows per kg_build corpus / query_mix corpus
KG_PAGES = 1500
QM_PAGES = 1500
# pages of the tiny corpus the warm-up runs on
WARMUP_PAGES = 120
# share of base pages re-crawled (same url and body, new warc_ts)
RECRAWL_SHARE = 0.05

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
SAMEAS_BASE = "https://corpus.example.org/sameas/"


def seeded_rng(seed: int, tag: str) -> random.Random:
    """An independent random stream per (seed, purpose)."""
    h = hashlib.sha256(f"perfbench|{seed}|{tag}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def sameas_clusters(seed: int, n_pages: int) -> list[list[int]]:
    """Disjoint clusters of entity indices: many small ones (2-6
    members) plus ONE large cluster of ~n/25 members, the shape that
    makes the closure stage do real work."""
    rng = seeded_rng(seed, "clusters")
    pool = list(range(1, n_pages))
    rng.shuffle(pool)
    big = max(8, n_pages // 25)
    clusters = [sorted(pool[:big])]
    k = big
    for _ in range(n_pages // 40):
        size = rng.choice([2, 2, 2, 3, 3, 4, 6])
        clusters.append(sorted(pool[k : k + size]))
        k += size
    return clusters


def _sameas_pages(seed: int, n_pages: int) -> list[tuple[str, str]]:
    """(url, turtle body) pages asserting the clusters' owl:sameAs
    edges.  Small clusters are chains; the large one is a random tree
    split over several pages (its edges span documents)."""
    from py_sema_spark.sources.corpus import entity_iri

    rng = seeded_rng(seed, "edges")
    pages = []
    for ci, members in enumerate(sameas_clusters(seed, n_pages)):
        order = members[:]
        rng.shuffle(order)
        if len(order) > 8:
            edges = [(order[rng.randrange(j)], order[j]) for j in range(1, len(order))]
        else:
            edges = list(zip(order, order[1:]))
        per_page = 16
        for pi in range(0, len(edges), per_page):
            body = "\n".join(
                f"<{entity_iri(a)}> <{OWL_SAMEAS}> <{entity_iri(b)}> ."
                for a, b in edges[pi : pi + per_page]
            )
            pages.append((f"{SAMEAS_BASE}{ci}/{pi // per_page}", body))
    return pages


def corpus_rows(seed: int, n_pages: int) -> list[tuple]:
    """``web_pages`` rows: ``synth_corpus(seed)``'s pages (the same
    ``build_page`` rows it distributes), plus owl:sameAs Turtle pages,
    plus re-crawled duplicates of a share of the pages."""
    from py_sema_spark.sources.corpus import build_page

    rows = [build_page(seed, i, n_pages) for i in range(n_pages)]
    ts0 = datetime(2024, 6, 1)
    for url, body in _sameas_pages(seed, n_pages):
        rows.append((url, ts0, body.encode("utf-8"), body, "en"))
    rng = seeded_rng(seed, "recrawl")
    for i in rng.sample(range(n_pages), int(n_pages * RECRAWL_SHARE)):
        url, ts, html, text, lang = rows[i]
        rows.append((url, ts + timedelta(days=30 + rng.randrange(30)), html, text, lang))
    return rows


def dictionary_rows(seed: int, n_pages: int) -> list[tuple[str, str]]:
    """(entity, label) mention dictionary from ``entity_label``."""
    from py_sema_spark.sources.corpus import entity_iri, entity_label

    return [(entity_iri(i), entity_label(seed, i)) for i in range(1, n_pages)]


def _write_corpus(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    utc = timezone.utc
    table = pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r[1].replace(tzinfo=utc) for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([r[3] for r in rows], pa.string()),
            "lang": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    # several files so the scan has several splits, like a crawl dump
    step = max(1, len(rows) // 8)
    for k, lo in enumerate(range(0, len(rows), step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _write_dictionary(path: str, rows: list[tuple[str, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"entity": [r[0] for r in rows], "label": [r[1] for r in rows]}),
        os.path.join(path, "part-000.parquet"),
    )


def cached(root: str, workload: str, seed: int, build) -> str:
    """Return ``<root>/inputs/<workload>/<seed>``, calling
    ``build(dir)`` first when that entry is not complete yet."""
    d = os.path.join(root, "inputs", workload, str(seed))
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        build(d)
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def corpus_inputs(root: str, workload: str, seed: int, n_pages: int) -> dict:
    """Corpus + dictionary (+ cluster list for the checks) for a
    seed; the warm-up corpus uses a derived seed so it never shares
    pages with the measured one."""

    def build(d: str) -> None:
        _write_corpus(os.path.join(d, "corpus"), corpus_rows(seed, n_pages))
        _write_dictionary(os.path.join(d, "dictionary"), dictionary_rows(seed, n_pages))
        wseed = seed + 1_000_003
        _write_corpus(os.path.join(d, "warmup_corpus"), corpus_rows(wseed, WARMUP_PAGES))
        with open(os.path.join(d, "clusters.json"), "w") as fh:
            json.dump(sameas_clusters(seed, n_pages), fh)

    d = cached(root, workload, seed, build)
    with open(os.path.join(d, "clusters.json")) as fh:
        clusters = json.load(fh)
    return {
        "corpus": os.path.join(d, "corpus"),
        "dictionary": os.path.join(d, "dictionary"),
        "warmup_corpus": os.path.join(d, "warmup_corpus"),
        "clusters": clusters,
    }


def zipf_keys(seed: int, n_keys: int, count: int, s: float = 1.1) -> list[int]:
    """``count`` draws from a Zipf(s) law over ranks 1..n_keys, mapped
    through a seeded permutation onto entity indices 1..n_keys."""
    rng = seeded_rng(seed, "zipf")
    weights = [1.0 / (r**s) for r in range(1, n_keys + 1)]
    perm = list(range(1, n_keys + 1))
    rng.shuffle(perm)
    return [perm[r] for r in rng.choices(range(n_keys), weights=weights, k=count)]
