"""Benchmark inputs: the sf0.1 page corpus and the seeded per-run inputs.

The corpus is fixed (it does not depend on ``--seed``): 5,000 synthetic
documents rendered by the engine's own ``pagemodel`` formulas into 500,000
pages over 1,024 hosts, ``host0`` owning about half of them. It is rendered
once per checkout into ``perfbench/.work`` (about 840 MB, uncompressed
parquet in 64 files, the layout ``fixtures.load_pages`` writes) by a separate
process, so the render's JVM never warms the timed session. Everything the
seed changes — the crawl seed URLs, the robots host set, the snapshot slice —
is derived here from ``random.Random(seed)``.

Run ``python3 perfbench/corpus.py`` to render the corpus by hand.
"""

from __future__ import annotations

import os
import random
import shutil

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
# the tier is read from the directory name by pagemodel.sizing
SF_DIR = os.path.join(WORK, "sf0.1")
PAGES = os.path.join(WORK, "pages_sf0.1.parquet")
N_DOCS = 5000
N_FILES = 64
# the document table never changes with --seed: one corpus per checkout
DOC_SEED = 20250101

# word list and language mix of the documents table the repo's tests use
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "string table value vector window"
).split()
_LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3


def write_documents(path: str) -> None:
    """5,000 ``(doc_id, text, lang)`` rows of lowercase words, 44-577 chars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(DOC_SEED)
    texts, langs = [], []
    for _ in range(N_DOCS):
        target = rng.randint(44, 577)
        words: list[str] = []
        n = -1
        while n < target:
            w = rng.choice(_WORDS)
            words.append(w)
            n += len(w) + 1
        texts.append(" ".join(words))
        langs.append(rng.choice(_LANGS))
    table = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def corpus_ready() -> bool:
    return os.path.exists(os.path.join(PAGES, "_SUCCESS"))


def render(spark) -> None:
    """Materialize the pages table once, atomically (tmp dir + rename)."""
    from eget_crawler_for_overflow_spark.fixtures import build_pages

    write_documents(os.path.join(SF_DIR, "documents.parquet"))
    tmp = PAGES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # same layout as fixtures.load_pages: fixed file count, no compression
    build_pages(spark, SF_DIR).repartition(N_FILES).write.mode(
        "overwrite"
    ).option("compression", "none").parquet(tmp)
    shutil.rmtree(PAGES, ignore_errors=True)
    os.rename(tmp, PAGES)


def sizing() -> tuple[int, int]:
    from eget_crawler_for_overflow_spark import pagemodel as pm

    return pm.sizing(SF_DIR)


def seed_urls(seed: int, n: int = 100) -> list[str]:
    """``n`` distinct corpus URLs drawn by the seed (crawl seed list)."""
    from eget_crawler_for_overflow_spark import pagemodel as pm

    n_pages, n_hosts = sizing()
    ids = random.Random(seed).sample(range(n_pages), n)
    return [pm.url_of(i, n_hosts) for i in ids]


def robots_rules(seed: int, n_delay_hosts: int = 63) -> dict[str, str]:
    """host → robots.txt body. ``host0`` (the mega-host) disallows ``/nav``
    with ``Crawl-delay: 2``; ``n_delay_hosts`` other hosts, picked by the
    seed, get ``Crawl-delay: 1``. Every other host has no robots.txt."""
    from eget_crawler_for_overflow_spark import pagemodel as pm

    _, n_hosts = sizing()
    rng = random.Random(seed ^ 0x5EED)
    rules = {pm.hostname(0): "User-agent: *\nDisallow: /nav\nCrawl-delay: 2\n"}
    for h in rng.sample(range(1, n_hosts), n_delay_hosts):
        rules[pm.hostname(h)] = "User-agent: *\nCrawl-delay: 1\n"
    return rules


def slice_files(seed: int) -> list[str]:
    """One parquet file of the corpus (about 7,800 pages), picked by the
    seed: the snapshot workload's slice."""
    files = sorted(
        os.path.join(PAGES, f) for f in os.listdir(PAGES) if f.endswith(".parquet")
    )
    return [random.Random(seed ^ 0x511CE).choice(files)]


def main() -> None:
    from sparkenv import start_session, stop_session

    spark = start_session()
    try:
        render(spark)
    finally:
        stop_session(spark)


if __name__ == "__main__":
    main()
