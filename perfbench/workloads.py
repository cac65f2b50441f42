"""The benchmark's workloads: set-up, one timed operation, and its checks.

Each workload gets its inputs from ``corpus`` (seeded) and calls only the
engine's public API. ``rep`` times one operation; ``check`` runs after the
clock stops and returns (pages attempted, pages wrong), which feed
``attempted``/``failed``/``error_rate``.

* ``crawl_polite`` — ``operators.frontier.run_crawl`` with every admission
  mechanism on: priority order (0.25 per depth, 1.0 per admitted page of the
  host), robots (``host0``: ``Disallow: /nav`` and ``Crawl-delay: 2``; 63
  seeded hosts ``Crawl-delay: 1``), the crawl-delay schedule, a per-host
  budget, the files-mode Bloom seen set with compaction, and a fresh
  checkpoint directory per crawl. Small waves: per-generation fixed cost,
  seen writes and checkpoint commits dominate, extraction does little.
* ``snapshot_extract`` — no frontier: ``functions.extract.extract_page_udf``
  over a seeded corpus file, a byte-check of every markdown against the
  corpus ``text``, then ``operators.chunker.chunks_table``. Frontier,
  ordering, seen and checkpoint do no work, so a crawl-loop change must
  leave it unchanged.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import functions as F

import corpus
from eget_crawler_for_overflow_spark.functions import extract
from eget_crawler_for_overflow_spark.operators.chunker import chunks_table
from eget_crawler_for_overflow_spark.operators.frontier import CrawlConfig, run_crawl
from sparkenv import CORES


@dataclass
class Rep:
    """One timed operation: pages with status 'extracted', wall seconds,
    and what its checks and per-layer numbers read."""

    pages: int
    wall_s: float
    out: dict = field(default_factory=dict)


class CrawlPolite:
    name = "crawl_polite"
    root_span = "frontier.run_crawl"
    # Two generations (the 100 seeds, then their links up to the budget):
    # on a 4-core box one polite generation costs several seconds of
    # fixed Spark work, and a run must fit set-up, a warm-up crawl and a
    # timed crawl in about a minute. The seeds' links leave 282-345
    # admissible urls after robots and the host budget (seeds 0-299), so
    # the 200 left after the seeds always bind the budget.
    max_depth = 1
    max_pages = 300
    op_pages = max_pages

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seeds = corpus.seed_urls(seed)
        self.rules = corpus.robots_rules(seed)
        self.ckpt_root = os.path.join(corpus.WORK, f"ckpt-{os.getpid()}")
        self.fingerprint: str | None = None
        self.n_crawls = 0

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            max_depth=self.max_depth,
            max_pages=self.max_pages,
            same_domain=False,
            respect_robots=True,
            priority_depth_weight=0.25,
            priority_host_weight=1.0,
            crawl_delay_window=1024.0,
            host_budget=64,
            bloom_storage="files",
            # compacts at the second append, so a two-generation crawl
            # runs the rewrite too
            seen_compact_every=2,
            # seen shards sized to the cores, like the session's shuffle
            # partitions (the default 32 targets a 32-core box)
            n_shards=CORES,
        )

    def load(self) -> None:
        self.pages = self.spark.read.parquet(corpus.PAGES).persist()
        self.pages.count()
        self.robots = self.spark.createDataFrame(
            sorted(self.rules.items()), "host string, rules_text string"
        )

    def warm_up(self) -> None:
        """One discarded crawl of the same configuration; its admitted
        fingerprint is the one every timed crawl must reproduce."""
        rep = self.rep()
        self.fingerprint = self._fingerprint(rep)
        self.cleanup(rep)

    def rep(self) -> Rep:
        self.n_crawls += 1
        ckpt = os.path.join(self.ckpt_root, str(self.n_crawls))
        t0 = time.perf_counter()
        res = run_crawl(
            self.spark, self.pages, self.seeds, self.config(),
            robots=self.robots, checkpoint_dir=ckpt, crawl_id=self.name,
        )
        pages = res.extracted.filter(F.col("status") == "extracted").count()
        wall = time.perf_counter() - t0
        return Rep(pages, wall, {"res": res, "ckpt": ckpt})

    def _fingerprint(self, rep: Rep) -> str:
        rows = rep.out["res"].admitted.select("enqueue_seq", "url").collect()
        rep.out["admitted"] = sorted((r[0], r[1]) for r in rows)
        h = hashlib.sha256()
        for seq, url in rep.out["admitted"]:
            h.update(f"{seq}\t{url}\n".encode())
        return h.hexdigest()

    def check(self, rep: Rep) -> tuple[int, int]:
        """A wrong admitted sequence — another fingerprint than the warm-up
        crawl's, a duplicate url, not exactly ``max_pages`` admitted, a
        robots-disallowed link admitted — fails every page of the crawl.
        Otherwise each page whose markdown is not byte-identical to the
        corpus text, each 'missing' page the corpus has, and each admitted
        page never fetched fails on its own. 'missing' pages of urls the
        corpus lacks (``/nav``, off-site links) are the reference's failed
        scrapes, not errors."""
        fp = self._fingerprint(rep)
        adm = rep.out["admitted"]
        urls = [u for _, u in adm]
        if (
            fp != self.fingerprint
            or len(adm) != self.max_pages
            or len(set(urls)) != len(urls)
            or [s for s, _ in adm] != list(range(len(adm)))
            or "https://host0.example/nav" in urls[len(self.seeds):]
        ):
            return self.max_pages, self.max_pages
        # a few hundred rows: compare on the driver against the corpus rows
        # of the same urls (a join would shuffle the whole corpus)
        ext = rep.out["res"].extracted.select("url", "status", "markdown").collect()
        ext_urls = sorted({r["url"] for r in ext})
        text = dict(
            self.pages.filter(F.col("url").isin(ext_urls)).select("url", "text").collect()
        )
        wrong = sum(
            r["markdown"] != text.get(r["url"])
            if r["status"] == "extracted"
            else text.get(r["url"]) is not None
            for r in ext
        )
        return self.max_pages, wrong + len(adm) - len(ext_urls)

    def layer_counts(self, rep: Rep) -> dict[str, float]:
        """Counts the engine reports in its metrics frame (lazy: collecting
        it runs two small aggregations), plus checkpoint bytes on disk."""
        res = rep.out["res"]
        totals: dict[str, float] = {}
        for r in res.metrics.collect():
            totals[r["name"]] = totals.get(r["name"], 0.0) + r["value"]
        return {
            "generations": float(res.generations),
            "queued": totals.get("queued", 0.0),
            "admitted": totals.get("admitted", 0.0),
            "extracted": totals.get("extracted", 0.0),
            "deferred": totals.get("deferred", 0.0),
            "ckpt_bytes": float(_dir_bytes(rep.out["ckpt"])),
        }

    def scaling_eff(self) -> float:
        return 0.0  # measured on snapshot_extract only

    def cleanup(self, rep: Rep) -> None:
        shutil.rmtree(rep.out["ckpt"], ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        self.pages.unpersist()


class SnapshotExtract:
    name = "snapshot_extract"
    root_span = "snapshot.pass"
    # sub-slice for the 1-core vs CORES-core scaling pair (traced runs)
    scaling_pages = 4000

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.files = corpus.slice_files(seed)
        self.expected_chunks: tuple[int, int] | None = None

    def load(self) -> None:
        """Scan the seeded corpus file and persist it in 4 × CORES
        partitions."""
        self.slice = (
            self.spark.read.parquet(*self.files)
            .select("url", "html", "text")
            .repartition(4 * CORES)
            .persist()
        )
        self.op_pages = self.slice.count()

    def warm_up(self) -> None:
        """The chunk totals of the corpus ``text`` itself, which every pass
        must reproduce, then one discarded pass."""
        self.expected_chunks = _chunk_totals(
            chunks_table(self.slice.select("url", F.col("text").alias("markdown")))
        )
        self.rep()

    def _extract(self, frame):
        # module attribute: traced runs rebind it
        return frame.select(
            "url", "text", extract.extract_page_udf(F.col("html")).alias("e")
        ).select("url", "text", F.col("e.markdown").alias("markdown"))

    def rep(self) -> Rep:
        t0 = time.perf_counter()
        ext = self._extract(self.slice).localCheckpoint(eager=True)
        mismatched = ext.filter(~F.col("markdown").eqNullSafe(F.col("text"))).count()
        chunks = _chunk_totals(chunks_table(ext))
        wall = time.perf_counter() - t0
        return Rep(self.op_pages, wall, {"mismatched": mismatched, "chunks": chunks})

    def check(self, rep: Rep) -> tuple[int, int]:
        """Each page whose markdown differs from the corpus text fails; a
        chunk count or word total other than the corpus text's fails the
        whole pass."""
        if rep.out["chunks"] != self.expected_chunks:
            return self.op_pages, self.op_pages
        return self.op_pages, rep.out["mismatched"]

    def layer_counts(self, rep: Rep) -> dict[str, float]:
        return {}

    def scaling_eff(self) -> float:
        """``(t_1core / t_CORES) / CORES`` for extract + byte-check of a
        fixed sub-slice, both sides in this warm JVM: CORES partitions run
        as CORES parallel tasks against the same partitions coalesced into
        one task. Two pairs, alternating order; the median of each side."""
        sub = self.slice.limit(self.scaling_pages).repartition(CORES).persist()
        sub.count()

        def timed(frame) -> float:
            t = time.perf_counter()
            n = self._extract(frame).filter(
                F.col("markdown").eqNullSafe(F.col("text"))
            ).count()
            if n != self.scaling_pages:
                raise RuntimeError(f"scaling pass: {n} of {self.scaling_pages} match")
            return time.perf_counter() - t

        t_n, t_1 = [], []
        for k in (CORES, 1, 1, CORES):
            (t_n if k == CORES else t_1).append(timed(sub.coalesce(k)))
        sub.unpersist()
        return (median(t_1) / median(t_n)) / CORES

    def cleanup(self, rep: Rep) -> None:
        pass

    def close(self) -> None:
        self.slice.unpersist()


def _chunk_totals(chunks) -> tuple[int, int]:
    r = chunks.agg(F.count("*"), F.sum("word_count")).collect()[0]
    return int(r[0]), int(r[1] or 0)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


WORKLOADS = {w.name: w for w in (CrawlPolite, SnapshotExtract)}
