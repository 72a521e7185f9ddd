"""Seeded input generators and committed start states for the crawl-round
benchmark.

Every input is a pure function of ``(workload spec, seed)``, generated in
Python from a keyed hash (``blake2b(seed, salt, id)``) and written as parquet
with pyarrow, so the same seed gives byte-identical files. The engine only
ever sees the generated tables: the docs corpus (the simulated web), the
bootstrap URLs and, for the polite workload, a robots table.

URL universe (ids ``0..U-1``):

- host: ``hot.bench.test`` for 10% of ids, the rest spread evenly over
  ``H`` hosts;
- path: ``/doc/{i}`` (stored, priority 900) for 80%, ``/page/{i}``
  (unstored, priority 10) for 20%; with robots, 20% of paths sit under
  ``/private/``; in a recrawl every id outside the prior crawl is a page;
- a doc row exists for 95% of ids (the rest fetch as 404);
- each doc carries ~1 KB of text and ``LINKS`` anchors. A share
  ``unseen_links`` of the links targets a random id in ``[N, U)`` (a URL
  not in the start frontier); the rest target a random id in ``[0, N)``.

The shares are exact: the seed decides which ids take each role (by a seeded
rank within each id range) and where links point, not how many.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig, Politeness
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.extract import order_spans
from dumb_crawler_spark.storage import Warehouse

HOT_HOST = "hot.bench.test"
DISALLOW = "/private/"
LINKS = 4
FILLER_REPEAT = 28  # ~1 KB of prose per page
ROUND_INTERVAL_MS = 60_000  # Crawler default; crawl-delay budgets derive from it
CRAWL_DELAY_MS = 20_000  # ⇒ 3 fetches per host per round on delayed hosts

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
ROBOTS_SCHEMA = pa.schema([("host", pa.string()), ("disallow", pa.list_(pa.string())), ("crawl_delay_ms", pa.int32())])


@dataclass(frozen=True)
class Spec:
    """One workload's input shape and crawl settings."""

    name: str
    universe: int  # U: ids that can ever be linked
    bootstrap: int  # N: ids in the start frontier (or the prior crawl)
    hosts: int  # H: regular hosts (the hot host comes on top)
    k: int  # URLs dequeued per round (thread_count = k / 2)
    host_budget: int  # global per-host budget per round
    rounds: int  # rounds per measured crawl
    unseen_links: float  # share of links that target [N, U)
    compact_every: int = 0
    robots: bool = False
    use_bloom: bool = False
    prior_rounds: int = 0  # > 0: resume with refetch from a prior crawl


SPECS = {
    s.name: s
    for s in (
        # fresh crawl on the incremental-planner path (k above the 10k
        # threshold; the eligible set is smaller than k, so a round dequeues
        # all of it), hot host capped by the global budget, about half of the
        # links unseen, MoR compaction in the second round
        Spec(
            name="forward_crawl", universe=6_000, bootstrap=2_500, hosts=25,
            k=10_002, host_budget=100, rounds=2, unseen_links=0.5,
            compact_every=2,
        ),
        # resume with refetch from a 2-round prior crawl under a robots table
        # (disallow on half the hosts, crawl-delay budgets on a third), bloom
        # prefilter on, k below the threshold (legacy fused plan_dequeue)
        Spec(
            name="polite_recrawl", universe=3_200, bootstrap=3_000, hosts=30,
            k=1_000, host_budget=60, rounds=2, unseen_links=0.05,
            robots=True, use_bloom=True, prior_rounds=2,
        ),
    )
}


def config(spec: Spec, partitions: int) -> CrawlConfig:
    return CrawlConfig(
        tagger={
            "internal": r"matches(host, '.*\.bench\.test')",
            "doc": r"matches(path, '.*/doc/[0-9]+')",
        },
        priorities={"doc": 900, "other": 10},
        whitelist=("internal",),
        storage_included_tags=("doc",),
        thread_count=spec.k // 2,
        politeness=Politeness(
            budget_per_host_per_round=spec.host_budget, respect_robots=spec.robots
        ),
        partitions=partitions,
    )


# -- the generator --------------------------------------------------------------
class Generator:
    """The inputs of one (spec, seed) universe, as Python data."""

    def __init__(self, spec: Spec, seed: int):
        self.spec = spec
        self.seed = seed

    def _h(self, salt: int, i: int) -> int:
        key = f"{self.seed}:{salt}:{i}".encode()
        return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")

    @cached_property
    def _rank(self) -> list[int]:
        """A seeded permutation rank of each id within its range ([0, N) or
        [N, U)). Roles are assigned by rank, so every seed gets exactly the
        same shares (and the same amount of work) on different URLs."""
        s = self.spec
        rank = [0] * s.universe
        for lo, hi in ((0, s.bootstrap), (s.bootstrap, s.universe)):
            for r, i in enumerate(sorted(range(lo, hi), key=lambda i: self._h(0, i))):
                rank[i] = r
        return rank

    def host(self, i: int) -> str:
        r = self._rank[i]
        if r % 10 == 0:
            return HOT_HOST
        return f"h{(r - r // 10 - 1) % self.spec.hosts}.bench.test"  # equal-sized hosts

    def path(self, i: int) -> str:
        s, r = self.spec, self._rank[i]
        kind = "/page/" if r % 5 == 1 else "/doc/"
        if s.prior_rounds and i >= s.bootstrap:
            kind = "/page/"  # a recrawl finds no new stored docs
        if s.robots and r % 5 == 3:
            kind = DISALLOW.rstrip("/") + kind
        return f"{kind}{i}"

    @cached_property
    def urls(self) -> list[str]:
        return [f"http://{self.host(i)}{self.path(i)}" for i in range(self.spec.universe)]

    def link_target(self, i: int, n: int) -> int:
        s = self.spec
        if (self._rank[i] * LINKS + n) % round(1 / s.unseen_links) == 0:
            return s.bootstrap + self._h(30 + n, i) % (s.universe - s.bootstrap)
        return self._h(40 + n, i) % s.bootstrap

    def has_doc(self, i: int) -> bool:
        return self._rank[i] % 20 != 7

    @cached_property
    def docs(self) -> dict[str, list[dict]]:
        """doc_id (the md5 url_id) → spans, for every id that has a doc."""
        out = {}
        for i, url in enumerate(self.urls):
            if not self.has_doc(i):
                continue
            anchors = " ".join(f'<a href="{self.urls[self.link_target(i, n)]}">' for n in range(LINKS))
            text = f"title {i} " + f"lorem ipsum dolor sit amet {i} " * FILLER_REPEAT + anchors
            out[hashlib.md5(url.encode()).hexdigest()] = [
                {"kind": "text", "text": text, "media_ref": None, "offset": 0}
            ]
        return out

    def bootstrap_urls(self) -> list[str]:
        return self.urls[: self.spec.bootstrap]

    def robots(self) -> list[dict]:
        """Disallow ``/private/`` on even hosts, a crawl delay on every third
        host; the hot host has no robots row."""
        return [
            {
                "host": f"h{h}.bench.test",
                "disallow": [DISALLOW] if h % 2 == 0 else [],
                "crawl_delay_ms": CRAWL_DELAY_MS if h % 3 == 0 else None,
            }
            for h in range(self.spec.hosts)
        ]

    def write(self, out_dir: Path) -> None:
        """The inputs as parquet files: docs, bootstrap and (with robots) robots."""
        out_dir.mkdir(parents=True, exist_ok=True)
        docs = sorted(self.docs.items())
        pq.write_table(
            pa.table({"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]}, DOCS_SCHEMA),
            out_dir / "docs.parquet",
        )
        pq.write_table(pa.table({"url": self.bootstrap_urls()}), out_dir / "bootstrap.parquet")
        if self.spec.robots:
            pq.write_table(pa.Table.from_pylist(self.robots(), ROBOTS_SCHEMA), out_dir / "robots.parquet")


def input_traffic(gen: Generator) -> dict:
    """Traffic properties of the generated inputs themselves: the shares the
    workloads are built around (see the module docstring)."""
    s = gen.spec
    boot = gen.bootstrap_urls()
    targets = [gen.link_target(i, n) for i in range(s.universe) if gen.has_doc(i) for n in range(LINKS)]
    disallow = {r["host"] for r in gen.robots() if r["disallow"]} if s.robots else set()
    blocked = [
        t for t in targets
        if gen.host(t) in disallow and gen.path(t).startswith(DISALLOW)
    ]
    return {
        "hot_host_share": sum(u.startswith(f"http://{HOT_HOST}/") for u in boot) / len(boot),
        "stored_share": sum("/doc/" in u for u in boot) / len(boot),
        "missing_doc_share": 1 - len(gen.docs) / s.universe,
        "unseen_link_share": sum(t >= s.bootstrap for t in targets) / len(targets),
        "blocked_link_share": len(blocked) / len(targets),
    }


@dataclass
class Inputs:
    """One run's inputs: the generator and its parquet files read by Spark."""

    spec: Spec
    gen: Generator
    docs: DataFrame
    bootstrap_urls: DataFrame
    robots: DataFrame | None


def materialize(spark: SparkSession, spec: Spec, seed: int, out_dir: Path) -> Inputs:
    gen = Generator(spec, seed)
    gen.write(out_dir)
    # explicit schemas: Spark need not open the files to infer them
    read = lambda name, schema: spark.read.schema(schema).parquet(str(out_dir / f"{name}.parquet"))  # noqa: E731
    return Inputs(
        spec, gen,
        read("docs", "doc_id string, spans array<struct<kind: string, text: string, media_ref: string, offset: int>>"),
        read("bootstrap", "url string"),
        read("robots", "host string, disallow array<string>, crawl_delay_ms int") if spec.robots else None,
    )


# -- committed start states -----------------------------------------------------
def _frontier_layout(df: DataFrame, partitions: int) -> DataFrame:
    """The engine's snapshot layout: bucketed by ``part``, sorted by
    (status, priority DESC) within a bucket."""
    return df.repartition(partitions, "part").sortWithinPartitions("status", F.desc("priority"))


def setup_crawl(spark: SparkSession, inp: Inputs, cfg: CrawlConfig, wh_dir: str) -> Crawler:
    """Write one crawl's committed start state through the engine's public
    writers and construct the Crawler over it.

    Fresh crawl: the bootstrap URLs go through the URL kernel into frontier
    rows (unique by construction, so no in-batch dedupe or seen anti-join),
    committed as round 0. Recrawl: a prior crawl of ``prior_rounds``
    rounds in which every bootstrap URL was fetched once — frontier snapshot
    (PROCESSED, or FAILED for 404s) plus a pages delta per prior round."""
    spec = inp.spec
    wh = Warehouse(spark, wh_dir)
    cands = FR.make_candidates(inp.bootstrap_urls, cfg)
    fr = cands.select(
        "url_id", "url", "host", "tags",
        F.lit(FR.QUEUED).cast("tinyint").alias("status"),
        F.col("priority").cast("int"),
        F.lit(0).alias("attempt"), F.lit(0).alias("depth"), F.lit(0).alias("created_round"),
        F.lit(None).cast("int").alias("taken_round"),
        F.lit(None).cast("int").alias("completed_round"),
        F.lit(None).cast("string").alias("error"),
        "part",
    )
    if not spec.prior_rounds:
        wh.write_snapshot("frontier", 0, _frontier_layout(fr, cfg.partitions))
        wh.commit_round(0, {"bootstrap": spec.bootstrap})
    else:
        last = spec.prior_rounds
        done_round = (F.pmod(F.xxhash64("url_id"), F.lit(last)) + 1).cast("int")
        fetched = fr.join(
            inp.docs.select(F.col("doc_id").alias("url_id"), "spans"), "url_id", "left"
        ).cache()
        ok = F.col("spans").isNotNull()
        prior = fetched.select(
            "url_id", "url", "host", "tags",
            F.when(ok, F.lit(FR.PROCESSED)).otherwise(F.lit(FR.FAILED)).cast("tinyint").alias("status"),
            "priority",
            F.lit(1).alias("attempt"),
            "depth", "created_round",
            done_round.alias("taken_round"),
            done_round.alias("completed_round"),
            F.when(ok, F.lit(None)).otherwise(F.lit("INVALID_STATUS_CODE_404")).cast("string").alias("error"),
            "part",
        )
        wh.write_snapshot("frontier", last, _frontier_layout(prior, cfg.partitions))
        stored = fetched.where(ok & F.array_contains("tags", "doc"))
        for r in range(1, last + 1):
            wh.append_delta(
                "pages", r,
                stored.where(done_round == r).select(
                    "url_id", "url", F.lit(r).alias("round"), order_spans(F.col("spans")).alias("spans")
                ),
            )
        for r in range(0, last + 1):
            wh.commit_round(r, {"prior": True})
        fetched.unpersist()
    return Crawler(
        spark, cfg, inp.docs, wh_dir,
        robots=inp.robots, use_bloom=spec.use_bloom,
        round_interval_ms=ROUND_INTERVAL_MS, compact_every=spec.compact_every,
    )
