"""Output checks and the measured-traffic record.

Every check adds one to ``Tally.attempted`` and, when it fails, one to
``Tally.failed``; the run's result reports both.
"""

from __future__ import annotations

import functools
import hashlib
import sys
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dumb_crawler_spark.oracle import Entry, OracleCrawler, url_parts

from roundbench.workloads import HOT_HOST, ROUND_INTERVAL_MS, Spec


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"roundbench: check failed: {what}", file=sys.stderr)


# -- oracle parity ----------------------------------------------------------------
class PoliteOracle(OracleCrawler):
    """The oracle plus the robots semantics of the engine: disallowed link
    candidates are never inserted, and a crawl-delay caps its host's dequeue
    budget at floor(round interval / delay), at least 1."""

    def __init__(self, cfg, docs, robots_rows):
        super().__init__(cfg, docs)
        budget = cfg.politeness.budget_per_host_per_round
        self.disallow = {r["host"]: list(r["disallow"]) for r in robots_rows}
        self.caps = {
            r["host"]: min(max(ROUND_INTERVAL_MS // r["crawl_delay_ms"], 1), budget)
            for r in robots_rows
            if r["crawl_delay_ms"]
        }

    def _blocked(self, url: str) -> bool:
        p = url_parts(url)
        return any(p["path"].startswith(d) for d in self.disallow.get(p["host"], ()))

    def _link_candidates(self, urls):
        return super()._link_candidates([u for u in urls if not self._blocked(u)])

    def _dequeue(self, round_no):
        budget = self.cfg.politeness.budget_per_host_per_round
        order = lambda e: (-e.priority, e.attempt, e.url_id)  # noqa: E731
        by_host: dict = {}
        for e in self.r.frontier.values():
            if e.status == 0 and e.attempt < self.cfg.max_attempt_count:
                by_host.setdefault(e.host, []).append(e)
        elig = []
        for host, entries in by_host.items():
            entries.sort(key=order)
            elig.extend(entries[: self.caps.get(host, budget)])
        elig.sort(key=order)
        out = elig[: self._round_k()]
        for seq, e in enumerate(out):
            e.status = 1
            e.taken_round = round_no
            self.r.dequeue_order.append((round_no, seq, e.url_id))
        return out


def oracle_replay(crawl, inp, cfg, dq: list, tally: Tally) -> int:
    """Replay a measured crawl with the Python oracle from the same committed
    start state over the same generated docs: every round's dequeue order
    (``dq``, the crawl's dequeue_order rows) and the final URL-seen set must
    be equal. Returns the frontier size."""
    wh, start, n = crawl.wh, crawl.start_round, len(crawl.rounds)
    docs = inp.gen.docs
    oracle = (
        PoliteOracle(cfg, docs, inp.gen.robots()) if inp.robots is not None
        else OracleCrawler(cfg, docs)
    )
    for row in wh.read_frontier(start).drop("part").collect():
        e = Entry(**row.asDict())
        oracle.r.frontier[e.url_id] = e
    for r in range(start + 1, start + n + 1):
        oracle.run_round(r)
    got = sorted((r["round"], r["seq"], r["url_id"]) for r in dq)
    tally.check(got == oracle.r.dequeue_order, "oracle replay: dequeue order differs")
    seen = {r["url_id"] for r in wh.read_frontier(start + n).select("url_id").collect()}
    tally.check(seen == oracle.r.seen_set(), "oracle replay: URL-seen set differs")
    return len(seen)


# -- per-round dequeue order --------------------------------------------------------
def _host_caps(cfg, robots: DataFrame | None) -> DataFrame | None:
    if robots is None:
        return None
    budget = cfg.politeness.budget_per_host_per_round
    return robots.where(F.col("crawl_delay_ms").isNotNull()).select(
        "host",
        F.least(
            F.greatest(F.floor(F.lit(ROUND_INTERVAL_MS) / F.col("crawl_delay_ms")), F.lit(1)),
            F.lit(budget),
        ).alias("_cap"),
    )


def dequeue_order(crawl, cfg, robots, dq: list, tally: Tally) -> None:
    """Each round's dequeue order (``dq``) equals a plain window-rank
    recomputation from the previous committed frontier: QUEUED rows under
    the attempt limit, at most the host's budget per host, top k in
    (priority DESC, attempt, url_id) order. One Spark job for all rounds."""
    caps = _host_caps(cfg, robots)
    order = [F.desc("priority"), F.asc("attempt"), F.asc("url_id")]
    k = cfg.thread_count * 2
    rounds = range(crawl.start_round + 1, crawl.start_round + len(crawl.rounds) + 1)
    elig = functools.reduce(DataFrame.unionByName, (
        crawl.wh.read_frontier(r - 1).withColumn("_round", F.lit(r)) for r in rounds
    )).where((F.col("status") == 0) & (F.col("attempt") < cfg.max_attempt_count))
    cap = F.lit(cfg.politeness.budget_per_host_per_round)
    if caps is not None:
        elig = elig.join(F.broadcast(caps), "host", "left")
        cap = F.coalesce(F.col("_cap"), cap)
    top = (
        elig.withColumn("_hr", F.row_number().over(Window.partitionBy("_round", "host").orderBy(*order)))
        .where(F.col("_hr") <= cap)
        .withColumn("_rk", F.row_number().over(Window.partitionBy("_round").orderBy(*order)))
        .where(F.col("_rk") <= k)
    )
    want: dict[int, list] = {}
    for x in top.select("_round", "_rk", "url_id").collect():
        want.setdefault(x["_round"], []).append((x["_rk"], x["url_id"]))
    got: dict[int, list] = {}
    for x in dq:
        got.setdefault(x["round"], []).append((x["seq"], x["url_id"]))
    for r in rounds:
        same = [u for _, u in sorted(got.get(r, []))] == [u for _, u in sorted(want.get(r, []))]
        tally.check(same, f"round {r}: dequeue_order differs from recomputation")


# -- run-level checks ---------------------------------------------------------------
def output_digest(crawl, dq: list, rounds: int) -> str:
    """Content hash of a crawl's outputs after its first ``rounds`` rounds:
    dequeue order (from ``dq``, its dequeue_order rows), the committed
    frontier (inserted and updated rows alike) and the round counters."""
    last = crawl.start_round + rounds
    cols = ("url_id", "url", "status", "priority", "attempt", "depth", "error")
    parts = [
        sorted((x["round"], x["seq"], x["url_id"]) for x in dq if x["round"] <= last),
        sorted(tuple(x) for x in crawl.wh.read_frontier(last).select(*cols).collect()),
        [(s.dequeued, sorted(s.counters.items())) for s in crawl.rounds[:rounds]],
    ]
    return hashlib.sha256(repr(parts).encode()).hexdigest()


def same_as_warmup(warmup, crawl, dq: list, tally: Tally) -> None:
    """The warm-up and the measured crawl have identical inputs, so the
    warm-up's rounds give the same outputs as the measured crawl's first."""
    n = len(warmup.rounds)
    warm_dq = warmup.crawler.dequeue_order().select("round", "seq", "url_id").collect()
    tally.check(
        output_digest(crawl, dq, n) == output_digest(warmup, warm_dq, n),
        "crawl outputs differ from the warm-up crawl",
    )


def robots_inserts(crawl, robots_rows: list[dict], tally: Tally) -> None:
    """No URL inserted during the crawl falls under its host's disallow prefix."""
    disallow = {r["host"]: r["disallow"] for r in robots_rows}
    start = crawl.start_round
    ins = []
    for r in range(start + 1, start + len(crawl.rounds) + 1):
        df = crawl.wh.read_frontier_inserts(r)
        if df is not None:
            ins.extend(df.select("url", "host").collect())
    tally.check(bool(ins), "robots check: the crawl inserted no URLs")
    blocked = [
        r["url"] for r in ins
        if any(urlsplit(r["url"]).path.startswith(p) for p in disallow.get(r["host"], ()))
    ]
    tally.check(not blocked, f"robots check: {len(blocked)} inserted URLs fall under a disallow prefix")


def updates_only(crawl, tally: Tally) -> None:
    """A recrawl saves only pages it saved before: UPDATED_PAGES == SAVED_PAGES > 0."""
    for s in crawl.rounds:
        saved = s.counters.get("SAVED_PAGES", 0)
        upd = s.counters.get("UPDATED_PAGES", 0)
        tally.check(saved > 0 and upd == saved, f"round {s.round_no}: UPDATED {upd} != SAVED {saved}")


# -- measured traffic -----------------------------------------------------------------
def round_traffic(counters: dict, dequeued: int) -> dict:
    """Traffic shares of one round (or a whole crawl) from its counters.
    Each dequeued row adds one to ALLOWED_LINKS or IGNORED_LINKS before the
    fetch, so the links extracted are the two counters minus the dequeued."""
    c = lambda name: counters.get(name, 0)  # noqa: E731
    links = c("ALLOWED_LINKS") + c("IGNORED_LINKS") - dequeued
    fetched = c("PROCESSED_URLS") + sum(v for n, v in counters.items() if n.startswith("ERROR_"))
    return {
        "link_yield": c("DISCOVERED_URLS") / links if links else 0.0,
        "error_share": c("ERROR_INVALID_STATUS_CODE_404") / fetched if fetched else 0.0,
        "robots_blocked_share": c("ROBOTS_BLOCKED_LINKS") / links if links else 0.0,
        "update_share": c("UPDATED_PAGES") / c("SAVED_PAGES") if c("SAVED_PAGES") else 0.0,
    }


def traffic(crawl, spec: Spec, frontier_rows: int, dq: list) -> dict:
    """A measured crawl's traffic, counted from its round counters (the rows
    of its metrics table) and its dequeue order (``dq``)."""
    counters: dict[str, int] = {}
    for s in crawl.rounds:
        for name, v in s.counters.items():
            counters[name] = counters.get(name, 0) + v
    hosts = [r["host"] for r in dq]
    return {
        "frontier_rows": frontier_rows,
        "k": spec.k,
        "rounds": len(crawl.rounds),
        "dequeue_fill": len(hosts) / (spec.k * len(crawl.rounds)),
        "hot_host_share": hosts.count(HOT_HOST) / len(hosts),
        **round_traffic(counters, len(hosts)),
    }
