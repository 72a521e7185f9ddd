"""Traced mode: spans around the public calls of the engine's layers, and
per-round phase costs read from Spark's live status store.

The tracer wraps functions and methods from the benchmark process (the
engine's files are not touched): a span is (name, start, end, parent, Spark
job-id range). At the end of each round it reads the round's jobs from the
status store and groups their stages by the ``phase:*`` job description the
crawler sets. Per-layer metrics are per-round medians (0 when the layer did
not run in a round); one-time layers (bootstrap, planner seed) and the
first commit are per crawl.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from pathlib import Path

from dumb_crawler_spark import bloom, crawler, frontier, planner, robots, storage

from roundbench.checks import round_traffic
from roundbench.measure import dir_usage, steal_s
from roundbench.workloads import HOT_HOST

PHASES = (
    "dequeue_plan", "dequeue", "dq_order", "fetch_write", "ins_write", "links_count",
    "upd_write", "pages_write", "pages_split", "fetch_stats", "compact",
)

# (owner, attribute, span name): the public calls of each layer on the round path
WRAPPED = (
    (crawler.Crawler, "bootstrap", "crawler.bootstrap"),
    (crawler.Crawler, "run_round", "crawler.round"),
    (planner.IncrementalPlanner, "seed_from", "planner.seed_from"),
    (planner.IncrementalPlanner, "plan", "planner.plan"),
    (planner.IncrementalPlanner, "on_dequeued", "planner.on_dequeued"),
    (planner.IncrementalPlanner, "on_inserts", "planner.on_inserts"),
    (frontier, "plan_dequeue", "frontier.plan_dequeue"),
    (frontier, "retag_dequeued", "frontier.retag_dequeued"),
    (frontier, "new_link_rows", "frontier.new_link_rows"),
    (frontier, "dequeue_order_index", "frontier.dequeue_order_index"),
    (frontier, "round_update_delta", "frontier.round_update_delta"),
    (storage.Warehouse, "append_delta", "storage.append_delta"),
    (storage.Warehouse, "append_delta_rows", "storage.append_delta_rows"),
    (storage.Warehouse, "write_frontier_inserts", "storage.write_frontier_inserts"),
    (storage.Warehouse, "write_frontier_updates", "storage.write_frontier_updates"),
    (storage.Warehouse, "write_snapshot", "storage.write_snapshot"),
    (storage.Warehouse, "commit_round", "storage.commit_round"),
    (bloom.PartitionedBloom, "build", "bloom.build"),
    (bloom.PartitionedBloom, "probe_local", "bloom.probe_local"),
    (bloom.PartitionedBloom, "add_local", "bloom.add_local"),
    (bloom.PartitionedBloom, "union", "bloom.union"),
    (bloom.PartitionedBloom, "might_contain", "bloom.might_contain"),
    (robots, "with_robots_verdict", "robots.with_robots_verdict"),
    (robots, "host_budgets", "robots.host_budgets"),
)

# per-layer metrics: name → unit; every one is printed by a traced run
PER_LAYER: dict[str, str] = {}
for _p in PHASES:
    PER_LAYER.update({
        f"phase.{_p}.wall_s": "s", f"phase.{_p}.cpu_s": "s",
        f"phase.{_p}.task_max_over_p50": "ratio", f"phase.{_p}.shuffle_mb": "MB",
    })
PER_LAYER.update({
    "crawler.round.jobs": "count",
    "crawler.round.no_job_s": "s",
    "crawler.round.gc_s": "s",
    "crawler.bootstrap.wall_s": "s",
    "crawler.first_commit_s": "s",
    "planner.seed_from.wall_s": "s",
    "planner.plan.wall_s": "s",
    "planner.plan.jobs": "count",
    "planner.plan.calls": "count",
    "planner.on_inserts.wall_s": "s",
    "planner.hist_cells": "count",
    "frontier.plan_dequeue.wall_s": "s",
    "frontier.plan_dequeue.jobs": "count",
    "frontier.plan_dequeue.calls": "count",
    "frontier.dequeue.fill": "ratio",
    "frontier.dequeue.rows_read_per_url": "ratio",
    "storage.append_delta.wall_s": "s",
    "storage.write_frontier_inserts.wall_s": "s",
    "storage.write_frontier_updates.wall_s": "s",
    "storage.write_snapshot.wall_s": "s",
    "storage.bytes_written_per_url": "B",
    "storage.files_per_round": "count",
    "bloom.build.wall_s": "s",
    "bloom.probe_local.wall_s": "s",
    "bloom.add_local.wall_s": "s",
    "bloom.union.wall_s": "s",
    "bloom.might_contain.calls": "count",
    "bloom.probe_local.keys": "count",
    "bloom.positives_share": "ratio",
    "bloom.pages.false_positive_share": "ratio",
    "bloom.bytes": "B",
    "traffic.link_yield": "ratio",
    "traffic.error_share": "ratio",
    "traffic.update_share": "ratio",
    "traffic.robots_blocked_share": "ratio",
    "traffic.hot_host_share": "ratio",
    "host.steal_s_per_round": "s",
    "trace.urls_per_s": "1/s",
})
# one-time layers: summed over the crawl
PER_CRAWL = ("crawler.bootstrap.wall_s", "planner.seed_from.wall_s")


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.jvm = self.sc._jvm
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.rounds: list[dict] = []  # per-round readings
        self._crawler = None
        self._run_start = 0.0  # Crawler.run() entry, on the span clock
        self._round: dict | None = None

    # -- spans ------------------------------------------------------------------
    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter() - self.t0,
            "parent": self._stack[-1] if self._stack else None,
            "jobs": [self._next_job(), None],
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return span

    def _close(self, span: dict) -> None:
        self._stack.pop()
        span["end"] = time.perf_counter() - self.t0
        span["jobs"][1] = self._next_job()

    def install(self) -> None:
        for owner, attr, name in WRAPPED:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            static = isinstance(orig, staticmethod)
            fn = orig.__func__ if static else orig
            wrapped = self._traced(fn, name)
            setattr(owner, attr, staticmethod(wrapped) if static else wrapped)
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _traced(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name == "crawler.round":
                tracer._round_begin()
            span = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(span)
            if name == "bloom.probe_local":
                span["keys"] = len(args[1])
                span["positives"] = int(out.sum())
            if name == "crawler.round":
                tracer._round_end(span, out)
            return out

        return traced

    # -- the crawl and its rounds -----------------------------------------------
    def begin_crawl(self, c) -> None:
        """Called after the crawl's set-up, just before ``Crawler.run()``."""
        self._crawler = c
        self._run_start = time.perf_counter() - self.t0

    def _gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def _round_begin(self) -> None:
        self._round = {
            "gc": self._gc_s(),
            "steal": steal_s(),
            "files": dir_usage(self._crawler.wh.root),
            "epoch_ms": time.time() * 1000.0,
            "phase_times": dict(self._crawler.phase_times),
        }

    def _jobs(self, first: int, end: int) -> list[dict]:
        jobs = []
        for jid in range(first, end):
            jd = self.store.job(jid)
            sub, comp = _opt(jd.submissionTime()), _opt(jd.completionTime())
            seq = jd.stageIds()
            jobs.append({
                "desc": _opt(jd.description()),
                "stages": [seq.apply(i) for i in range(seq.size())],
                "start_ms": sub.getTime() if sub is not None else None,
                "end_ms": comp.getTime() if comp is not None else None,
            })
        return jobs

    def _stage(self, sid: int) -> dict:
        st = self.store.lastStageAttempt(sid)
        return {
            "cpu_s": st.executorCpuTime() / 1e9,
            "run_ms": st.executorRunTime(),
            "shuffle_b": st.shuffleWriteBytes(),
            "input_rows": st.inputRecords(),
            "attempt": st.attemptId(),
        }

    def _skew(self, sid: int, attempt: int) -> float:
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = _opt(self.store.taskSummary(sid, attempt, q))
        if summary is None:
            return 0.0
        run = summary.executorRunTime()
        p50, mx = run.apply(0), run.apply(1)
        return mx / p50 if p50 > 0 else 0.0

    def _round_end(self, span: dict, stats) -> None:
        c = self._crawler
        r0 = self._round
        wall = span["end"] - span["start"]
        jobs = self._jobs(*span["jobs"])
        # driver-serial time: the round's wall time not covered by any job
        covered, cur_end = 0.0, r0["epoch_ms"]
        for a, b in sorted((j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"]):
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        rec = {
            "round": stats.round_no,
            "wall_s": wall,
            "dequeued": stats.dequeued,
            "crawler.round.jobs": len(jobs),
            "crawler.round.no_job_s": max(wall - covered / 1000.0, 0.0),
            "crawler.round.gc_s": self._gc_s() - r0["gc"],
            "host.steal_s_per_round": steal_s() - r0["steal"],
        }
        by_phase: dict[str, set] = {}
        for j in jobs:
            if j["desc"] and j["desc"].startswith("phase:"):
                by_phase.setdefault(j["desc"][6:], set()).update(j["stages"])
        rows_read = 0
        for p in PHASES:
            stages = [self._stage(s) | {"id": s} for s in sorted(by_phase.get(p, ()))]
            rec[f"phase.{p}.wall_s"] = c.phase_times.get(p, 0.0) - r0["phase_times"].get(p, 0.0)
            rec[f"phase.{p}.cpu_s"] = sum(s["cpu_s"] for s in stages)
            rec[f"phase.{p}.shuffle_mb"] = sum(s["shuffle_b"] for s in stages) / 1e6
            top = max(stages, key=lambda s: s["run_ms"], default=None)
            rec[f"phase.{p}.task_max_over_p50"] = (
                self._skew(top["id"], top["attempt"]) if top and top["run_ms"] else 0.0
            )
            if p in ("dequeue_plan", "dequeue", "dq_order"):
                rows_read += sum(s["input_rows"] for s in stages)
        k = c.cfg.thread_count * 2
        rec["frontier.dequeue.fill"] = stats.dequeued / k
        rec["frontier.dequeue.rows_read_per_url"] = rows_read / stats.dequeued if stats.dequeued else 0.0
        inner = self.spans[span["id"] + 1:]
        for name in (
            "planner.plan", "planner.on_inserts", "frontier.plan_dequeue",
            "storage.append_delta", "storage.write_frontier_inserts",
            "storage.write_frontier_updates", "storage.write_snapshot",
            "bloom.build", "bloom.probe_local", "bloom.add_local", "bloom.union",
        ):
            mine = [s for s in inner if s["name"] == name]
            rec[f"{name}.wall_s"] = sum(s["end"] - s["start"] for s in mine)
            rec[f"{name}.calls"] = len(mine)
            rec[f"{name}.jobs"] = sum(s["jobs"][1] - s["jobs"][0] for s in mine)
        rec["bloom.might_contain.calls"] = sum(s["name"] == "bloom.might_contain" for s in inner)
        probes = [s for s in inner if s["name"] == "bloom.probe_local"]
        keys = sum(s["keys"] for s in probes)
        pos = sum(s["positives"] for s in probes)
        upd = stats.counters.get("UPDATED_PAGES", 0)
        rec["bloom.probe_local.keys"] = keys
        rec["bloom.positives_share"] = pos / keys if keys else 0.0
        rec["bloom.pages.false_positive_share"] = (pos - upd) / keys if keys else 0.0
        rec["bloom.bytes"] = sum(
            b.broadcast_bytes() for b in (c._bloom, c._pages_bloom) if b is not None
        )
        rec["planner.hist_cells"] = len(c._planner.hist or {})
        files, size = dir_usage(c.wh.root)
        rec["storage.bytes_written_per_url"] = (size - r0["files"][1]) / max(stats.dequeued, 1)
        rec["storage.files_per_round"] = files - r0["files"][0]
        traffic = round_traffic(stats.counters, stats.dequeued)
        rec.update({f"traffic.{n}": v for n, v in traffic.items()})
        hosts = [
            r["host"] for r in c.wh.read_delta("dequeue_order", stats.round_no).select("host").collect()
        ] if stats.dequeued else []
        rec["traffic.hot_host_share"] = hosts.count(HOT_HOST) / len(hosts) if hosts else 0.0
        self.rounds.append(rec)

    # -- results --------------------------------------------------------------------
    def metrics(self, urls_per_s: float) -> dict:
        run = [s for s in self.spans if s["start"] >= self._run_start]
        commit = next(s for s in run if s["name"] == "storage.commit_round")
        one_time = {
            m: sum(s["end"] - s["start"] for s in run if s["name"] == m.rsplit(".", 1)[0])
            for m in PER_CRAWL
        }
        out = {}
        for name, unit in PER_LAYER.items():
            if name == "trace.urls_per_s":
                value = urls_per_s
            elif name == "crawler.first_commit_s":
                value = commit["end"] - self._run_start
            elif name in PER_CRAWL:
                value = one_time[name]
            else:
                value = statistics.median(r.get(name, 0.0) for r in self.rounds)
            out[name] = (float(value), unit)
        return out

    def write_spans(self, path: Path) -> None:
        path.parent.mkdir(exist_ok=True)
        path.write_text(json.dumps({
            "spans": self.spans,
            "rounds": self.rounds,
        }))
