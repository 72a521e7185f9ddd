"""Crawl-round benchmark: one workload per command, run from the repository
root.

    python3 roundbench/run.py --workload forward_crawl --seed 1 --seconds 20 --trace 0

Per run: start one Spark driver on ``local[nproc]``; generate the workload's
inputs from the seed; run one unmeasured round of the crawl (JIT warm-up);
time ``EXTRA_SETUPS`` further set-ups that run no crawl; then measure one
crawl of a fixed number of rounds from a fresh set-up of the same inputs.
The measured work is fixed, so every run does the same work; ``--seconds``
is recorded, and ``BENCHMARK.json``'s ``run_seconds`` states about how long
the measured part takes. Output checks run after the measured crawl. The
last stdout line is the result JSON; with ``--trace 1`` its metrics are the
per-layer set (see README.md). Work files live under ``.roundbench_work/``
and are removed at exit; the run record (context, traffic, result) and trace
spans go to ``.roundbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

DRIVER_MEMORY = "4g"
EXTRA_SETUPS = 2  # warm set-ups timed without a crawl, for the setup_s median
OUT_DIR = ".roundbench_out"
WORK_DIR = ".roundbench_work"


def _spark(work: Path, cores: int):
    from dumb_crawler_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    return get_spark(
        app="roundbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"roundbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


class Crawl:
    """One crawl: its set-up, the crawl itself and its raw readings."""

    def __init__(self, spark, inp, cfg, wh_dir: Path, tracer=None, rounds: int | None = None):
        from roundbench.measure import tree_cpu_s
        from roundbench.workloads import setup_crawl

        spec = inp.spec
        t = time.perf_counter()
        self.crawler = setup_crawl(spark, inp, cfg, str(wh_dir))
        self.setup_s = time.perf_counter() - t
        self.start_round = spec.prior_rounds
        cpu0 = tree_cpu_s()
        if tracer is not None:
            tracer.begin_crawl(self.crawler)
        self.rounds = self.crawler.run(
            max_rounds=rounds or spec.rounds, refetch=bool(spec.prior_rounds)
        )
        self.cpu_s = tree_cpu_s() - cpu0
        self.wh = self.crawler.wh

    @property
    def dequeued(self) -> int:
        return sum(s.dequeued for s in self.rounds)


def _setup_only(spark, inp, cfg, wh_dir: Path) -> float:
    """Time one set-up that runs no crawl, then remove its warehouse."""
    from roundbench.workloads import setup_crawl

    t = time.perf_counter()
    setup_crawl(spark, inp, cfg, str(wh_dir))
    took = time.perf_counter() - t
    shutil.rmtree(wh_dir)
    return took


def run(args, root: Path, work: Path) -> tuple[dict, dict]:
    from roundbench import checks
    from roundbench.measure import RunContext, dir_usage, nproc, peak_rss_mb, reset_peak_rss, rss_mb
    from roundbench.workloads import SPECS, config, materialize

    ctx = RunContext(root)
    cores = nproc()
    spark = _spark(work, cores)
    try:
        spec = SPECS[args.workload]
        log("spark up")
        inp = materialize(spark, spec, args.seed, work / "inputs")
        log("inputs written")
        cfg = config(spec, cores)
        tally = checks.Tally()

        # unmeasured: one round of the same crawl warms the JIT, set-up included
        warmup = Crawl(spark, inp, cfg, work / "wh-warmup", rounds=1)
        log(f"warm-up crawl done (cold set-up {warmup.setup_s:.1f}s)")
        setups = [_setup_only(spark, inp, cfg, work / f"wh-setup-{i}") for i in range(EXTRA_SETUPS)]
        log("set-ups " + " ".join(f"{t:.2f}" for t in setups))
        tracer = None
        if args.trace:
            from roundbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        # the peak covers the measured crawl only: set-up, rounds, driver state
        reset_peak_rss()
        rss_before = rss_mb()
        crawl = Crawl(spark, inp, cfg, work / "wh", tracer)
        rss_peak = peak_rss_mb()
        if tracer is not None:
            tracer.uninstall()
        setups.append(crawl.setup_s)
        rounds = crawl.rounds
        log(f"measured crawl: setup {crawl.setup_s:.2f}s rounds "
            + " ".join(f"{s.wall_seconds:.1f}" for s in rounds))

        dq = crawl.crawler.dequeue_order().select("round", "seq", "url_id", "host").collect()
        frontier_rows = checks.oracle_replay(crawl, inp, cfg, dq, tally)
        log("oracle replay done")
        checks.dequeue_order(crawl, cfg, inp.robots, dq, tally)
        checks.same_as_warmup(warmup, crawl, dq, tally)
        if spec.robots:
            checks.robots_inserts(crawl, inp.gen.robots(), tally)
        if spec.prior_rounds:
            checks.updates_only(crawl, tally)
        traffic = checks.traffic(crawl, spec, frontier_rows, dq)
        log("checks done")

        wall = sum(s.wall_seconds for s in rounds)
        if tracer is None:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "urls_per_s": (crawl.dequeued / wall, "1/s"),
                "round_p50_s": (statistics.median(s.wall_seconds for s in rounds), "s"),
                "cpu_ms_per_url": (1000.0 * crawl.cpu_s / crawl.dequeued, "ms"),
                "bytes_per_url": (dir_usage(crawl.wh.root)[1] / frontier_rows, "B"),
                "driver_peak_rss_mb": (rss_peak, "MB"),
            }
        else:
            metrics = tracer.metrics(crawl.dequeued / wall)
            tracer.write_spans(root / OUT_DIR / f"spans-{args.workload}-seed{args.seed}.json")
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "rounds": len(rounds),
            "round_wall_s": [round(s.wall_seconds, 3) for s in rounds],
            "setup_s": [round(t, 3) for t in setups],
            "cold_setup_s": round(warmup.setup_s, 3),
            "driver_rss_mb": {"before_crawl": rss_before, "crawl_peak": rss_peak},
            "traffic": traffic,
            "context": ctx.record(spark, DRIVER_MEMORY),
        }
        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, record
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "dumb_crawler_spark" / "crawler.py").is_file():
        print("roundbench: run from the repository root (no dumb_crawler_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    from roundbench.workloads import SPECS

    if args.workload not in SPECS:
        print(f"roundbench: unknown workload {args.workload!r}; one of {sorted(SPECS)}", file=sys.stderr)
        return 2

    work = root / WORK_DIR / f"{args.workload}-{os.getpid()}"
    try:
        result, record = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = root / OUT_DIR
    out.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"run-{tag}.json").write_text(json.dumps({**record, "result": result}, indent=1))
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
