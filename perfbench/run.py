#!/usr/bin/env python3
"""Crawl benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload crawl-deep --seed 1 --seconds 40 --trace 0

Run from the repository root. The run builds (or loads from its cache)
the seeded inputs, starts Spark on ``local[<cores>]`` with the corpus
cached and one Python worker per core started, then crawls timed episodes
back to back, one at a time, while another one is expected to fit in
``--seconds`` (always at least one). An episode is ``run_crawl`` for the
workload's first leg on a fresh store. Its round 0 warms the JVM; the
timings are taken from the round manifests of rounds 1 and later. The
traced run's episode goes on to the recrawl cycle: ``retract_urls`` on a
seeded share of the fetched html pages, then ``run_crawl(resume=True)``
for the second leg. Every episode's store is checked against the serial
oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` crawls one
traced episode, measures the html extraction and learn layers over its
store, and prints the per-layer metrics plus the tracing overhead (its
traced ``pages_per_s``, to set against the untraced runs', and the share
of the first leg spent in trace-only jobs); its spans go to
``.perfbench/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (pages checked / mismatched) and ``metrics``. Work files live
under ``.perfbench/`` in the checkout; every store and temp directory
of the run is removed at exit, the per-seed input cache is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _clean_stale(tmp_root: str) -> None:
    """Remove work dirs left by runs that were killed (``run-<pid>-*``
    whose pid is gone)."""
    for name in os.listdir(tmp_root):
        parts = name.split("-")
        if len(parts) >= 3 and parts[0] == "run" and parts[1].isdigit():
            if not os.path.exists(f"/proc/{parts[1]}"):
                shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)


def _isolate(tmp: str) -> None:
    """Keep every file the run writes inside ``tmp`` and make the engine
    importable here and in the Python workers Spark forks."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, args, tmp: str):
        from perfbench import inputs

        self.args = args
        self.tmp = tmp
        self.cores = len(os.sched_getaffinity(0))
        self.inp = inputs.load(args.workload, args.seed,
                               os.path.join(WORK, "cache"), bool(args.trace))
        self.w = w = self.inp.workload
        self.crawl_kw = dict(seen_filter=w.seen_filter,
                             write_partitions=w.write_partitions, **w.filter_kw)
        self.spark = None
        self.checked = self.failed = 0
        self._stores = 0

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        """SparkSession up, corpus loaded and cached, one Python worker
        per core started. Returns the seconds it took."""
        from crawler_spark.functions.html import extract_text_udf
        from crawler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        self.corpus = (self.spark.read.parquet(self.inp.corpus_path)
                       .repartition(self.cores).cache())
        self.corpus.count()
        # one pandas-UDF pass per core starts the Python workers (each
        # imports the engine); the JVM warms up in each episode's round 0,
        # which the timings leave out
        (self.corpus.limit(16 * self.cores).repartition(self.cores)
         .select(extract_text_udf("html")).write.format("noop")
         .mode("overwrite").save())
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # -- one timed episode ----------------------------------------------------

    def _new_store(self) -> str:
        self._stores += 1
        return os.path.join(self.tmp, f"store-{self._stores}")

    def episode(self, recrawl: bool = False):
        """Crawl the first leg on a fresh store; with ``recrawl``, then
        retract the victims and resume for the workload's resume rounds.
        Returns its store and the round manifests' commit times."""
        from crawler_spark.crawl import driver
        from perfbench.probes import ManifestWatcher

        inp, kw = self.inp, self.crawl_kw
        rounds = self.w.rounds
        total = rounds + (self.w.resume_rounds if recrawl else 0)
        store = self._new_store()
        with ManifestWatcher(store) as seen:
            driver.run_crawl(self.spark, self.corpus, inp.seeds,
                             inp.config(rounds), store, **kw)
            if recrawl:
                driver.retract_urls(self.spark, store, inp.victims)
                t_resume = time.perf_counter()
                driver.run_crawl(self.spark, self.corpus, inp.seeds,
                                 inp.config(total), store, resume=True, **kw)
        at = seen.seen
        if set(at) != set(range(total)):
            raise RuntimeError(f"rounds committed {sorted(at)}, "
                               f"expected 0..{total - 1}")
        ep = {"store": store, "recrawl": recrawl, "at": at,
              # rounds 1..rounds-1 of the first leg: round 0 warms up
              "window": at[rounds - 1] - at[0],
              "gaps": [at[r] - at[r - 1] for r in range(1, rounds)]}
        if recrawl:
            ep["resume_s"] = at[rounds] - t_resume
        return ep

    def check(self, ep) -> None:
        """Check the episode's store; ``ep["pages"]`` gets the pages that
        passed, per round."""
        from perfbench.checks import check_episode

        ep["pages"], checked, failed = check_episode(
            ep["store"], self.inp, ep["recrawl"])
        self.checked += checked
        self.failed += failed

    def timed_pages(self, ep) -> int:
        """Pages of the episode's timed window (rounds 1..rounds-1)."""
        return sum(n for r, n in ep["pages"].items()
                   if 1 <= r < self.w.rounds)

    def timed(self):
        """Episodes back to back while another is expected to fit in
        ``--seconds`` (always at least one); each is checked, then its
        store removed."""
        from perfbench.probes import RssSampler, cpu_times, walk_store

        eps, t0, cpu0 = [], time.perf_counter(), cpu_times()
        with RssSampler(self.jvm_pid()) as rss:
            while True:
                t_ep = time.perf_counter()
                ep = self.episode()
                ep["wall"] = time.perf_counter() - t_ep
                ep["bytes"] = walk_store(ep["store"])["bytes"]
                self.check(ep)
                shutil.rmtree(ep["store"])
                eps.append(ep)
                used = time.perf_counter() - t0
                if used + statistics.mean(e["wall"] for e in eps) > \
                        self.args.seconds:
                    break
        self.cpu = (cpu0, cpu_times())
        return eps, rss.peak

    # -- end-to-end (--trace 0) ------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        from perfbench.probes import steal_share

        eps, peak = self.timed()
        timed = sum(self.timed_pages(e) for e in eps)
        pages = sum(sum(e["pages"].values()) for e in eps)
        gaps = [g for e in eps for g in e["gaps"]]
        self.notes = {"episodes": len(eps), "round_gaps": len(gaps),
                      "steal": round(steal_share(*self.cpu), 4),
                      "timed_pages": timed, "pages": pages,
                      "gaps": [round(g, 3) for g in gaps],
                      "windows": [round(e["window"], 3) for e in eps],
                      "walls": [round(e["wall"], 3) for e in eps]}
        return {
            "setup_s": (setup_s, "s"),
            "pages_per_s": (timed / sum(e["window"] for e in eps), "pages/s"),
            "round_s_p50": (statistics.median(gaps), "s"),
            "peak_rss_mb": (peak / 2**20, "MB"),
            "store_bytes_per_page": (
                sum(e["bytes"] for e in eps) / max(1, pages), "B/page"),
        }

    # -- per layer (--trace 1) ------------------------------------------------

    def per_layer(self) -> dict:
        from perfbench import layers

        run_id = f"{self.w.name}-seed{self.args.seed}-{os.getpid()}"
        tracer = layers.instrument(self.spark, run_id)
        try:
            jobs_before = layers.round_jobs(self.spark, self.w)
            ep = self.episode(recrawl=True)
            jobs = layers.round_jobs(self.spark, self.w)
        finally:
            tracer.unwrap_all()
        self.check(ep)
        out = layers.crawl_metrics(tracer, ep, self.timed_pages(ep), jobs,
                                   jobs_before, self.w)
        out["driver.resume_s"] = (ep["resume_s"], "s")
        out.update(layers.retract_apply(self.spark, ep["store"], self.inp))
        out.update(layers.html_metrics(self.spark, tracer, ep["store"],
                                       self.corpus, self.inp))
        learn, (checked, failed) = layers.learn_metrics(
            self.spark, tracer, ep["store"], self.corpus, self.args.seed)
        out.update(learn)
        self.checked += checked
        self.failed += failed
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        self.notes = {"self_s": {k: round(v, 3)
                                 for k, v in tracer.self_times().items()},
                      "write_share": layers.window_shares(tracer, ep, self.w),
                      "round_gaps": [round(g, 3) for g in ep["gaps"]]}
        shutil.rmtree(ep["store"])
        return out


def main(argv=None) -> int:
    args = _parse(argv)
    tmp_root = os.path.join(WORK, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    _clean_stale(tmp_root)
    tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=tmp_root)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _isolate(tmp)
    bench = None
    try:
        bench = Bench(args, tmp)
        setup_s = bench.setup()
        if args.trace:
            metrics = bench.per_layer()
        else:
            metrics = bench.end_to_end(setup_s)
    except Exception:
        import traceback

        traceback.print_exc()
        print("mismatch_frac 1.0 ratio (the run raised)")
        return 1
    finally:
        try:
            if bench is not None and bench.spark is not None:
                _stop_spark(bench.spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    checked, failed = bench.checked, bench.failed
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"mismatch_frac {failed / max(1, checked):.6g} ratio "
          f"({failed} of {checked} checked pages)")
    print("notes " + json.dumps(bench.notes))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
