"""Per-layer metrics for the traced run.

Spans wrap the engine's public calls from outside (``instrument``); the
layers whose work is lazy or fused into a write (html extraction, the
learn phases, the seen filter's retraction path) are measured by
materialising those same public calls over the traced episode's store.
The seen filter's probe and the global sequencing run inside a round, fed
by lazy plans; they are re-run alone on their frozen inputs, right after
the engine's call, so extraction and the exact re-check are not charged
to them. Trace-only Spark jobs run under their own job group, so they never count
toward a crawl round's jobs.
"""

from __future__ import annotations

import statistics
import time

from perfbench.probes import Tracer, walk_store

_TRACE_GROUP = "perfbench-trace"
_TRACE_ONLY = ("trace.seen_counts", "trace.seq")  # spans of trace-only jobs
_RESUME_READS = ("resume_round", "backfill_seen", "retire_retractions",
                 "rebuild_frontier", "read_snapshot")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _OwnJobGroup:
    """Run trace-only jobs outside the crawl round's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def __enter__(self):
        self.prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", _TRACE_GROUP)

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", self.prev)


def instrument(spark, run_id: str) -> Tracer:
    """Wrap each layer's public entry points in spans."""
    from crawler_spark.crawl import driver
    from crawler_spark.crawl.store import CrawlStore
    from crawler_spark.operators.cuckoo import CuckooSeenSet
    from crawler_spark.operators.seen import BloomSeenSet
    from crawler_spark.operators.topk import with_global_seq

    t = Tracer(run_id)
    t.seen_counts = [0, 0, 0]  # candidates, filter positives, unseen
    t.resuming = False

    def run_crawl_attrs(args, kwargs):
        t.resuming = bool(kwargs.get("resume"))
        return {"resume": t.resuming}

    def probe_alone(unseen, args, kwargs):
        """The filter probe over the round's candidates, timed on its own:
        the candidates (link extraction, robots, dedup) are frozen first,
        outside the probe's span."""
        seen_set, cands = args[0], args[1]
        url_col = kwargs.get("url_col", "url")
        with t.span("trace.seen_counts"), _OwnJobGroup(spark):
            frozen = cands.localCheckpoint(eager=True)
            with t.span("operators.seen.probe"):
                rows = (seen_set.probe(frozen, url_col)
                        .groupBy("maybe_seen").count().collect())
            for row in rows:
                t.seen_counts[0] += row["count"]
                t.seen_counts[1] += row["count"] if row["maybe_seen"] else 0
            t.seen_counts[2] += unseen.count()

    def seq_alone(out, args, kwargs):
        """Sequencing alone: the call's own input is a checkpoint the call
        materialised, so it is re-sequenced and the order materialised,
        under a span of its own."""
        t.resuming = False  # the resume prelude ends at the first schedule
        res = out[0] if isinstance(out, tuple) else out
        col = kwargs.get("out", "seq")
        with t.span("trace.seq"), _OwnJobGroup(spark):
            with t.span("operators.topk.seq"):
                again = with_global_seq(res.drop(col), *args[1:], **kwargs)
                _noop(again[0] if isinstance(again, tuple) else again)

    t.wrap(driver, "run_crawl", "crawl.driver.run_crawl",
           attrs_of=run_crawl_attrs)
    t.wrap(driver, "with_global_seq", "operators.topk.with_global_seq",
           after=seq_alone)
    for cls in (BloomSeenSet, CuckooSeenSet):
        t.wrap(cls, "filter_unseen", "operators.seen.filter_unseen",
               after=probe_alone)
        t.wrap(cls, "checkpoint", "operators.seen.checkpoint")
        t.wrap(cls, "load", "operators.seen.load")
    t.wrap(CuckooSeenSet, "delete", "operators.cuckoo.delete")
    t.wrap(CrawlStore, "write_round_table", "crawl.store.write_round_table",
           attrs_of=lambda a, k: {"table": a[1]})
    for name in _RESUME_READS:
        t.wrap(CrawlStore, name, f"crawl.store.{name}",
               attrs_of=lambda a, k: {"resume": t.resuming})
    return t


def round_jobs(spark, w) -> dict[int, set[int]]:
    """Spark job ids per ``crawl-round-N`` job group of an episode, from
    the status tracker."""
    st = spark.sparkContext.statusTracker()
    return {r: set(st.getJobIdsForGroup(f"crawl-round-{r}"))
            for r in range(w.rounds + w.resume_rounds)}


def crawl_metrics(t: Tracer, ep: dict, timed_pages: int, jobs, jobs_before,
                  w) -> dict:
    n_rounds = w.rounds + w.resume_rounds
    per_round = [len(jobs[r] - jobs_before[r]) for r in range(n_rounds)]
    walk = walk_store(ep["store"])["per_round"]
    cand, pos, unseen = t.seen_counts
    fresh = cand - pos
    out = {
        "driver.rounds": (n_rounds, "count"),
        "driver.jobs_per_round": (statistics.mean(per_round), "jobs"),
        "driver.self_s": (t.self_times().get("crawl.driver", 0.0), "s"),
        "topk.seq_calls": (t.count("operators.topk.with_global_seq"), "count"),
        "topk.seq_s": (t.total("operators.topk.seq"), "s"),
        "seen.probe_s": (t.total("operators.seen.probe"), "s"),
        "seen.checkpoint_s": (t.total("operators.seen.checkpoint"), "s"),
        "seen.load_s": (t.total("operators.seen.load"), "s"),
        "seen.positive_frac": (pos / max(1, cand), "ratio"),
        "seen.false_positive_frac": ((unseen - fresh) / max(1, pos), "ratio"),
    }
    for table in ("pages", "links", "seen", "discoveries", "frontier"):
        out[f"store.write_s.{table}"] = (t.total(
            "crawl.store.write_round_table",
            lambda s, tb=table: s["table"] == tb), "s")
    out["store.files_per_round"] = (
        statistics.mean(walk[r][0] for r in range(n_rounds)), "files")
    out["store.bytes_per_round"] = (
        statistics.mean(walk[r][1] for r in range(n_rounds)), "B")
    out["store.resume_read_s"] = (sum(
        t.total(f"crawl.store.{n}", lambda s: s["resume"])
        for n in _RESUME_READS), "s")
    # the first leg's timed window, as in the untraced runs
    traced = sum(_in_window(s, ep, w) for s in t.spans
                 if s["name"] in _TRACE_ONLY)
    out["trace.pages_per_s"] = (timed_pages / ep["window"], "pages/s")
    out["trace.jobs_s"] = (traced, "s")
    out["trace.overhead_frac"] = (traced / ep["window"], "ratio")
    return out


def _in_window(span: dict, ep: dict, w) -> float:
    """Seconds of ``span`` inside the first leg's timed window."""
    lo, hi = ep["at"][0], ep["at"][w.rounds - 1]
    return max(0.0, min(span["end"], hi) - max(span["start"], lo))


def window_shares(t: Tracer, ep: dict, w) -> dict[str, float]:
    """Share of the timed window each round-table write was running
    (the writes overlap each other and the discovery jobs)."""
    out: dict[str, float] = {}
    for s in t.spans:
        if s["name"] == "crawl.store.write_round_table":
            out[s["table"]] = out.get(s["table"], 0.0) + _in_window(s, ep, w)
    return {k: round(v / ep["window"], 3) for k, v in sorted(out.items())}


def retract_apply(spark, store: str, inp) -> dict:
    """The seen filter's side of a retraction, materialised: load the
    first leg's last filter snapshot, then what resume applies to it
    (cuckoo deletes the retracted urls; both filters re-add them)."""
    from crawler_spark.operators.cuckoo import CuckooSeenSet
    from crawler_spark.operators.seen import BloomSeenSet

    w = inp.workload
    path = f"{store}/bloom/round={w.rounds - 1}"
    victims = spark.createDataFrame([(u,) for u in inp.victims], "url string")
    with _OwnJobGroup(spark):
        if w.seen_filter == "cuckoo":
            filt = CuckooSeenSet.load(spark, path, w.filter_kw["bloom_buckets"],
                                      w.filter_kw["cuckoo_entries"])
            state = "tables"
        else:
            filt = BloomSeenSet.load(spark, path, w.filter_kw["bloom_buckets"],
                                     w.filter_kw["bloom_bits"])
            state = "blooms"
        _noop(getattr(filt, state))  # the load itself is not the metric
        t0 = time.perf_counter()
        if hasattr(filt, "delete"):
            filt = filt.delete(victims)
        _noop(getattr(filt.add(victims), state))
        return {"seen.retract_apply_s": (time.perf_counter() - t0, "s")}


def html_metrics(spark, t: Tracer, store: str, corpus, inp,
                 sample: int = 150) -> dict:
    """Text and link extraction over the episode's fetched html: the
    distributed UDFs materialised on their own, and the serial kernels
    they call timed per page on a seeded sample."""
    import pyarrow.parquet as pq

    from crawler_spark.functions.html import (
        extract_links_from,
        extract_links_udf,
        extract_text_blocks,
        extract_text_udf,
    )
    from perfbench.checks import read_table

    pages = read_table(store, "pages", ["url", "type"])
    urls = sorted(set(pages.loc[pages["type"] == "html", "url"]))
    html = pq.read_table(inp.corpus_path, columns=["url", "html"]).to_pandas()
    html = html[html["url"].isin(set(urls))]
    fetched = (corpus.join(spark.createDataFrame([(u,) for u in urls],
                                                 "url string"), "url", "left_semi")
               .select("url", "html").cache())
    with _OwnJobGroup(spark):
        fetched.count()
        with t.span("functions.html.extract") as sp:
            _noop(fetched.select(extract_text_udf("html").alias("t"),
                                 extract_links_udf("html", "url").alias("l")))
    fetched.unpersist()
    rows = html.sample(n=min(sample, len(html)), random_state=inp.seed)
    docs = [(u, bytes(h).decode("utf-8")) for u, h in
            zip(rows["url"], rows["html"])]
    t0 = time.perf_counter()
    for url, doc in docs:
        extract_text_blocks(doc)
        extract_links_from(doc, url)
    core = (time.perf_counter() - t0) / max(1, len(docs))
    return {
        "html.pages": (len(html), "pages"),
        "html.mb_in": (float(html["html"].map(len).sum()) / 1e6, "MB"),
        "html.extract_s": (sp["end"] - sp["start"], "s"),
        "html.core_ms_per_page": (core * 1e3, "ms"),
    }


def learn_metrics(spark, t: Tracer, store: str, corpus, seed: int,
                  max_pages: int = 800):
    """Every learn phase over the episode's store, each materialised on
    its own (the shared block extraction is paid by the first, ``text``),
    plus the phase outputs' correctness counts. The page-level phases
    see a seeded sample of at most ``max_pages`` of the store's html pages
    (``learn_outputs`` joins the store to the corpus it is given)."""
    import random

    from crawler_spark.analytics.learn import PHASES, learn_outputs
    from crawler_spark.crawl.store import CrawlStore
    from perfbench.checks import check_learn, read_table

    pages = read_table(store, "pages", ["url", "type"])
    urls = sorted(set(pages.loc[pages["type"] == "html", "url"]))
    urls = random.Random(seed).sample(urls, min(max_pages, len(urls)))
    some = corpus.join(spark.createDataFrame([(u,) for u in urls],
                                             "url string"), "url", "left_semi")
    out = learn_outputs(CrawlStore(spark, store), some)
    metrics = {}
    with _OwnJobGroup(spark):
        for phase in PHASES:
            # cached as it is materialised, so the check below reads the
            # timed result instead of recomputing it
            out[phase] = out[phase].persist()
            with t.span(f"analytics.learn.{phase}") as sp:
                _noop(out[phase])
            metrics[f"learn.{phase}_s"] = (sp["end"] - sp["start"], "s")
        counts = check_learn(out, store, set(urls), seed)
    for df in out.values():
        df.unpersist()
    return metrics, counts
