"""Seeded workload inputs and their serial-oracle expectations.

Everything here is a pure function of ``(workload, seed)``. The engine
only ever receives what :func:`load` returns: a corpus parquet file, a
seed list, robots rules and politeness budgets. The serial oracle
(``crawler_spark.oracle.crawloracle.crawl_oracle``) runs once per seed
and horizon; its output is cached next to the inputs so no run pays for
it twice.

Cache layout (one directory per workload, seed and oracle horizon,
written atomically; the key hashes ``VERSION`` and the workload's
parameters)::

    <cache>/<workload>-seed<seed>-h<horizon>-<key>/
        corpus.parquet   url, warc_ts, html, text, lang, content_type,
                         status, retry_after (the engine's corpus contract)
        meta.json        seeds, robots, retraction victims
        leg1.parquet     oracle crawl order of the first leg
                         (round, seq, url, host, status, type)
        pages.parquet    oracle result of the uninterrupted crawl up to the
                         horizon, one row per fetched url
                         (url, status, type, text)

The horizon is the first leg's rounds for runs without a resume leg, and
one round past the resume leg for runs that retract and resume.
"""

from __future__ import annotations

import hashlib
import json
import os
import multiprocessing
import random
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

VERSION = 2  # bump when a generator or the oracle call changes
HORIZON_SLACK = 1  # oracle rounds past the episode's last round

# retry_after is the only nullable int column; pandas keeps it as object
# so None survives the parquet round trip as a null
CORPUS_COLUMNS = [
    "url", "warc_ts", "html", "text", "lang", "content_type", "status",
    "retry_after",
]


@dataclass(frozen=True)
class Workload:
    """One benchmark workload: an input shape plus the crawl it drives.

    An episode is ``run_crawl`` up to ``rounds``; round 0 warms the JVM
    and the timings cover rounds 1 and later. The traced run's episode
    then calls ``retract_urls`` on ``retract_share`` of the html pages it
    fetched and ``run_crawl(resume=True)`` for ``resume_rounds`` more
    rounds."""

    name: str
    seen_filter: str
    budgets: dict[str, int]
    rounds: int
    resume_rounds: int
    retract_share: float
    filter_kw: dict[str, int] = field(default_factory=dict)
    write_partitions: int = 1  # files per round table (run_crawl knob)
    gen_kw: dict[str, int] = field(default_factory=dict)  # corpus generator


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl-deep",
            seen_filter="cuckoo",
            # ~20 hosts x small budgets: ~100 pages per round, so the
            # per-round fixed cost (scheduling, sequencing, commit) dominates
            budgets={"*": 5, "hot.test": 12},
            rounds=3,
            resume_rounds=1,
            retract_share=0.10,
            filter_kw={"bloom_buckets": 8, "cuckoo_entries": 1 << 12},
        ),
        Workload(
            name="crawl-wide",
            seen_filter="bloom",
            # big budgets: a small seed round, then rounds of ~2,100
            # text-heavy pages, 20x crawl-deep's
            budgets={"*": 150, "hot.wide.test": 500},
            rounds=3,
            resume_rounds=1,
            retract_share=0.02,
            filter_kw={"bloom_buckets": 8, "bloom_bits": 1 << 18},
            write_partitions=2,
            gen_kw={"n_docs": 6500, "n_seeds": 300},
        ),
    )
}


@dataclass
class Inputs:
    workload: Workload
    seed: int
    dir: str
    seeds: list[str]
    robots: list[tuple[str, str, bool]]
    victims: list[str]
    leg1: pd.DataFrame  # oracle crawl order of the first leg
    pages: pd.DataFrame  # oracle uninterrupted crawl, indexed by url

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.dir, "corpus.parquet")

    def config(self, max_rounds: int):
        return _config(self.workload, self.robots, max_rounds)


def horizon(w: Workload, resume: bool) -> int:
    """Oracle rounds an episode needs. A crawl stopped after round k is a
    prefix of the uninterrupted one; retraction only delays the resume
    leg's new urls (the retracted ones take their hosts' budget first),
    so a spare round covers them."""
    if not resume:
        return w.rounds
    return w.rounds + w.resume_rounds + HORIZON_SLACK


def _config(w: Workload, robots, max_rounds: int):
    from crawler_spark.oracle.crawloracle import CrawlConfig

    return CrawlConfig(budgets=dict(w.budgets), robots=list(robots),
                       max_rounds=max_rounds)


# -- corpus generators --------------------------------------------------------


def _deep_web(seed: int) -> tuple[pd.DataFrame, list[str], list]:
    """The repo's mini-web (robots rules, two always-429 hosts), seeded
    with a few pages per host so every round fills its budgets."""
    from crawler_spark.fixtures.webgen import generate

    web = generate(seed=seed, n_pages=3000)
    rng = random.Random(seed * 7919 + 1)
    seeds = web.seeds.url.tolist()
    for _host, urls in sorted(web.pages.groupby(
        web.pages.url.str.extract(r"^https?://([^/]+)")[0]
    ).url):
        pool = sorted(urls)
        seeds += rng.sample(pool, min(8, len(pool)))
    robots = [(r.host, r.rule, bool(r.allow)) for r in web.robots.itertuples()]
    return web.pages, list(dict.fromkeys(seeds)), robots


_WIDE_HOT = "hot.wide.test"
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Lexicon words (so sentiment has signal) plus seeded pseudo-words."""
    from crawler_spark.functions.lexicons import AFINN

    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "sen", "dor", "pra", "vel",
            "qui", "zo", "bar", "tin", "gal", "hep", "or", "ish", "um", "eth"]
    lens = rng.integers(2, 5, size=4000)
    picks = rng.integers(0, len(syll), size=int(lens.sum())).tolist()
    words, at = set(), 0
    for n in lens.tolist():
        words.add("".join(syll[j] for j in picks[at:at + n]))
        at += n
    return sorted(words) + sorted(w for w in AFINN if w.isalpha())


def _wide_web(seed: int, n_docs: int, n_seeds: int, n_hosts: int = 12):
    """Text-heavy corpus: Zipf-distributed words, seeded page sizes
    (log-normal, 120-1600 words) and a seeded link graph (same-host and
    cross-host edges plus relative, fragment and mailto hrefs)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    hosts = [_WIDE_HOT] + [f"h{i}.wide.test" for i in range(1, n_hosts)]
    host_of = np.where(
        rng.random(n_docs) < 0.25, 0, rng.integers(1, n_hosts, size=n_docs)
    )
    urls = [f"http://{hosts[h]}/doc/{i}" for i, h in enumerate(host_of)]
    by_host = [np.flatnonzero(host_of == h) for h in range(n_hosts)]
    n_words = np.clip(rng.lognormal(6.0, 0.5, size=n_docs), 120, 1600)
    n_words = n_words.astype(int)
    kinds = rng.random(n_docs)
    # every page's words in one draw, sliced per page below
    word_ids = np.minimum(rng.zipf(1.3, size=int(n_words.sum())) - 1,
                          len(vocab) - 1).tolist()
    starts = np.concatenate([[0], np.cumsum(n_words)]).tolist()

    rows = []
    for i in range(n_docs):
        h = host_of[i]
        ts = _EPOCH + timedelta(seconds=int(i * 97))
        if kinds[i] < 0.01:
            rows.append((urls[i], ts, None, None, "en", "application/pdf",
                         200, None))
            continue
        words = [vocab[j] for j in word_ids[starts[i]:starts[i + 1]]]
        cuts = np.cumsum(rng.integers(12, 70, size=len(words) // 12 + 1))
        blocks, at = [], 0
        for end in cuts.tolist():
            if at >= len(words):
                break
            blocks.append(" ".join(words[at:end]))
            at = end
        same = by_host[h]
        targets = list(rng.choice(same, size=int(rng.integers(3, 8))))
        targets += list(rng.integers(0, n_docs, size=int(rng.integers(2, 7))))
        anchors = []
        for t in targets:
            r = rng.random()
            if r < 0.15 and host_of[t] == h:
                anchors.append(f'<a href="/doc/{t}">more</a>')
            elif r < 0.25:
                anchors.append(f'<a href="{urls[t]}#s{int(r * 100)}">see</a>')
            else:
                anchors.append(f'<a href="{urls[t]}">{words[0]}</a>')
        if rng.random() < 0.05:
            anchors.append('<a href="mailto:team@wide.test">mail</a>')
        body = [f"<header>{hosts[h]} navigation</header>",
                f"<h1>document {i}</h1>"]
        for b_i, block in enumerate(blocks):
            body.append(f"<div>{block}</div>" if b_i % 4 == 3
                        else f"<p>{block}</p>")
        body.append('<div class="links">' + " ".join(anchors) + "</div>")
        body.append("<footer>footer text</footer>")
        html = (f"<!doctype html><html><head><title>doc {i}</title></head>"
                f"<body>{''.join(body)}</body></html>")
        status = 404 if kinds[i] < 0.03 else 200
        rows.append((urls[i], ts, html.encode("utf-8"), None, "en",
                     "text/html; charset=utf-8", status, None))
    pages = pd.DataFrame(rows, columns=CORPUS_COLUMNS)
    pages["status"] = pages["status"].astype("int32")

    seeds = [urls[int(i)]
             for i in rng.choice(n_docs, size=n_seeds, replace=False)]
    robots = [(_WIDE_HOT, "/doc/1", False), ("*", "/", True)]
    return pages, seeds, robots


_GENERATORS = {"crawl-deep": _deep_web, "crawl-wide": _wide_web}


# -- oracle + cache -------------------------------------------------------------


def _oracle_corpus(pages: pd.DataFrame) -> pd.DataFrame:
    out = pages.copy()
    out["retry_after"] = out["retry_after"].astype(object).where(
        out["retry_after"].notna(), None
    )
    return out


def _extract(item):
    from crawler_spark.functions.html import (
        extract_links_from,
        extract_text_blocks,
    )

    url, html = item
    return extract_text_blocks(html), extract_links_from(html, url)


@contextmanager
def _parallel_kernels(corpus: pd.DataFrame):
    """Let the serial oracle look up its two html kernels instead of
    calling them: both are pure functions of the page, so they are run
    once per html page on every core first (misses fall through to the
    kernels themselves). The oracle's output is unchanged."""
    from crawler_spark.oracle import crawloracle

    items = []
    for url, ct, html in zip(corpus["url"], corpus["content_type"],
                             corpus["html"]):
        if html is not None and "text/html" in (ct or ""):
            if not isinstance(html, str):
                html = bytes(html).decode("utf-8", errors="replace")
            items.append((url, html))
    cores = len(os.sched_getaffinity(0))
    pool = multiprocessing.get_context("fork").Pool(cores)
    try:
        done = pool.map(_extract, items, chunksize=64)
    finally:
        pool.close()
        pool.join()
    texts = {html: t for (_u, html), (t, _l) in zip(items, done)}
    links = {(html, url): ls for (url, html), (_t, ls) in zip(items, done)}
    text_fn = crawloracle.extract_text_blocks
    links_fn = crawloracle.extract_links_from
    crawloracle.extract_text_blocks = (
        lambda html: texts[html] if html in texts else text_fn(html))
    crawloracle.extract_links_from = (
        lambda html, url: links[html, url] if (html, url) in links
        else links_fn(html, url))
    try:
        yield
    finally:
        crawloracle.extract_text_blocks = text_fn
        crawloracle.extract_links_from = links_fn


def _build(w: Workload, seed: int, rounds: int, out_dir: str) -> None:
    from crawler_spark.oracle.crawloracle import crawl_oracle

    pages, seeds, robots = _GENERATORS[w.name](seed, **w.gen_kw)
    corpus = _oracle_corpus(pages)
    with _parallel_kernels(corpus):
        full = crawl_oracle(corpus, seeds, _config(w, robots, rounds))
    order = full.crawl_order
    leg1 = order[order["round"] < w.rounds]
    pages_exp = order[["url", "status", "type"]].merge(
        full.text, on="url", how="left"
    )

    # victims: a seeded share of the first leg's html pages, at most
    # half a host's budget each, so the one-round resume leg refetches all
    html = leg1[leg1["type"] == "html"].sort_values("url")
    rng = random.Random(seed * 104729 + len(w.name))
    picks = rng.sample(range(len(html)),
                       max(1, round(w.retract_share * len(html))))
    victims, per_host = [], {}
    for i in sorted(picks):
        host, url = html["host"].iloc[i], html["url"].iloc[i]
        cap = max(1, w.budgets.get(host, w.budgets["*"]) // 2)
        if per_host.get(host, 0) < cap:
            per_host[host] = per_host.get(host, 0) + 1
            victims.append(url)

    os.makedirs(out_dir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(corpus, preserve_index=False, schema=pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("content_type", pa.string()), ("status", pa.int32()),
        ("retry_after", pa.int32()),
    ]))
    # several row groups so the read splits across cores
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"),
                   row_group_size=max(1, len(corpus) // 8))
    leg1.to_parquet(os.path.join(out_dir, "leg1.parquet"), index=False)
    pages_exp.to_parquet(os.path.join(out_dir, "pages.parquet"), index=False)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"seeds": seeds, "robots": robots, "victims": victims}, f)


def load(workload: str, seed: int, cache_dir: str, resume: bool) -> Inputs:
    """Inputs for ``(workload, seed)``, built and cached on first use;
    ``resume`` asks for the oracle horizon of a retract-and-resume run."""
    w = WORKLOADS[workload]
    rounds = horizon(w, resume)
    key = hashlib.sha1(f"{VERSION}|{w!r}".encode()).hexdigest()[:12]
    d = os.path.join(cache_dir, f"{workload}-seed{seed}-h{rounds}-{key}")
    if not os.path.isfile(os.path.join(d, "meta.json")):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            _build(w, seed, rounds, tmp)
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    return Inputs(
        workload=w,
        seed=seed,
        dir=d,
        seeds=meta["seeds"],
        robots=[tuple(r) for r in meta["robots"]],
        victims=meta["victims"],
        leg1=pd.read_parquet(os.path.join(d, "leg1.parquet")),
        pages=pd.read_parquet(os.path.join(d, "pages.parquet")).set_index("url"),
    )
