"""Correctness checks: the store on disk against the serial oracle.

Each check returns ``(checked, failed)`` counts; ``mismatch_frac`` is
``failed / checked`` over all of them. Stores are read with pyarrow
straight from their committed round directories, independently of the
engine's own readers.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq


def _committed(store: str) -> list[int]:
    names = os.listdir(os.path.join(store, "manifests"))
    return sorted(int(n[6:-5]) for n in names
                  if n.startswith("round-") and n.endswith(".json"))


def read_table(store: str, table: str, columns: list[str]) -> pd.DataFrame:
    """Rows of ``table`` from every committed round, with a ``round``
    column taken from the directory name."""
    frames = []
    for rnd in _committed(store):
        d = os.path.join(store, table, f"round={rnd}")
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                df = pq.read_table(os.path.join(d, f), columns=columns).to_pandas()
                df["round"] = rnd
                frames.append(df)
    if not frames:
        return pd.DataFrame(columns=[*columns, "round"])
    return pd.concat(frames, ignore_index=True)


def _row_ok(exp: pd.Series, got) -> bool:
    if exp["status"] != got.status or exp["type"] != got.type:
        return False
    if got.type != "html":
        return True
    return exp["text"] == got.text


def check_episode(store: str, inp, recrawl: bool):
    """(pages that pass per round, pages checked, pages failed) for one
    episode. Every stored row is checked once; an oracle row that no
    stored row matches counts as one more checked and failed page, so a
    duplicated row fails instead of counting twice.

    First leg: crawl order ``(round, seq, url, host, status, type)``, the
    URL-seen log and the extracted text must equal the oracle's. Resume
    leg (``recrawl``): exactly the retracted urls are fetched once more
    with identical text; every other url it fetches is new, and equals
    the oracle's uninterrupted crawl."""
    w = inp.workload
    pages = read_table(store, "pages",
                       ["seq", "url", "host", "status", "type", "text"])
    leg1 = pages[pages["round"] < w.rounds]
    leg2 = pages[pages["round"] >= w.rounds]
    good: Counter = Counter()
    checked = failed = 0

    def row_ok(r) -> bool:
        return r.url in inp.pages.index and _row_ok(inp.pages.loc[r.url], r)

    key = ["round", "seq", "url", "host", "status", "type"]
    want = Counter(inp.leg1[key].itertuples(index=False, name=None))
    for r in leg1.itertuples(index=False):
        k = (r.round, r.seq, r.url, r.host, r.status, r.type)
        checked += 1
        if want[k] > 0:
            want[k] -= 1
            ok = row_ok(r)
        else:
            ok = False  # not in the oracle's order, or a duplicate
        if ok:
            good[r.round] += 1
        else:
            failed += 1
    missing = sum(want.values())
    checked += missing
    failed += missing

    seen = read_table(store, "seen", ["url"])
    got_seen = Counter(seen.loc[seen["round"] < w.rounds, "url"])
    want_seen = Counter(set(inp.leg1["url"]))
    checked += sum((got_seen | want_seen).values())
    failed += sum(((got_seen - want_seen) + (want_seen - got_seen)).values())

    victims = set(inp.victims) if recrawl else set()
    first = set(leg1["url"])
    taken: set[str] = set()
    for r in leg2.itertuples(index=False):
        checked += 1
        ok = (r.url not in taken and (r.url in victims or r.url not in first)
              and row_ok(r))
        taken.add(r.url)
        if ok:
            good[r.round] += 1
        else:
            failed += 1
    missing = len(victims - taken)
    checked += missing
    failed += missing
    return good, checked, failed


def check_learn(out: dict, store: str, urls: set[str], seed: int,
                sample: int = 40):
    """(checked, failed) for learn run over the store's pages ``urls``:
    the ``text`` phase equals the store's text for every one; sentiment,
    summary and tags equal the serial ``functions.textops`` results on a
    seeded sample of them."""
    from crawler_spark.functions.textops import (
        calc_summary,
        extract_tags,
        ngram_frequencies,
        sentiment_score,
        tokenize,
    )

    blocks = out["text"].toPandas().sort_values(["url", "block_idx"])
    by_url = blocks.groupby("url")["text"].apply(list).to_dict()
    pages = read_table(store, "pages", ["url", "type", "text"])
    stored = (pages[(pages["type"] == "html") & pages["url"].isin(urls)]
              .drop_duplicates("url").set_index("url")["text"])
    checked = failed = 0
    for url, text in stored.items():
        checked += 1
        if "\n".join(by_url.get(url, [])) != (text or ""):
            failed += 1

    urls = sorted(by_url)
    picks = random.Random(seed).sample(urls, min(sample, len(urls)))
    sent = out["sentiment"].where(out["sentiment"].url.isin(picks)).toPandas()
    summ = out["summaries"].where(out["summaries"].url.isin(picks)).toPandas()
    tags = out["tags"].where(out["tags"].url.isin(picks)).toPandas()
    sent_by = {(r.url, r.block_idx): r.sentiment for r in sent.itertuples()}
    summ_by = dict(zip(summ["url"], summ["summary"]))
    tags_by = (tags.sort_values("rank").groupby("url")["term"].apply(list)
               .to_dict())
    for url in picks:
        texts = by_url[url]
        checked += 1
        ok = all(sent_by.get((url, i)) == sentiment_score(tokenize(t))
                 for i, t in enumerate(texts))
        ok = ok and summ_by.get(url) == calc_summary(texts)
        want_tags = extract_tags(ngram_frequencies([tokenize(t) for t in texts]))
        ok = ok and tags_by.get(url, []) == want_tags
        failed += not ok
    return checked, failed
