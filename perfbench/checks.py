"""Correctness checks for every timed crawl.

The expected answer is ``tests/oracle.py`` on the same world, reduced to
digests of the final index, the seen set and the crawl order, and cached
beside the world. Sitemap worlds must match it exactly. Follow-links
worlds must match it once the hidden pages (reachable only by links,
which the oracle never follows) are taken out; on top of that every
hidden page is indexed, no trap, deep-path, 9-parameter or off-scope url
is, and the index digest repeats across crawls of the same world.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import timezone

from pyspark.sql import functions as F

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
_PY_TS_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _index_digest(docs) -> str:
    """docs: (UID, url, Title, SearchableText, modified-string) rows."""
    return _sha(json.dumps(list(d)) for d in sorted(docs, key=lambda d: d[0]))


def digests(order: list, docs) -> dict:
    return {"index": _index_digest(docs), "order": _sha(order),
            "seen": _sha(sorted(set(order))), "indexed": len(order)}


def oracle_digests(world_dir: str, crawl_time) -> dict:
    from ftw_crawler_spark import config as cfg
    from ftw_crawler_spark.sources.synth import default_sites
    from tests.oracle import run_oracle

    res = run_oracle(world_dir, default_sites(), cfg.default_config(),
                     crawl_time)
    docs = []
    for uid, d in res["index"].items():
        m = d.get("modified")
        if m is not None:
            if m.tzinfo is not None:
                m = m.astimezone(timezone.utc).replace(tzinfo=None)
            m = m.strftime(_PY_TS_FMT)
        docs.append((uid, d["url"], d.get("Title"), d.get("SearchableText"),
                     m))
    return digests(res["crawl_order"], docs)


def cached_oracle(cache_path: str, world_dir: str, crawl_time) -> dict:
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            return json.load(fh)
    out = oracle_digests(world_dir, crawl_time)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, cache_path)
    return out


def engine_rows(index_df):
    """The resolved index as (crawled urls in crawl order, doc rows)."""
    rows = index_df.select(
        "UID", "url", "Title", "SearchableText",
        F.date_format("modified", _TS_FMT).alias("modified"),
        "crawl_seq", "batch_id").collect()
    order = [r["url"] for r in sorted(
        (r for r in rows if r["batch_id"] is not None),
        key=lambda r: r["crawl_seq"])]
    docs = [(r["UID"], r["url"], r["Title"], r["SearchableText"],
             r["modified"]) for r in rows]
    return order, docs


def _mismatches(got: dict, expected: dict) -> list:
    return [f"{k}: engine {got[k]} != oracle {expected[k]}"
            for k in ("indexed", "seen", "order", "index")
            if got[k] != expected[k]]


def check_against_oracle(index_df, expected: dict) -> list:
    """Problems found (empty when the crawl matches the oracle)."""
    order, docs = engine_rows(index_df)
    return _mismatches(digests(order, docs), expected)


def hidden_urls(n_hidden: int) -> set:
    from ftw_crawler_spark.sources.synth import default_sites
    return {f"{s.url}hidden/h-{j}.html"
            for s in default_sites() for j in range(n_hidden)}


def check_follow_links(index_df, n_hidden: int, expected: dict,
                       digest_path: str) -> list:
    """The sitemap part equal to the oracle, every hidden page found,
    traps and off-scope urls never indexed, and the index digest equal
    to the first crawl of this world."""
    order, docs = engine_rows(index_df)
    urls = {d[1] for d in docs}
    hidden = hidden_urls(n_hidden)
    problems = []
    missing = hidden - urls
    if missing:
        problems.append(f"undiscovered hidden pages: {sorted(missing)[:3]}")
    bad = [u for u in urls if "/trap/" in u or "/d/d/" in u
           or "?p0=1" in u or "offsite.example.invalid" in u]
    if bad:
        problems.append(f"trap or off-scope urls indexed: {bad[:3]}")
    problems += _mismatches(
        digests([u for u in order if u not in hidden],
                [d for d in docs if d[1] not in hidden]), expected)
    if len(order) != expected["indexed"] + len(hidden):
        problems.append(f"crawled {len(order)} urls, expected "
                        f"{expected['indexed']} + {len(hidden)} hidden")
    got = digests(order, docs)
    if os.path.exists(digest_path):
        with open(digest_path) as fh:
            first = json.load(fh)
        if first != got:
            problems.append("index digest differs from the first crawl "
                            "of this world")
    elif not problems:
        with open(digest_path, "w") as fh:
            json.dump(got, fh)
    return problems
