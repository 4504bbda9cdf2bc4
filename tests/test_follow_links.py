"""Link-following frontier discovery wired into the crawl loop
(--follow-links): hidden pages reachable only through anchors are
discovered (multi-hop, across batches), crawler traps and off-scope
hosts never enter the frontier, n_refs drives priority order, the
discovered frontier rides the delta checkpoints (resume-safe), and the
default mode ignores links entirely."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ftw_crawler_spark.plans.crawl import DISCOVERED_SEQ_BASE, run_crawl
from ftw_crawler_spark.sources.synth import (add_link_layer,
                                             default_sites,
                                             generate_world)

CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)
N_HIDDEN = 6


@pytest.fixture(scope="module")
def linked_world(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("linkworld"))
    generate_world(spark, d, n_urls=150)
    add_link_layer(spark, d, n_hidden_per_site=N_HIDDEN)
    return d


def _plan_nodes(df) -> list:
    """(depth, node name, node text) for every node of ``df``'s
    optimized logical plan, depth-first, so a node's subtree is the run
    of deeper nodes right after it. A cached relation is a leaf there:
    the persisted docs' own plan (extraction and its UDFs) is not
    walked."""
    out, todo = [], [(0, df._jdf.queryExecution().optimizedPlan())]
    while todo:
        depth, node = todo.pop()
        out.append((depth, node.nodeName(), node.simpleString(100)))
        kids = node.children()
        todo.extend((depth + 1, kids.apply(i))
                    for i in range(kids.size()))
    return out


@pytest.fixture(scope="module")
def follow_traced(spark, linked_world, tmp_path_factory):
    """The follow-links crawl, plus the plan of every discovered-row
    annotation it built, taken while that batch's docs are cached."""
    from ftw_crawler_spark.plans import crawl
    plans = []
    orig = crawl._annotate_discovered

    def capture(*args, **kwargs):
        ann = orig(*args, **kwargs)
        plans.append(_plan_nodes(ann))
        return ann

    crawl._annotate_discovered = capture
    try:
        out = str(tmp_path_factory.mktemp("followout"))
        result = run_crawl(spark, linked_world, out,
                           crawl_time=CRAWL_TIME, batch_seconds=1.0,
                           order_mode="priority", follow_links=True)
    finally:
        crawl._annotate_discovered = orig
    return result, plans


@pytest.fixture(scope="module")
def follow_run(follow_traced):
    return follow_traced[0]


def _index_rows(result):
    return (result.index()
            .select("url", "batch_id", "op_seq")
            .collect())


def _hidden_urls():
    # sites with generated doc pages (all five default sites have them)
    return {f"{s.url}hidden/h-{j}.html"
            for s in default_sites() for j in range(N_HIDDEN)}


def test_hidden_pages_discovered_multi_hop(follow_run):
    """Every hidden page — including the chain tail reachable only
    through N_HIDDEN-1 discovery hops — ends up crawled and indexed,
    and carries a discovered-space crawl_seq (lineage: the row came
    from link discovery, not a sitemap)."""
    rows = _index_rows(follow_run)
    urls = {r["url"] for r in rows}
    missing = _hidden_urls() - urls
    assert not missing, f"undiscovered hidden pages: {sorted(missing)}"
    for r in rows:
        if "/hidden/" in r["url"]:
            assert r["op_seq"] >= DISCOVERED_SEQ_BASE
        else:
            assert r["op_seq"] is None or r["op_seq"] < DISCOVERED_SEQ_BASE


def test_traps_and_offscope_never_crawled(follow_run):
    """Loop-path, deep-path and parameter-explosion links are gated
    before the seen probe; off-scope hosts are dropped by the scope
    filter. None of them may appear in the index, and the discovery
    metrics must show link-discovered admissions happened at all."""
    urls = {r["url"] for r in _index_rows(follow_run)}
    for u in urls:
        assert "/trap/" not in u
        assert "offsite.example.invalid" not in u
        assert "/d/d/" not in u
        assert "?p0=1" not in u
    disc_events = [m for m in follow_run.metrics
                   if m.get("event") == "discovery"]
    assert sum(m["enqueued"] for m in disc_events) >= N_HIDDEN


def test_nrefs_priority_order(follow_run):
    """n_refs is the priority signal: hidden page 0 (linked from ~n/2
    doc pages) is admitted no later than the chain tail (n_refs 1)
    within each site."""
    rows = _index_rows(follow_run)
    by_url = {r["url"]: r["batch_id"] for r in rows}
    for s in default_sites():
        first = by_url.get(f"{s.url}hidden/h-0.html")
        last = by_url.get(f"{s.url}hidden/h-{N_HIDDEN - 1}.html")
        assert first is not None and last is not None
        assert first <= last


def test_discovery_annotation_is_one_linear_plan(follow_traced):
    """Outside the cached docs relation, each discovery annotation plan
    evaluates exactly two Python probes (the enqueued-set and index0
    seen filters), never the robots parse UDF (the rules are a per-run
    dimension), and forks on no seen split: the only Union allowed is
    the enqueued set's lazy union of checkpointed segments (under the
    projections and inferred not-null filters of the anti-join's known
    side)."""
    _, plans = follow_traced
    assert len(plans) >= 2
    for nodes in plans:
        python = [text for _, name, text in nodes
                  if "Python" in name or "Pandas" in name]
        assert len(python) == 2 and all("probe" in t for t in python), \
            python
        assert not [t for _, _, t in nodes if "parse_robots_udf" in t]
        for i, (depth, name, _) in enumerate(nodes):
            if name != "Union":
                continue
            below = []
            for d, n, _ in nodes[i + 1:]:
                if d <= depth:
                    break
                below.append(n)
            assert set(below) <= {"Project", "Filter", "LogicalRDD"}, \
                below


def test_follow_links_resume_safe(spark, linked_world, follow_run,
                                  tmp_path_factory):
    """Interrupt the follow-links crawl after two batches (its delta
    checkpoints carry that batch's discovered rows) and resume: the
    final index equals the uninterrupted run's — the discovered
    frontier replays exactly."""
    out = str(tmp_path_factory.mktemp("followresume"))
    run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
              batch_seconds=1.0, order_mode="priority",
              follow_links=True, max_batches=2)
    resumed = run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=1.0, order_mode="priority",
                        follow_links=True, resume=True)
    a = {(r["url"], r["batch_id"], r["op_seq"])
         for r in _index_rows(follow_run)}
    b = {(r["url"], r["batch_id"], r["op_seq"])
         for r in _index_rows(resumed)}
    assert a == b


def test_follow_links_resume_safe_all_fulls(spark, linked_world,
                                            follow_run,
                                            tmp_path_factory):
    """Same interrupt/resume equality with ckpt_full_every=1: every
    checkpoint is a FULL snapshot, so no delta ever carries discovered
    rows — the resume-time enqueued-set reconstruction must recover
    them from the fulls' frontiers instead (each discovered row is
    pending in the full written at its discovery batch)."""
    out = str(tmp_path_factory.mktemp("followresumefull"))
    run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
              batch_seconds=1.0, order_mode="priority",
              follow_links=True, max_batches=2, ckpt_full_every=1)
    resumed = run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=1.0, order_mode="priority",
                        follow_links=True, resume=True,
                        ckpt_full_every=1)
    a = {(r["url"], r["batch_id"], r["op_seq"])
         for r in _index_rows(follow_run)}
    b = {(r["url"], r["batch_id"], r["op_seq"])
         for r in _index_rows(resumed)}
    assert a == b


def test_single_url_mode_disables_discovery(spark, linked_world,
                                            tmp_path_factory):
    """F1/F2 pin a single-URL run to exactly that URL: follow_links
    composed with url= must not widen the crawl — no hidden page is
    crawled and no discovery event is emitted."""
    url = f"{default_sites()[0].url}page/3/doc-3"
    out = str(tmp_path_factory.mktemp("singleurlfollow"))
    r = run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0, url=url, follow_links=True)
    urls = {x["url"] for x in r.index().select("url").collect()}
    assert not (urls & _hidden_urls())
    assert not [m for m in r.metrics if m.get("event") == "discovery"]


def test_scope_filter_keys_on_hostname(spark):
    """A candidate on a non-default port of a configured host stays in
    scope: every host column in the pipeline (sitemap rows, host_state,
    discovered-row annotation) is the PORTLESS lower(parse_url HOST),
    so the discovery scope filter must key the same way — a
    port-suffixed key would silently zero out discovery for sites
    configured with an explicit port."""
    from ftw_crawler_spark.operators.linkgraph import (
        candidates_from_links)
    links = spark.createDataFrame(
        [("http://h.example.org/", "http://h.example.org:8080/x"),
         ("http://h.example.org/", "http://other.example.net/y")],
        "src_url string, dst_url string")
    known = spark.createDataFrame([("http://h.example.org/",)],
                                  "loc string")
    hosts = spark.createDataFrame([("h.example.org",)], "host string")
    out = candidates_from_links(links, known, known_url_col="loc",
                                scope_hosts=hosts)
    assert ({r["loc"] for r in out.collect()}
            == {"http://h.example.org:8080/x"})


def test_follow_links_relation_bloom_identical(spark, linked_world,
                                               follow_run,
                                               tmp_path_factory,
                                               monkeypatch):
    """Force the incremental enqueued-set filter onto the relation
    serving path (BROADCAST_MAX_BYTES=0 — the 10^10-URL form where the
    filter never exists as one object on any node): the final index
    must be bit-identical to the broadcast-bytes run. Both forms grow
    by O(batch) delta builds + O(shards) merges; the exact anti-join
    backstop makes the split loss-free by construction."""
    from ftw_crawler_spark.operators import seen
    monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", 0)
    out = str(tmp_path_factory.mktemp("followrelbloom"))
    r = run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=1.0, order_mode="priority",
                  follow_links=True)
    a = {(x["url"], x["batch_id"], x["op_seq"])
         for x in _index_rows(follow_run)}
    b = {(x["url"], x["batch_id"], x["op_seq"])
         for x in _index_rows(r)}
    assert a == b


def test_default_mode_ignores_links(spark, linked_world,
                                    tmp_path_factory):
    """follow_links=False on the SAME linked world: anchors are inert —
    no hidden page is crawled, no discovery metric is emitted."""
    out = str(tmp_path_factory.mktemp("nofollow"))
    r = run_crawl(spark, linked_world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0)
    urls = {x["url"] for x in _index_rows(r)}
    assert not (urls & _hidden_urls())
    assert not [m for m in r.metrics if m.get("event") == "discovery"]


def test_long_chain_multi_resume_equality(spark, tmp_path_factory):
    """Long batch chain (enqueued-set compaction cadence crossed,
    repeated O(batch) filter deltas, full AND delta checkpoints in one
    run) with TWO resume points — one inside a delta span, one past a
    full-snapshot boundary: final index rows AND the per-batch
    admission sequence must equal the uninterrupted run's. This is the
    contract the 1-batch resume tests can't see: replay across a
    full+delta chain whose frontier grew by discovery several times."""
    world = str(tmp_path_factory.mktemp("chainworld"))
    generate_world(spark, world, n_urls=900)
    add_link_layer(spark, world, n_hidden_per_site=N_HIDDEN)
    kw = dict(crawl_time=CRAWL_TIME, follow_links=True,
              order_mode="priority", batch_seconds=2.0)

    def rows(r):
        return sorted((x["url"], x["UID"], x["batch_id"]) for x in
                      r.index().select("url", "UID",
                                       "batch_id").collect())

    def admits(out):
        from ftw_crawler_spark.plans.crawl import load_run_metrics
        return [(m["batch"], m["admitted"])
                for m in load_run_metrics(out) if "admitted" in m]

    out_a = str(tmp_path_factory.mktemp("chain_a"))
    ra = run_crawl(spark, world, out_a, **kw)
    assert ra.batches >= 10, f"chain too short: {ra.batches}"

    out_b = str(tmp_path_factory.mktemp("chain_b"))
    run_crawl(spark, world, out_b, max_batches=3, **kw)
    run_crawl(spark, world, out_b, resume=True, max_batches=9, **kw)
    rb = run_crawl(spark, world, out_b, resume=True, **kw)

    assert rows(ra) == rows(rb)
    assert admits(out_a) == admits(out_b)
