"""End-to-end crawl: the distributed engine vs the sequential
plain-Python oracle (tests/oracle.py) on the same synthetic world —
crawl order, URL-seen membership, purge set, skip reasons, final index
contents, byte-identical text per url, and resume-from-checkpoint."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from ftw_crawler_spark import config as cfg
from ftw_crawler_spark.plans.crawl import run_crawl
from ftw_crawler_spark.sources.synth import default_sites, generate_world

from .oracle import run_oracle

CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("world"))
    generate_world(spark, d, n_urls=300)
    return d


@pytest.fixture(scope="module")
def engine_run(spark, world, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run"))
    result = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                       batch_seconds=5.0)   # small budget → >1 batch
    return result


@pytest.fixture(scope="module")
def oracle_run(world):
    return run_oracle(world, default_sites(), cfg.default_config(),
                      CRAWL_TIME)


def _crawled(engine_run):
    idx = engine_run.index()
    return (idx.filter(F.col("batch_id").isNotNull())
            .select("url", "crawl_seq", "batch_id", "UID", "Title",
                    "SearchableText", "modified"))


def test_multiple_batches_ran(engine_run):
    assert engine_run.batches >= 2


def test_seen_set_matches_oracle(engine_run, oracle_run):
    engine_seen = {r["url"] for r in _crawled(engine_run).collect()}
    assert engine_seen == oracle_run["seen"]


def test_crawl_order_matches_oracle(engine_run, oracle_run):
    ordered = [r["url"] for r in
               _crawled(engine_run).orderBy("crawl_seq").collect()]
    assert ordered == oracle_run["crawl_order"]


def test_politeness_never_reorders_within_host(engine_run):
    # batch_id must be monotone in crawl_seq per host (politeness only
    # delays, never reorders — SURVEY §4)
    rows = (_crawled(engine_run)
            .withColumn("host", F.parse_url("url", F.lit("HOST")))
            .orderBy("host", "crawl_seq")
            .select("host", "crawl_seq", "batch_id").collect())
    last = {}
    for r in rows:
        assert r["batch_id"] >= last.get(r["host"], 0)
        last[r["host"]] = r["batch_id"]


def test_skip_reasons_match_oracle(engine_run, oracle_run):
    plan = [m for m in engine_run.metrics if m.get("event") == "plan"][0]
    from collections import Counter
    oracle_counts = Counter(oracle_run["skipped"].values())
    assert plan["skips"] == dict(oracle_counts)


def test_purge_matches_oracle(spark, engine_run, oracle_run, world):
    index0 = spark.read.parquet(f"{world}/index0.parquet")
    final_uids = {r["UID"] for r in
                  engine_run.index().select("UID").collect()}
    for uid in oracle_run["purged"]:
        assert uid not in final_uids or uid in {
            d["UID"] for d in oracle_run["index"].values()}, uid
    # purged-and-not-recrawled docs must be gone
    recrawled = {d["UID"] for d in oracle_run["index"].values()}
    gone = oracle_run["purged"] - recrawled
    assert gone and not (gone & final_uids)


def test_final_index_matches_oracle(engine_run, oracle_run):
    engine_docs = {r["UID"]: r for r in
                   engine_run.index()
                   .select("UID", "url", "Title", "SearchableText",
                           "modified").collect()}
    oracle_docs = oracle_run["index"]
    assert set(engine_docs) == set(oracle_docs)
    mismatches = []
    for uid, od in oracle_docs.items():
        ed = engine_docs[uid]
        if "Title" in od and ed["Title"] != od["Title"]:
            mismatches.append((uid, "Title", ed["Title"], od["Title"]))
        # byte-identical extracted text per url (north-rule invariant)
        if "SearchableText" in od \
                and ed["SearchableText"] != od["SearchableText"]:
            mismatches.append((uid, "text"))
        om = od.get("modified")
        if om is not None:
            if om.tzinfo is not None:
                om = om.astimezone(timezone.utc).replace(tzinfo=None)
            if ed["modified"] != om:
                mismatches.append((uid, "modified", ed["modified"], om))
    assert not mismatches, mismatches[:5]


def test_resume_equals_single_run(spark, world, engine_run,
                                  tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    partial = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=5.0, max_batches=1)
    assert partial.batches == 1
    resumed = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=5.0, resume=True)
    a = {(r["UID"], r["url"], r["Title"], r["crawl_seq"])
         for r in engine_run.index()
         .select("UID", "url", "Title", "crawl_seq").collect()}
    b = {(r["UID"], r["url"], r["Title"], r["crawl_seq"])
         for r in resumed.index()
         .select("UID", "url", "Title", "crawl_seq").collect()}
    assert a == b


def test_single_url_mode(spark, world, oracle_run, tmp_path_factory):
    # F1/F2: only the named URL is crawled; purge still runs for the site
    target = sorted(u for u in oracle_run["seen"]
                    if u.startswith("https://site0.example.ch/"))[0]
    out = str(tmp_path_factory.mktemp("single"))
    res = run_crawl(spark, world, out, crawl_time=CRAWL_TIME, url=target)
    crawled = _crawled(res).collect()
    assert [r["url"] for r in crawled] == [target]
    oracle_single = run_oracle(world, default_sites(),
                               cfg.default_config(), CRAWL_TIME,
                               url_filter=target)
    assert oracle_single["crawl_order"] == [target]
    # purge applied for site0 even in single-URL mode
    gone = oracle_single["purged"]
    final_uids = {r["UID"] for r in res.index().select("UID").collect()}
    assert gone and not (gone
                         & final_uids
                         - {d["UID"] for d in
                            oracle_single["index"].values()})


def test_second_crawl_is_incremental_noop(spark, world, engine_run,
                                          tmp_path_factory):
    """F4 end-to-end: re-crawling against the index the first run
    produced fetches NOTHING — every previously-indexed url gates on
    strict-> is_modified (equal timestamps = unmodified,
    test_fetcher.py:124-151)."""
    import shutil

    world2 = str(tmp_path_factory.mktemp("world2"))
    for t in ("sitemaps", "pages", "fetch_status", "robots"):
        src = f"{world}/{t}.parquet"
        if __import__("os").path.exists(src):
            shutil.copytree(src, f"{world2}/{t}.parquet")
    (engine_run.index()
     .select("UID", "url", "modified", "crawler_site_id")
     .write.mode("overwrite").parquet(f"{world2}/index0.parquet"))

    out2 = str(tmp_path_factory.mktemp("rerun"))
    r2 = run_crawl(spark, world2, out2, crawl_time=CRAWL_TIME)
    recrawled = {r["url"] for r in
                 r2.index().filter(F.col("batch_id").isNotNull())
                 .select("url").collect()}
    # reference-faithful exception: docs indexed under a <target> url
    # never match their sitemap loc in the last-indexed lookup
    # (main.py:61-66 matches on url_field == loc), so they re-crawl on
    # every run. Everything else must gate on not_modified.
    first = {r["url"] for r in
             engine_run.index().filter(F.col("batch_id").isNotNull())
             .select("url").collect()}
    # ...and docs whose stored url escapes the case-sensitive site
    # prefix scope (main.py:49-58 — e.g. the MIXED-CASE url) are
    # likewise invisible to the lookup and re-crawl every run.
    locs = _locs_of_world(spark, world)
    prefixes = tuple(s.url for s in default_sites())
    always_recrawl = {u for u in first
                      if u not in locs or not u.startswith(prefixes)}
    assert recrawled == always_recrawl
    plan = next(m for m in r2.metrics if m.get("event") == "plan")
    assert plan["skips"].get("not_modified", 0) > 0
    # nothing purged either: the sitemap membership is unchanged
    assert r2.index().count() == engine_run.index().count()


def _locs_of_world(spark, world_dir):
    from ftw_crawler_spark.operators.sitemaps import build_frontier
    sm = spark.read.parquet(f"{world_dir}/sitemaps.parquet")
    return {r["loc"] for r in build_frontier(
        spark, default_sites(), sm).select("loc").collect()}


def test_force_recrawls_everything(spark, world, engine_run,
                                   tmp_path_factory):
    """--force bypasses is_modified (reference fetcher.py:50,
    __init__.py:23-24): the same world re-crawls fully."""
    out = str(tmp_path_factory.mktemp("forced"))
    r = run_crawl(spark, world, out, crawl_time=CRAWL_TIME, force=True)
    n_forced = r.index().filter(F.col("batch_id").isNotNull()).count()
    n_first = engine_run.index() \
        .filter(F.col("batch_id").isNotNull()).count()
    assert n_forced >= n_first
    plan = next(m for m in r.metrics if m.get("event") == "plan")
    assert plan["skips"].get("not_modified", 0) == 0


def test_resume_ignores_uncommitted_checkpoint(spark, world, engine_run,
                                               tmp_path_factory):
    """Crash simulation: a checkpoint dir written WITHOUT its _COMMIT
    marker (and an orphan sink delta for the same batch) must be
    ignored on resume — the batch replays from the last committed
    state and the orphan delta is overwritten (idempotent upsert)."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("crash"))
    run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
              batch_seconds=5.0, max_batches=1)
    ckpt = os.path.join(out, "checkpoints")
    # fake a torn batch=1: checkpoint copied from batch=0 minus _COMMIT
    shutil.copytree(os.path.join(ckpt, "batch=0"),
                    os.path.join(ckpt, "batch=1"))
    os.remove(os.path.join(ckpt, "batch=1", "_COMMIT"))
    # orphan sink delta for batch 1 with stale (wrong) content
    delta = os.path.join(out, "index", "delta")
    shutil.copytree(os.path.join(delta, "batch=0"),
                    os.path.join(delta, "batch=1"))

    resumed = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=5.0, resume=True)
    a = {(r["UID"], r["url"], r["Title"], r["crawl_seq"])
         for r in engine_run.index()
         .select("UID", "url", "Title", "crawl_seq").collect()}
    b = {(r["UID"], r["url"], r["Title"], r["crawl_seq"])
         for r in resumed.index()
         .select("UID", "url", "Title", "crawl_seq").collect()}
    assert a == b


def test_replayed_batch_writes_one_metrics_row(spark, tiny_world,
                                               tmp_path_factory):
    """Crash window of the metrics flush: batch 0's row is on disk but
    its _COMMIT is not, so a resume replays batch 0. The replay must
    leave one row for it, not two."""
    import os

    from ftw_crawler_spark.plans.crawl import load_run_metrics

    out = str(tmp_path_factory.mktemp("metricscrash"))
    run_crawl(spark, tiny_world, out, crawl_time=CRAWL_TIME,
              batch_seconds=5.0, max_batches=1)
    os.remove(os.path.join(out, "checkpoints", "batch=0", "_COMMIT"))
    run_crawl(spark, tiny_world, out, crawl_time=CRAWL_TIME,
              batch_seconds=5.0, max_batches=1)
    assert [m["batch"] for m in load_run_metrics(out)
            if "admitted" in m] == [0]


@pytest.mark.parametrize("kind", ["full", "delta"])
def test_torn_commit_marker_is_not_committed(spark, tmp_path, monkeypatch,
                                             kind):
    """The _COMMIT marker lands whole or not at all: a writer that dies
    before its rename leaves the batch uncommitted, never an empty
    marker that would count as committed with no kind."""
    import os

    from ftw_crawler_spark.plans import crawl

    root = str(tmp_path / "checkpoints")
    hosts = spark.createDataFrame([("a", 1.0)],
                                  "host string, sleeptime double")
    rows = spark.createDataFrame([(1, "http://a/1")],
                                 "crawl_seq long, loc string")

    def write(batch_id):
        if kind == "full":
            crawl._write_ckpt(root, batch_id, rows, hosts)
        else:
            crawl._write_delta_ckpt(root, batch_id, rows, hosts)

    def crash(src, dst):
        raise OSError("killed before the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            write(0)
    assert crawl._committed_batches(root) == []
    write(0)
    assert crawl._committed_batches(root) == [0]
    assert crawl._ckpt_kind(root, 0) == kind


def _uids(result):
    return {r["UID"] for r in result.index().select("UID").collect()}


def test_restart_before_first_commit_keeps_purge(spark, world,
                                                 oracle_run,
                                                 tmp_path_factory):
    """Crash window of the plan step: the purge tombstones are durable
    but the batch -1 marker is not, so the restart is a fresh run. It
    must purge again against the pre-run base snapshot — reading the
    previous attempt's tombstones as an already-purged index finds
    nothing to purge and overwrites them, resurrecting removed docs."""
    import os

    out = str(tmp_path_factory.mktemp("plancrash"))
    run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
              batch_seconds=5.0, max_batches=0)
    os.remove(os.path.join(out, "checkpoints", "batch=-1", "_COMMIT"))
    r = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0)
    assert _uids(r) == set(oracle_run["index"])


def test_fresh_run_over_finished_run(spark, world, engine_run,
                                     oracle_run, tmp_path_factory):
    """resume=False into the out_dir of a finished run starts over from
    an empty delta log and checkpoint dir: the final index is the
    oracle's, with every purged doc still gone."""
    import shutil

    out = str(tmp_path_factory.mktemp("freshover"))
    shutil.copytree(engine_run.out_dir, out, dirs_exist_ok=True)
    r = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0, resume=False)
    assert _uids(r) == set(oracle_run["index"])


def test_relation_bloom_path_same_final_state(spark, world, engine_run,
                                              tmp_path_factory,
                                              monkeypatch):
    """Force the seen filter down the (shard, bits) relation serving
    path (the 10^10-URL form — no driver bytes, cogrouped probe) for a
    whole crawl: the final index must be identical to the broadcast
    path's. Pins that the crawl plan itself, not just the unit split,
    is serving-mode invariant."""
    from ftw_crawler_spark.operators import seen

    monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", 0)
    out = str(tmp_path_factory.mktemp("relbloom"))
    rel_run = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                        batch_seconds=5.0)
    a = {(r["UID"], r["url"], r["crawl_seq"], r["batch_id"])
         for r in _crawled(engine_run)
         .select("UID", "url", "crawl_seq", "batch_id").collect()}
    b = {(r["UID"], r["url"], r["crawl_seq"], r["batch_id"])
         for r in _crawled(rel_run)
         .select("UID", "url", "crawl_seq", "batch_id").collect()}
    assert a == b


def test_priority_mode_same_final_state(spark, world, engine_run,
                                        tmp_path_factory):
    """Priority-queue scheduling changes WHICH rows enter each batch,
    never the final outcome: the seen set and index contents equal the
    reference-order run (politeness delays/reorders across batches,
    the pipeline is batch-composition-invariant)."""
    out = str(tmp_path_factory.mktemp("priority"))
    r = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0, order_mode="priority")
    a = {(x["UID"], x["url"], x["Title"]) for x in
         engine_run.index().select("UID", "url", "Title").collect()}
    b = {(x["UID"], x["url"], x["Title"]) for x in
         r.index().select("UID", "url", "Title").collect()}
    assert a == b
    # and the first batch really admitted high-priority rows first:
    # within each host, every admitted batch-0 row has priority >= any
    # batch-1 row (nulls last)
    rows = (r.index().filter(F.col("batch_id").isNotNull())
            .select("url", "batch_id", "crawl_seq").collect())
    assert r.batches >= 2


def test_site_error_isolated(spark, world, engine_run, tmp_path_factory):
    """P2 per-site error isolation (reference main.py:80-88): one site
    with no discoverable sitemap is recorded + skipped; every other
    site's crawl and purge are identical to a run without it — and the
    dead site's indexed docs are NOT purged (its membership is unknown,
    not empty: the foreign docs live under its url prefix)."""
    sites = default_sites() + [
        cfg.Site(5, "http://foreign.example/", sleeptime=0.05)]
    out = str(tmp_path_factory.mktemp("siteerr"))
    r = run_crawl(spark, world, out, sites=sites, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0)
    errs = [m for m in r.metrics if m.get("event") == "site_error"]
    assert len(errs) == 1
    assert errs[0]["site_id"] == 5
    assert "No sitemap found for http://foreign.example/" in \
        errs[0]["error"]
    # dead site's docs survive purge
    foreign = r.index().filter(
        F.col("url").startswith("http://foreign.example/"))
    assert foreign.count() == 3
    # rest of the run is bit-identical to the no-dud-site run
    a = {(x["UID"], x["url"], x["Title"]) for x in
         engine_run.index().select("UID", "url", "Title").collect()}
    b = {(x["UID"], x["url"], x["Title"]) for x in
         r.index().select("UID", "url", "Title").collect()}
    assert a == b


def _dir_bytes(d):
    import os
    total = 0
    for root, _, files in os.walk(d):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def test_delta_checkpoints_proportional_to_batch(engine_run):
    """Non-snapshot batches persist only the processed delta (politeness-
    capped) + host state — never a full frontier rewrite."""
    import os
    root = os.path.join(engine_run.out_dir, "checkpoints")
    full = _dir_bytes(os.path.join(root, "batch=-1", "state"))
    assert engine_run.batches >= 2
    for b in range(min(engine_run.batches, 7)):   # batch 7 is a full
        d = os.path.join(root, f"batch={b}")
        # one combined state write (processed delta + host rows)
        assert os.path.isdir(os.path.join(d, "state"))
        assert not os.path.isdir(os.path.join(d, "remaining"))
        with open(os.path.join(d, "_COMMIT")) as fh:
            assert fh.read() == "delta"
        assert _dir_bytes(os.path.join(d, "state")) < full


def test_compaction_mid_run_same_index(spark, world, engine_run,
                                       tmp_path_factory):
    """compact_every=1 fires compaction between every batch; the final
    index is bit-identical and the delta log ends folded."""
    import os
    out = str(tmp_path_factory.mktemp("compact"))
    r = run_crawl(spark, world, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0, compact_every=1)
    assert any(m.get("compacted") for m in r.metrics)
    a = {(x["UID"], x["url"], x["Title"]) for x in
         engine_run.index().select("UID", "url", "Title").collect()}
    b = {(x["UID"], x["url"], x["Title"]) for x in
         r.index().select("UID", "url", "Title").collect()}
    assert a == b
    delta = os.path.join(out, "index", "delta")
    gens = os.listdir(delta) if os.path.isdir(delta) else []
    assert len(gens) <= 2


def test_corrupt_sitemap_site_not_purged(spark, world, engine_run,
                                         tmp_path_factory):
    """A site whose only sitemap is corrupt XML: its entries are
    skipped, the failure lands in metrics, and crucially its indexed
    docs are NOT purged (membership is incomplete, not empty)."""
    import shutil
    world2 = str(tmp_path_factory.mktemp("world_corrupt"))
    for t in ("pages", "fetch_status", "robots", "entries", "index0"):
        shutil.copytree(f"{world}/{t}.parquet", f"{world2}/{t}.parquet")
    sm = spark.read.parquet(f"{world}/sitemaps.parquet")
    bad = sm.withColumn(
        "xml",
        F.when(F.col("sitemap_url")
               == "http://site1.example.org/sitemap.xml",
               F.lit(b"<urlset><url><lo")).otherwise(F.col("xml")))
    bad.write.parquet(f"{world2}/sitemaps.parquet")

    out = str(tmp_path_factory.mktemp("corrupt_run"))
    r = run_crawl(spark, world2, out, crawl_time=CRAWL_TIME,
                  batch_seconds=5.0)
    errs = [m for m in r.metrics if m.get("event") == "site_error"]
    # probe-body validation catches the corrupt urlset at DISCOVERY
    # (the reference raises from the Sitemap constructor — same stage)
    assert [(e["site_id"], e["error"]) for e in errs] == \
        [(1, "Invalid sitemap XML at http://site1.example.org/sitemap.xml")]
    # site1's pre-existing index docs survive (no mass purge)
    site1_before = (spark.read.parquet(f"{world}/index0.parquet")
                    .filter(F.col("url").startswith(
                        "http://site1.example.org/"))
                    .filter(~F.col("url").contains("/removed/")).count())
    site1_after = (r.index().filter(F.col("url").startswith(
        "http://site1.example.org/")).count())
    assert site1_after >= site1_before
    # and no site1 url was crawled this run
    assert (r.index().filter(F.col("batch_id").isNotNull())
            .filter(F.col("url").startswith("http://site1.example.org/"))
            .count() == 0)


def test_delta_checkpoint_persists_only_changed_hosts(spark,
                                                      tmp_path_factory):
    """Delta host rows are the CHANGED slice (429-doubled hosts), not
    the whole O(hosts) relation, and _resume_state's last-wins overlay
    reconstructs the exact post-transition host state — including a
    host doubled twice across two deltas."""
    import os

    from ftw_crawler_spark.plans.crawl import (_resume_state,
                                               _write_ckpt,
                                               _write_delta_ckpt)

    root = str(tmp_path_factory.mktemp("hs_delta_ckpt"))
    frontier = spark.createDataFrame(
        [(i, f"http://h{i % 3}.example.org/p{i}", f"h{i % 3}.example.org")
         for i in range(9)], "crawl_seq long, loc string, host string")
    hs0 = spark.createDataFrame(
        [("h0.example.org", 0.1), ("h1.example.org", 0.1),
         ("h2.example.org", 0.5)], "host string, sleeptime double")
    _write_ckpt(root, -1, frontier, hs0)

    # batch 0: h1 doubles (0.1 -> 0.2); h0/h2 unchanged
    hs1 = spark.createDataFrame(
        [("h0.example.org", 0.1), ("h1.example.org", 0.2),
         ("h2.example.org", 0.5)], "host string, sleeptime double")
    _write_delta_ckpt(root, 0,
                      frontier.filter("crawl_seq < 3")
                      .select("crawl_seq"),
                      hs1, None, hs0)
    # batch 1: h1 doubles again (0.2 -> 0.4)
    hs2 = spark.createDataFrame(
        [("h0.example.org", 0.1), ("h1.example.org", 0.4),
         ("h2.example.org", 0.5)], "host string, sleeptime double")
    _write_delta_ckpt(root, 1,
                      frontier.filter("crawl_seq >= 3 and crawl_seq < 6")
                      .select("crawl_seq"),
                      hs2, None, hs1)

    # format: each delta persisted exactly ONE host row (h1)
    for b in (0, 1):
        st = spark.read.parquet(os.path.join(root, f"batch={b}",
                                             "state"))
        hosts = st.filter(F.col("crawl_seq").isNull()).collect()
        assert [(r["host"], r["sleeptime"]) for r in hosts] == \
            [("h1.example.org", 0.2 if b == 0 else 0.4)]

    remaining, host_state, last_full = _resume_state(spark, root,
                                                     [-1, 0, 1])
    assert last_full == -1
    got = {r["host"]: r["sleeptime"] for r in host_state.collect()}
    assert got == {"h0.example.org": 0.1, "h1.example.org": 0.4,
                   "h2.example.org": 0.5}
    assert remaining.count() == 3      # 6 of 9 processed
