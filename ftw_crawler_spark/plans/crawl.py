"""The crawl micro-batch loop (M3-M5): the reference's ``bin/crawl``
re-expressed as a sequence of DataFrame micro-batches.

Reference lifecycle (main.py:69-162, SURVEY.md §3.1): per site —
discover+parse sitemaps → scan index → purge removed docs → per URL:
last-indexed lookup → is_modified / redirect / status gates → fetch →
extract → upsert into Solr. Here each *crawl iteration* is one
micro-batch over the whole (multi-site) frontier.

A ``CrawlState`` carries everything one batch hands the next. A fresh
run builds it in the plan step, a resumed run from its checkpoints
(``_resume_state``); then one loop runs these steps per batch:

1. plan (fresh runs, once): sitemap discovery+expansion, purge
   anti-join → tombstones (before crawling, main.py:102), and the
   frontier annotation — last-indexed join against the PRE-RUN index
   snapshot (the reference queries Solr once per site before its loop,
   main.py:99 — this run's own upserts are invisible to is_modified),
   fetch-status and warc_ts joins (html is NOT read here), skip_reason
   classification (F4/F7/F8);
2. schedule: the politeness-capped batch, prefetched on a background
   thread while the previous batch extracts;
3. transition: host state (429 doubling) and the processed anti-join;
4. extract+sink: page-store join (html/text read only for admitted
   rows) → extraction projection → upsert append;
5. discover (``follow_links`` only): the batch's outlinks become new
   frontier rows before the next schedule is drawn;
6. commit: batch K's checkpoint, written once K's discoveries are known.

Determinism: the schedule is a pure function of (frontier,
host_state); crawl_seq is carried into the index (lineage) so the
reference's global order is reconstructible; crawl_time is pinned in
run_meta.json so resume is bit-stable (no wall-clock in the plan).

Resume: checkpoints/batch=K holds ONE combined *state* parquet — for a
full snapshot (batch -1 and every ``ckpt_full_every`` batches) the
whole remaining frontier + host rows, for a delta the batch's tiny
politeness-capped processed crawl_seq set + changed host rows + the
rows it discovered — one write, one job either way, with a commit
marker recording the kind written LAST (row kinds inside the file
split on the crawl_seq null pattern). Delta checkpoints bound write
amplification: a full rewrite per batch is O(frontier × batches) at a
10^10-row frontier, while a delta is proportional to the batch. Resume
reconstructs ``remaining = last_full_snapshot ANTI-JOIN ∪(processed
deltas)``; a crash between sink append and commit replays batch K
idempotently (upsert-by-UID makes the replay a no-op). A fresh run
starts from an empty checkpoint dir and delta log.

Compaction: when the sink's MOR delta log exceeds ``compact_every``
generations it is folded into a fresh base snapshot mid-run, bounding
the read-side LWW window cost (the Iceberg MOR maintenance analog).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark import config as cfg
from ftw_crawler_spark.functions.urls import canonical_url_col
from ftw_crawler_spark.operators import linkgraph, politeness, robots, seen
from ftw_crawler_spark.operators.extraction import extract_documents
from ftw_crawler_spark.operators.incremental import (
    is_modified_col, last_indexed_relation, purge_candidates,
    with_last_indexed)
from ftw_crawler_spark.operators.indexsink import IndexSink
from ftw_crawler_spark.operators.sitemaps import build_frontier
from ftw_crawler_spark.sources.synth import default_sites

DEFAULT_CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)

# crawl_seq space for link-discovered frontier rows: sitemap rows use
# site_id·2^40 + ordinal (operators/sitemaps._with_crawl_seq — far below
# 2^62), discovered rows hash into [2^62, 2^62 + 2^61). The hash keys on
# the CANONICAL url, so the seq is a pure function of the frontier (no
# task-order dependence); same-batch collisions are deduped with a
# deterministic min-loc winner, and the residual cross-batch collision
# odds (~2^-61 per pair) are the family's accepted 60-bit posture
# (operators/dedup.md5_long).
DISCOVERED_SEQ_BASE = 1 << 62
_DISCOVERED_SEQ_MOD = 1 << 61


def load_run_metrics(out_dir: str) -> list:
    """All metrics rows of a run: the append-only ``metrics.jsonl``
    lines (one O(1) append per batch instead of rewriting the whole
    history, which is O(batches²) file I/O over a long crawl). A torn
    final line (crash mid-append) is skipped; the metrics are
    observability/lineage, never resume inputs."""
    rows: list = []
    jl = os.path.join(out_dir, "metrics.jsonl")
    if os.path.exists(jl):
        with open(jl) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        rows.append(json.loads(line))
                    except ValueError:
                        pass   # torn tail from a crash mid-append
    return rows


@dataclass
class CrawlResult:
    out_dir: str
    batches: int
    metrics: list = field(default_factory=list)
    sink: IndexSink | None = None

    def index(self) -> DataFrame:
        return self.sink.current()


@dataclass
class CrawlState:
    """Everything one batch hands the next. A fresh run builds it in
    ``_plan``, a resumed one from its checkpoints; then the same loop
    runs over it. While a prefetch task is in flight it owns
    ``remaining`` and the discover fields — the loop's thread touches
    them only after joining it."""
    spark: SparkSession
    out_dir: str
    world: dict
    sink: IndexSink
    sdf: DataFrame
    batch_seconds: float
    order_mode: str
    ckpt_full_every: int
    force: bool
    not_due: DataFrame | None = None   # the recrawl gate's (loc) relation
    remaining: DataFrame | None = None
    host_state: DataFrame | None = None
    last_full: int = -1
    batch_id: int = 0
    metrics: list = field(default_factory=list)
    flushed: int = 0            # metrics rows already in metrics.jsonl
    # outstanding background tasks: schedule prefetch, checkpoint writer
    # (at most one each), and the plan step's purge write + filter build
    pending: _BgTask | None = None
    ckpt_writer: _BgTask | None = None
    purge_writer: _BgTask | None = None
    filter_task: _BgTask | None = None
    # the last batch's checkpoint (batch_id, is_full, processed,
    # pre-transition host_state), committed once its discoveries are
    # known, and those discoveries (rows, candidates, enqueued)
    staged: tuple | None = None
    found: tuple | None = None
    # the discover step, present when links are followed: the enqueued
    # set (every loc ever put on the frontier), its incremental filter,
    # the lazy segments unioned onto it since its last compaction, and
    # what annotating discovered rows needs — the per-run dimensions
    # (index0 seen filter, index0 last-indexed relation, robots rules)
    # are built once, in the first discover unit, unless the plan step
    # handed the filter over
    enqueued: DataFrame | None = None
    enq_filter: seen.IncrementalUrlFilter | None = None
    enq_segments: int = 0
    host_dim: DataFrame | None = None
    index0_filter: seen.IncrementalUrlFilter | None = None
    index0_rows: int = 0
    last0: DataFrame | None = None
    robots_rules: DataFrame | None = None

    @property
    def ckpt_root(self) -> str:
        return os.path.join(self.out_dir, "checkpoints")

    @property
    def discovering(self) -> bool:
        return self.enq_filter is not None


def sites_df(spark: SparkSession, sites: list) -> DataFrame:
    schema = T.StructType([
        T.StructField("site_id", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("sleeptime", T.DoubleType()),
        T.StructField("crawler_site_id", T.StringType()),
        T.StructField("attributes",
                      T.MapType(T.StringType(), T.StringType())),
    ])
    return spark.createDataFrame(
        [(s.site_id, s.url, s.sleeptime, s.crawler_site_id,
          s.attributes) for s in sites], schema)


def _load_world(spark: SparkSession, world_dir: str,
                pages_table: str | None = None) -> dict:
    """``pages_table`` names a bucketed catalog table
    (sources/pagestore.py) to use as the page store instead of the
    world's plain parquet — the fetch-simulate join then reads the big
    side in place (no per-batch shuffle of page bytes)."""
    world = {
        "sitemaps": spark.read.parquet(f"{world_dir}/sitemaps.parquet"),
        "pages": (spark.table(pages_table) if pages_table
                  else spark.read.parquet(f"{world_dir}/pages.parquet")),
        "index0": spark.read.parquet(f"{world_dir}/index0.parquet"),
        "fetch_status": spark.read.parquet(
            f"{world_dir}/fetch_status.parquet"),
    }
    robots_path = f"{world_dir}/robots.parquet"
    world["robots"] = (spark.read.parquet(robots_path)
                       if os.path.exists(robots_path) else None)
    return world


def _robots_rules(world: dict) -> DataFrame | None:
    """Per-host parsed robots rules, or None for a world without a
    robots table (every url allowed)."""
    if world.get("robots") is None:
        return None
    return robots.robots_rules(world["robots"])


def _fetch_gates(frontier: DataFrame, world: dict,
                 rules: DataFrame | None,
                 not_due: DataFrame | None) -> DataFrame:
    """The F7/F8 inputs and the robots gate as narrow-column joins
    (html untouched): page-store ``warc_ts``, fetch status, the recrawl
    gate's ``__not_due`` mark and ``robots_allowed``."""
    pages_meta = world["pages"].select(F.col("url").alias("loc"),
                                       "warc_ts")
    fs = world["fetch_status"].select(
        F.col("url").alias("loc"), "status", "n_429",
        F.col("headers").alias("header_overrides"))

    df = frontier.join(pages_meta, "loc", "left")
    df = df.join(fs, "loc", "left")
    if not_due is not None:
        # one url-keyed shuffle join against a narrow (loc) relation —
        # the same scale class as the F3 last-indexed join
        df = df.join(not_due.select(
            "loc", F.lit(True).alias("__not_due")), "loc", "left")
    df = df.withColumn("status", F.coalesce(F.col("status"), F.lit(200)))
    df = df.withColumn("n_429", F.coalesce(F.col("n_429"), F.lit(0)))

    # robots gate (north rule): broadcast per-host rules, pure-column
    # longest-prefix evaluation; checked BEFORE any fetch-dependent
    # logic (a compliant crawler never fetches a disallowed path)
    if rules is not None:
        return robots.apply_robots(df, rules, "loc")
    return df.withColumn("robots_allowed", F.lit(True))


def _classify(df: DataFrame, force: bool,
              not_due: DataFrame | None) -> DataFrame:
    """``skip_reason`` over the gate columns and ``last_indexed``."""
    modified = is_modified_col(force)
    page_found = F.col("warc_ts").isNotNull()
    skip = F.when(~F.col("robots_allowed"),
                  F.lit("robots_disallowed"))              # RFC 9309 gate
    if not_due is not None:
        # adaptive recrawl gate (Cho & Garcia-Molina rate estimate):
        # after compliance, before every fetch-dependent gate
        skip = skip.when(F.col("__not_due"), F.lit("not_due"))
    skip = (skip
            .when(~modified, F.lit("not_modified"))        # fetcher.py:50-51
            .when(F.col("status").between(300, 399),
                  F.lit("redirect"))                       # fetcher.py:54-58
            .when((F.col("status") != 200) | ~page_found,
                  F.lit("fetch_error")))                   # fetcher.py:68-70
    return df.withColumn("skip_reason", skip).drop("__not_due")


def _annotate_frontier(frontier: DataFrame, world: dict,
                       index_current: DataFrame | None,
                       sites_dim: DataFrame, force: bool,
                       expected_indexed: int | None = None,
                       index_filter: "seen.IncrementalUrlFilter | None"
                       = None,
                       not_due: DataFrame | None = None) -> DataFrame:
    """Steps F3/F4/F7/F8 over the sitemap frontier as one
    narrow-column pass; html untouched.

    ``expected_indexed`` sizes the seen bloom filter without a count
    job (run_crawl reads it from the index base's parquet footers).
    ``index_filter``: a prebuilt seen filter over ``index_current``'s
    urls — a caller that can overlap the build with other plan-phase
    jobs passes one instead of paying the O(index) build inline. The
    filter is a PRE-filter over the same url set, so results are
    bit-identical either way. The frontier is O(frontier) rows, so
    here the filter SPLITS it: surely-new rows skip the last-indexed
    shuffle entirely (at the 10^10 design point that skip is an
    O(frontier) shuffle saved).
    ``not_due``: optional (loc) relation of urls the adaptive recrawl
    scheduler says are not yet due — they skip with 'not_due' BEFORE
    any fetch-dependent gate (the whole point: a not-due url costs no
    page-store touch). None (the default) adds no join and no column —
    plan bit-identical to the ungated path."""
    df = _fetch_gates(frontier, world, _robots_rules(world), not_due)
    if index_current is not None:
        # bloom prune: urls surely not indexed skip the exact join.
        # The serving form is picked by filter size — driver-bytes
        # broadcast here (small index), the end-to-end (shard, bits)
        # relation above BROADCAST_MAX_BYTES
        if index_filter is not None:
            new, cand = index_filter.split(df, "loc")
        else:
            new, cand = seen.split_by_index(
                df, index_current.select("url"), "loc", "url",
                expected_items=expected_indexed)
        cand = with_last_indexed(cand, index_current, sites_dim)
        new = new.withColumn("last_indexed",
                             F.lit(None).cast("timestamp"))
        df = new.unionByName(cand)
    else:
        df = df.withColumn("last_indexed", F.lit(None).cast("timestamp"))
    return _classify(df, force, not_due)


def _annotate_discovered(cand: DataFrame, world: dict,
                         host_dim: DataFrame, force: bool,
                         index_filter: "seen.IncrementalUrlFilter",
                         last0: DataFrame, rules: DataFrame | None,
                         not_due: DataFrame | None = None) -> DataFrame:
    """Link-discovered candidates (loc, n_refs) → annotated frontier
    rows, shaped exactly like sitemap rows so they union into
    ``remaining`` and ride the same politeness/extraction path:

    - site_id via the broadcast host dim (candidates are already scoped
      to configured hosts);
    - ``priority`` = n_refs (in-reference count — well-linked pages
      first in priority order mode; sitemap priorities are ≤ 1.0, so
      discovered pages outrank them by design);
    - ``crawl_seq`` = DISCOVERED_SEQ_BASE + hash(canonical loc): a pure
      function of the url (deterministic, resume-stable), disjoint from
      the sitemap ordinal space; same-batch hash collisions resolve to
      a deterministic min-loc winner;
    - the same gates and skip classification as sitemap rows (robots,
      fetch status, last-indexed against the PRE-RUN index), over the
      per-run dimensions ``rules`` and ``last0`` (the index0
      ``last_indexed_relation``), built once and shared by every
      discovering batch.

    One linear plan: the batch-sized rows are marked by ``index_filter``
    and LEFT JOINed to ``last0`` ON (site_id, loc) AND __maybe_seen —
    identical to a split + union (the filter has no false negatives),
    without planning the rows twice."""
    host = F.lower(F.parse_url(F.col("loc"), F.lit("HOST")))
    cand = (cand.withColumn("host", host)
            .join(F.broadcast(host_dim), "host")
            .withColumn(
                "crawl_seq",
                F.lit(DISCOVERED_SEQ_BASE)
                + F.pmod(F.xxhash64("loc"),
                         F.lit(_DISCOVERED_SEQ_MOD))))
    # deterministic min-loc winner on (astronomically rare) same-batch
    # seq collisions — crawl_seq is the row identity the processed
    # anti-join and checkpoints key on, so it must be unique
    cand = (cand.groupBy("crawl_seq")
            .agg(F.min(F.struct("loc", "n_refs", "host",
                                "site_id")).alias("__w"))
            .select("crawl_seq", F.col("__w.loc").alias("loc"),
                    F.col("__w.n_refs").alias("n_refs"),
                    F.col("__w.host").alias("host"),
                    F.col("__w.site_id").alias("site_id")))
    frontier = cand.select(
        "site_id",
        F.lit(None).cast("string").alias("sitemap_url"),
        F.lit(0).cast("int").alias("sitemap_ord"),
        F.lit(0).cast("int").alias("url_ord"),
        "loc",
        F.lit(None).cast("string").alias("lastmod"),
        F.lit(None).cast("string").alias("changefreq"),
        F.col("n_refs").cast("string").alias("priority"),
        F.lit(None).cast("string").alias("target"),
        "host", "crawl_seq")
    df = index_filter.mark(_fetch_gates(frontier, world, rules, not_due),
                           "loc")
    last = last0.select(F.col("site_id").alias("__l_site"),
                        F.col("loc").alias("__l_loc"), "last_indexed")
    df = (df.join(last, (F.col("site_id") == F.col("__l_site"))
                  & (F.col("loc") == F.col("__l_loc"))
                  & F.col("__maybe_seen"), "left")
          .drop("__l_site", "__l_loc", "__maybe_seen"))
    return _classify(df, force, not_due)


def _batch_resources(batch: DataFrame, world: dict,
                     sites_dim: DataFrame) -> DataFrame:
    """Fetch-simulate (S6): page-store inner join (html/text read HERE
    only), synthesized response headers (content-type + last-modified =
    warc_ts, FIXTURES §1) merged with per-url overrides, site attrs via
    broadcast."""
    pages = world["pages"].select(
        F.col("url").alias("loc"), F.col("warc_ts").alias("__wts"),
        "html", "text")
    df = batch.join(pages, "loc", "inner")
    base_headers = F.create_map(
        F.lit("content-type"), F.lit("text/html; charset=utf-8"),
        F.lit("last-modified"),
        F.date_format("__wts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    # override-wins merge without duplicate keys (map_concat raises
    # under the default EXCEPTION dedup policy when a per-url override
    # re-specifies content-type)
    ov = F.col("header_overrides")
    base_kept = F.map_filter(
        base_headers,
        lambda k, _: ~F.array_contains(F.map_keys(ov), k))
    headers = F.when(ov.isNotNull(),
                     F.map_concat(base_kept, ov)).otherwise(base_headers)
    df = df.withColumn("headers", headers)
    df = df.withColumn(
        "content_type",
        F.split(F.col("headers")["content-type"], ";").getItem(0))
    dim = sites_dim.select(
        "site_id", F.col("attributes").alias("site_attributes"),
        F.col("crawler_site_id").alias("__csid"))
    return df.join(F.broadcast(dim), "site_id", "left")


def run_crawl(spark: SparkSession, world_dir: str, out_dir: str,
              sites: list | None = None,
              config: cfg.CrawlerConfig | None = None,
              crawl_time: datetime | None = None,
              batch_seconds: float = 600.0,
              url: str | None = None, force: bool = False,
              max_batches: int | None = None,
              resume: bool = True,
              order_mode: str = "reference",
              pages_table: str | None = None,
              ckpt_full_every: int = 8,
              compact_every: int | None = 16,
              follow_links: bool = False,
              recrawl_from: str | None = None) -> CrawlResult:
    """``follow_links`` turns on link-following frontier discovery (the
    north rule's priority queue actually GROWING from discovered
    anchors — the sitemap-driven reference never follows links): each
    batch's extraction emits resolved outlinks from its shared DOM
    parse (zero extra page reads), they are canonicalized, trap-gated
    (functions/urls.url_trap_cols), scoped to the configured sites'
    hosts, split against the enqueued-set (sharded bloom + exact
    anti-join), annotated like sitemap rows (robots / last-indexed /
    is_modified / status), and union into ``remaining`` with ``n_refs``
    (in-reference count) as the priority signal. Discovered rows ride
    the delta checkpoints (the frontier GROWS between fulls), so resume
    replays them exactly. Purge membership stays sitemap-only
    (reference semantics): a later run purges link-discovered docs
    unless they joined a sitemap. Single-URL mode (``url=``) disables
    discovery — F1/F2 semantics pin the run to exactly that URL.

    ``recrawl_from`` (the adaptive-recrawl gate, CLI --recrawl-from):
    path to a PRIOR run's index root. Its op log (base + deltas —
    ``IndexSink.op_log``, the CDC change-history surface) feeds
    ``recrawl_schedule`` (Cho & Garcia-Molina uniform-rate revisit
    estimation); frontier urls whose ``next_due_epoch`` is after this
    run's ``crawl_time`` skip with 'not_due' before any fetch-dependent
    gate. Urls without an observed change RATE (fewer than two distinct
    (url, modified) observations) are never gated — the scheduler only
    ever defers what it has evidence about, so an empty/rate-free
    history makes the gated run bit-identical to the ungated one
    (pinned by test_recrawl_gate). History reaches back to the prior
    sink's last compaction (snapshot-expiry semantics, as documented
    on ``as_of``) — beyond it, urls simply lose observations and fall
    back to always-due, never the other way around."""
    sites = sites if sites is not None else default_sites()
    config = config or cfg.default_config()
    # F1: single-URL mode skips non-matching sites (main.py:76-78)
    if url:
        sites = [s for s in sites if url.startswith(s.url)]
        # F1/F2 pin the run to exactly this URL — link discovery
        # would silently widen it into a site crawl
        follow_links = False
    st = CrawlState(spark=spark, out_dir=out_dir,
                    world=_load_world(spark, world_dir,
                                      pages_table=pages_table),
                    sink=IndexSink(spark, os.path.join(out_dir, "index")),
                    sdf=sites_df(spark, sites),
                    batch_seconds=batch_seconds, order_mode=order_mode,
                    ckpt_full_every=ckpt_full_every, force=force)
    try:
        committed = _committed_batches(st.ckpt_root)
        enqueued = idx_filter = None
        if resume and committed:
            with open(os.path.join(out_dir, "run_meta.json")) as fh:
                crawl_time = datetime.fromisoformat(
                    json.load(fh)["crawl_time"])
            # rebuilt from the same prior sink and the SAME pinned
            # crawl_time, so discovered-candidate annotation replays
            st.not_due = _not_due(spark, recrawl_from, crawl_time)
            state = _resume_state(spark, st.ckpt_root, committed,
                                  follow_links)
            st.remaining, st.host_state, st.last_full = state[:3]
            st.metrics = load_run_metrics(out_dir)
            # a batch's row is flushed before its _COMMIT: rows of
            # batches past the last commit go, as the replay rewrites them
            kept = [m for m in st.metrics if m["batch"] <= committed[-1]]
            if len(kept) < len(st.metrics):
                _replace_file(os.path.join(out_dir, "metrics.jsonl"),
                              "".join(json.dumps(m) + "\n" for m in kept))
            st.metrics = kept
            st.flushed = len(st.metrics)  # new rows append after them
            st.batch_id = committed[-1] + 1
            if follow_links:
                enqueued = state[3].distinct().localCheckpoint(eager=True)
        else:
            crawl_time = crawl_time or DEFAULT_CRAWL_TIME
            st.not_due = _not_due(spark, recrawl_from, crawl_time)
            enqueued, idx_filter = _plan(st, world_dir, sites, url,
                                         crawl_time, follow_links)
        if follow_links:
            _start_discovery(st, sites, world_dir, enqueued, idx_filter)
        _crawl_batches(st, config, crawl_time, compact_every,
                       max_batches)
        return CrawlResult(out_dir=out_dir, batches=st.batch_id,
                           metrics=st.metrics, sink=st.sink)
    except BaseException:
        # join (and suppress secondary errors from) any outstanding
        # background task before propagating the primary failure: a
        # daemon thread mid-parquet-write must not race interpreter
        # teardown, and _COMMIT-last ordering means a joined-but-failed
        # write was never adopted
        for t in (st.pending, st.ckpt_writer, st.purge_writer,
                  st.filter_task):
            if t is not None:
                try:
                    t.join()
                except BaseException:   # noqa: BLE001 — secondary
                    pass
        raise


def _not_due(spark: SparkSession, recrawl_from: str | None,
             ct: datetime) -> DataFrame | None:
    """(loc) relation of not-yet-due urls per the prior sink's change
    history; None when the gate is off or the prior sink is empty.
    Narrow (url-only) relation; lazily checkpointed because the plan
    and discovery consume it repeatedly under different partitionings
    (the multi-consumer-sketch invariant). Epochs are UTC
    (calendar.timegm) to match Spark's unix_timestamp under the
    session's UTC timezone."""
    if not recrawl_from:
        return None
    import calendar

    from ftw_crawler_spark.operators.incremental import (
        change_observations, recrawl_schedule)
    log = IndexSink(spark, recrawl_from, read_only=True).op_log()
    if log is None:
        return None
    now_epoch = calendar.timegm(ct.utctimetuple())
    sched = recrawl_schedule(change_observations(log),
                             entity_col="url", ts_col="ts")
    return (sched.filter(F.col("next_due_epoch") > F.lit(now_epoch))
            .select(F.col("url").alias("loc"))
            .localCheckpoint(eager=False))


def _plan(st: CrawlState, world_dir: str, sites: list, url: str | None,
          crawl_time: datetime, follow_links: bool):
    """Plan step of a fresh run: base snapshot, sitemap frontier,
    purge, annotation, initial host state; the batch -1 snapshot is
    left writing in the background. Returns (enqueued, index filter):
    every annotated loc when ``follow_links`` (else None), and the seen
    filter over the base snapshot."""
    spark, sink, world = st.spark, st.sink, st.world
    # start from an empty checkpoint dir and delta log: a previous
    # attempt's tombstones, batches or markers must not survive into a
    # fresh run (checkpoints go first, so a crash here never leaves a
    # marker over a missing delta)
    shutil.rmtree(st.ckpt_root, ignore_errors=True)
    shutil.rmtree(sink.delta_root, ignore_errors=True)
    os.makedirs(st.ckpt_root)
    with open(os.path.join(st.out_dir, "run_meta.json"), "w") as fh:
        json.dump({"crawl_time": crawl_time.isoformat()}, fh)
    jl = os.path.join(st.out_dir, "metrics.jsonl")
    if os.path.exists(jl):
        os.remove(jl)
    t0 = time.perf_counter()
    sink.write_base_files(f"{world_dir}/index0.parquet")
    base = spark.read.parquet(sink.base_path)   # the pre-run snapshot
    # the indexed-url seen filter depends only on the base snapshot
    # just written — build it on a thread so its job overlaps the
    # sitemap parse below (which runs a handful of per-site tasks and
    # leaves most cores idle)
    st.filter_task = _BgTask(seen.IncrementalUrlFilter,
                             base.select("url"), "url",
                             _parquet_rows(sink.base_path))

    # P2 per-site error isolation (main.py:80-88): a site whose sitemap
    # discovery fails is recorded and skipped; the rest of the run
    # proceeds. The error metrics row is the analog of the reference's
    # failure notification (slack.py:15-61).
    site_errors: list = []
    scratch: list = []
    frontier = build_frontier(spark, sites, world["sitemaps"],
                              errors=site_errors, scratch=scratch).cache()
    for err in site_errors:
        st.metrics.append({"batch": -1, "event": "site_error", **err})

    # purge BEFORE crawling, on the full sitemap membership even in
    # single-URL mode (main.py:102 runs before the URL filter) — but
    # ONLY for sites whose sitemaps resolved: the reference purges
    # inside the per-site try block, so a dead site's docs are never
    # purged (its membership is unknown, not empty). It diffs against
    # the pre-run base snapshot, as the annotation below does: with the
    # delta log cleared above, sink.current() is that snapshot, resolved
    # (its shuffle writes the tombstones as one file, where the raw
    # base scan wrote one per base split)
    failed_ids = {e["site_id"] for e in site_errors}
    ok_sdf = sites_df(
        spark, [s for s in sites if s.site_id not in failed_ids])
    purged = purge_candidates(sink.current(), ok_sdf, frontier)
    # the tombstone write touches only the sink's delta dir while the
    # annotation reads only the base snapshot — the two jobs are
    # independent, so the purge write runs under the annotate job. The
    # error-collect inside build_frontier already warmed the
    # parsed-entries cache both jobs re-read.
    st.purge_writer = _BgTask(sink.append_deletes, purged, 0)
    t_purge = time.perf_counter()

    if url:
        frontier = frontier.filter(F.col("loc") == url)  # F2

    # persist: three consumers below (skip metrics, the remaining
    # snapshot, initial host state) would otherwise each re-run the
    # bloom-probe + last-indexed join over the whole frontier
    idx_filter = st.filter_task.join()
    annotated = _annotate_frontier(
        frontier, world, base, st.sdf, st.force, index_filter=idx_filter,
        not_due=st.not_due).persist()

    # materialize the frontier ONCE executor-side (this scan also fills
    # the annotated cache, so the skip-metrics count below is a cheap
    # cached pass) and hand the parquet snapshot write to a background
    # thread: the batch-0 schedule consumes the identical
    # localCheckpointed rows, so the frontier-sized write + its commit
    # happen while batch 0 is already crawling
    st.remaining = annotated.filter(
        F.col("skip_reason").isNull()).localCheckpoint(eager=True)
    skips = {r["skip_reason"]: r["n"] for r in
             annotated.filter(F.col("skip_reason").isNotNull())
             .groupBy("skip_reason").count()
             .withColumnRenamed("count", "n").collect()}
    enqueued = None
    if follow_links:
        # the discover step's enqueued set: every frontier loc,
        # INCLUDING skipped ones (a re-discovered row annotates WITHOUT
        # its sitemap lastmod, so e.g. a not_modified skip would come
        # back crawlable). Persisted once, O(frontier) locs like the
        # batch -1 snapshot, because skipped locs live nowhere else on
        # disk and resume needs them.
        enqueued = annotated.select("loc").localCheckpoint(eager=True)
        enqueued.write.mode("overwrite").parquet(
            os.path.join(st.ckpt_root, "enqueued0"))
    st.metrics.append({"batch": -1, "event": "plan", "skips": skips,
                       "sec_frontier_purge": round(t_purge - t0, 3),
                       "sec_annotate":
                       round(time.perf_counter() - t_purge, 3)})

    # robots Crawl-delay (de-facto REP extension) raises a host's
    # effective sleeptime above the site config's value
    delays = (robots.robots_crawl_delays(world["robots"])
              if world.get("robots") is not None else None)
    st.host_state = politeness.initial_host_state(
        st.remaining, st.sdf, crawl_delays=delays).localCheckpoint(
            eager=True)
    st.ckpt_writer = _BgTask(_write_ckpt, st.ckpt_root, -1, st.remaining,
                             st.host_state)
    st.purge_writer.join()
    # both consumers of the parsed-entries intermediate (purge,
    # annotate) are done — drop it with the frontier caches
    for df in scratch:
        df.unpersist()
    annotated.unpersist()
    frontier.unpersist()
    return enqueued, idx_filter


def _start_discovery(st: CrawlState, sites: list, world_dir: str,
                     enqueued: DataFrame, index0_filter) -> None:
    """Set up the discover step over the enqueued set (a checkpointed
    relation of every loc ever put on the frontier)."""
    from urllib.parse import urlsplit

    # host → site dim for scoping + site_id assignment of discovered
    # urls (two sites on one host: min site_id wins, deterministically).
    # Keyed on the HOSTNAME (no port) so it joins the same lower(parse_url
    # HOST) derivation sitemap rows, host_state and _annotate_discovered
    # use — all ports of a host are one politeness host
    host_site: dict[str, int] = {}
    for s in sites:
        h = (urlsplit(s.url).hostname or "").lower()
        host_site[h] = min(host_site.get(h, s.site_id), s.site_id)
    st.host_dim = st.spark.createDataFrame(
        sorted(host_site.items()), "host string, site_id int")
    # discovered rows annotate against the immutable PRE-RUN index
    # (world index0): sink.base_path is rewritten by mid-run compaction.
    # A fresh run hands over the plan's filter — the base snapshot is a
    # verbatim copy of index0, so url set and geometry match
    st.index0_rows = _parquet_rows(f"{world_dir}/index0.parquet")
    st.index0_filter = index0_filter
    st.enqueued = enqueued
    # geometry pinned once, sized 4× the initial set (a production run
    # budgets its expected discovery volume here); sizing overflow
    # stays exact through the anti-join backstop in
    # candidates_from_links
    st.enq_filter = seen.IncrementalUrlFilter(
        enqueued.select(canonical_url_col(F.col("loc")).alias("url")),
        "url", expected_items=max(4 * enqueued.count(), 1024), fpp=0.03)


def _crawl_batches(st: CrawlState, config: cfg.CrawlerConfig,
                   crawl_time: datetime, compact_every: int | None,
                   max_batches: int | None) -> None:
    """The batch loop. The next schedule is prefetched while the
    current batch extracts: right after the state transition, or — when
    the discover step is present — after extraction, since it depends
    on this batch's outlinks."""
    st.pending = _BgTask(_schedule, st)
    n_batches = 0
    while True:
        t0 = time.perf_counter()
        batch, per_host = st.pending.join()
        _commit(st)
        admitted = sum(per_host.values())
        # empty schedule ⇒ remaining frontier is exhausted (capacity is
        # ≥1 per host, so a non-empty frontier always admits rows)
        if admitted == 0 or (max_batches is not None
                             and n_batches >= max_batches):
            batch.unpersist()
            break
        _transition(st, batch)
        if not st.discovering:
            st.pending = _BgTask(_schedule, st)
        t_sched = time.perf_counter()

        docs = _extract_sink(st, batch, config, crawl_time)
        # count from the written delta's parquet FOOTERS, driver-side —
        # a docs.count() would re-run the whole extraction stage
        indexed = _parquet_rows(
            os.path.join(st.sink.delta_root, f"batch={st.batch_id}"))
        if st.discovering:
            st.pending = _BgTask(_discover_schedule, st, docs)
        t_extract = time.perf_counter()

        # MOR maintenance: fold the delta log into the base when it
        # exceeds the generation or byte budget (read-side LWW window
        # stays bounded however long the crawl runs)
        compacted = st.sink.should_compact(compact_every)
        if compacted:
            st.sink.compact()
        st.metrics.append({"batch": st.batch_id, "admitted": admitted,
                           "indexed": indexed, "compacted": compacted,
                           "per_host_admitted": per_host,
                           "sec_schedule": round(t_sched - t0, 3),
                           "sec_extract_sink":
                           round(t_extract - t_sched, 3),
                           "sec_checkpoint":
                           round(time.perf_counter() - t_extract, 3)})
        _flush_metrics(st)
        batch.unpersist()
        st.batch_id += 1
        n_batches += 1
    if st.ckpt_writer is not None:
        st.ckpt_writer.join()
    # the final batch's discovery event lands after its per-batch
    # flush — flush the tail so the on-disk metrics match
    # CrawlResult.metrics and a later resume keeps it
    _flush_metrics(st)


def _schedule(st: CrawlState):
    """Schedule step: materialize one politeness batch plus its
    admission metric — ONE job fills the cache AND yields the per-host
    counts (north-rule lineage metric). Runs on the prefetch thread: the
    schedule is a pure function of (remaining, host_state), both known
    before the previous batch extracts."""
    b = politeness.select_batch(st.remaining, st.host_state,
                                st.batch_seconds,
                                order_mode=st.order_mode).cache()
    ph = {r["host"]: r["n"] for r in
          b.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()}
    return b, ph


def _transition(st: CrawlState, batch: DataFrame) -> None:
    """State transition of the current batch — a pure function of it
    (politeness 429 doubling + the processed-set anti-join), so it runs
    before extraction and the next schedule can be prefetched meanwhile.
    The tiny localCheckpoints pin the exact rows the prefetch and the
    checkpoint writer consume. Stages the batch's checkpoint."""
    hs_prev = st.host_state  # the delta writer keeps only changed hosts
    st.host_state = politeness.updated_host_state(
        st.host_state, batch.filter(F.col("n_429") > 0)
    ).localCheckpoint(eager=True)
    is_full = st.batch_id - st.last_full >= st.ckpt_full_every
    if is_full:
        # periodic full snapshot: the localCheckpoint truncates the
        # anti-join lineage chain executor-side
        st.remaining = st.remaining.join(
            batch.select("crawl_seq"), "crawl_seq", "left_anti"
        ).localCheckpoint(eager=True)
        processed = None
        st.last_full = st.batch_id
    else:
        processed = batch.select("crawl_seq").localCheckpoint(eager=True)
        st.remaining = st.remaining.join(processed, "crawl_seq",
                                         "left_anti")
    st.staged = (st.batch_id, is_full, processed, hs_prev)


def _extract_sink(st: CrawlState, batch: DataFrame,
                  config: cfg.CrawlerConfig,
                  crawl_time: datetime) -> DataFrame:
    """Extract+sink step: fetch join → extraction → upsert append.
    Returns the extracted docs; with the discover step present they
    carry ``__outlinks`` and stay cached (the sink write fills the
    cache and discovery reads it — page bytes are read and DOM-parsed
    once per batch; the discover step releases it)."""
    resources = _batch_resources(batch, st.world, st.sdf)
    # extraction is CPU-dense per byte (one DOM parse per row); AQE's
    # byte-based coalescing would pack the whole batch into a few
    # partitions and idle the cluster — spread it explicitly
    resources = resources.repartition(
        st.spark.sparkContext.defaultParallelism)
    docs = extract_documents(
        resources, config, crawl_time,
        passthrough=("crawl_seq", "site_id", "__csid"),
        emit_outlinks=st.discovering)
    # crawler_site_id injection (main.py:152-153)
    docs = (docs.withColumn("crawler_site_id", F.col("__csid"))
            .drop("__csid")
            .withColumn("op_seq", F.col("crawl_seq"))
            .withColumn("batch_id", F.lit(st.batch_id))
            .withColumn("url", F.col(config.url_field)))
    if config.unique_field != "UID":
        docs = docs.withColumn("UID", F.col(config.unique_field))
    if st.discovering:
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    st.sink.append_upserts(docs.drop("__outlinks"), st.batch_id)
    return docs


def _discover_schedule(st: CrawlState, docs: DataFrame):
    """Discover step, then the next schedule — one prefetch unit, so the
    schedule stays a pure function of the post-discovery frontier
    (resume replays it exactly). The batch's outlinks are anti-joined
    against the enqueued set, annotated like sitemap rows — one linear
    plan over the per-run dimensions — admitted (counted and
    added to the enqueued filter in one job where the filter's form
    allows) and unioned into ``remaining``."""
    links = docs.select(F.col("url").alias("src_url"),
                        F.explode("__outlinks").alias("dst_url"))
    cand = linkgraph.candidates_from_links(
        links, st.enqueued, known_url_col="loc",
        scope_hosts=st.host_dim.select("host"), drop_traps=True,
        known_bloom=st.enq_filter)
    if st.index0_filter is None:
        # lazy: a resumed run that never discovers skips the O(index)
        # build; built once, then shared by every discovering batch
        st.index0_filter = seen.IncrementalUrlFilter(
            st.world["index0"].select("url"), "url",
            expected_items=st.index0_rows)
    if st.last0 is None:
        # the other per-run dimensions, lazily checkpointed: the first
        # annotation job below materializes them, every later batch's
        # plan points at their blocks instead of re-planning the index0
        # scan + aggregate and the robots parse UDF
        st.last0 = last_indexed_relation(
            st.world["index0"], st.sdf).localCheckpoint(eager=False)
        rules = _robots_rules(st.world)
        st.robots_rules = (rules.localCheckpoint(eager=False)
                           if rules is not None else None)
    # lazy checkpoint: the admission job below materializes it, so
    # plan-run + checkpoint + counts are ONE job
    ann = _annotate_discovered(
        cand, st.world, st.host_dim, st.force,
        index_filter=st.index0_filter, last0=st.last0,
        rules=st.robots_rules,
        not_due=st.not_due).localCheckpoint(eager=False)
    n_new, n_disc = st.enq_filter.admit(
        ann.withColumn("__curl", canonical_url_col(F.col("loc"))),
        "__curl", "skip_reason")
    docs.unpersist()
    disc = None
    if n_new:
        # lazy union of checkpointed segments — no frontier-sized copy
        # per batch; an eager compaction every ckpt_full_every segments
        # bounds the union fan-in
        st.enqueued = st.enqueued.unionByName(ann.select("loc"))
        st.enq_segments += 1
        if st.enq_segments >= st.ckpt_full_every:
            st.enqueued = st.enqueued.localCheckpoint(eager=True)
            st.enq_segments = 0
    if n_disc:
        # a plain filter over ann's checkpointed blocks; the full-
        # checkpoint cadence compacts `remaining`
        disc = (ann.filter(F.col("skip_reason").isNull())
                .select(*st.remaining.columns))
        st.remaining = st.remaining.unionByName(disc)
    st.found = (disc, n_new, n_disc)
    return _schedule(st)


def _commit(st: CrawlState) -> None:
    """Commit step: write the staged checkpoint of the last batch, now
    that its discoveries (if any) are known — a full snapshot includes
    the grown frontier, a delta carries the discovered rows the resume
    replay must re-add. One writer outstanding at a time: batch K's
    marker is written before batch K+1's, so the committed batches are
    always a prefix (resume's delta replay assumes it)."""
    if st.staged is None:
        return
    bid, is_full, processed, hs_prev = st.staged
    disc, n_cand, n_disc = st.found or (None, 0, 0)
    st.staged = st.found = None
    if n_cand or n_disc:
        st.metrics.append({"batch": bid, "event": "discovery",
                           "candidates": n_cand, "enqueued": n_disc})
    if st.ckpt_writer is not None:
        st.ckpt_writer.join()
    if is_full:
        st.ckpt_writer = _BgTask(_write_ckpt, st.ckpt_root, bid,
                                 st.remaining, st.host_state)
    else:
        st.ckpt_writer = _BgTask(_write_delta_ckpt, st.ckpt_root, bid,
                                 processed, st.host_state, disc, hs_prev)


def _flush_metrics(st: CrawlState) -> None:
    """Append the metrics rows not yet on disk to metrics.jsonl:
    O(new rows) per call, never a rewrite of the whole history."""
    if st.flushed == len(st.metrics):
        return
    with open(os.path.join(st.out_dir, "metrics.jsonl"), "ab+") as fh:
        # repair a torn tail (crash mid-append left no newline): without
        # this the next row glues onto the fragment and BOTH lines are
        # lost to the loader's torn-line skip
        fh.seek(0, os.SEEK_END)
        if fh.tell() > 0:
            fh.seek(-1, os.SEEK_END)
            if fh.read(1) != b"\n":
                fh.write(b"\n")
        for m in st.metrics[st.flushed:]:
            fh.write((json.dumps(m) + "\n").encode())
    st.flushed = len(st.metrics)


class _BgTask:
    """Background task: runs one call (a checkpoint/sink write, or the
    next batch's schedule job) on a thread so it overlaps the current
    phase's work; ``join()`` returns the call's result and re-raises
    any failure (a silently lost write would break crash-resume / the
    purge contract)."""

    def __init__(self, fn, *args):
        self._exc = None
        self._result = None

        def run():
            try:
                self._result = fn(*args)
            except BaseException as exc:   # noqa: BLE001 — re-raised
                self._exc = exc

        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()

    def join(self):
        self._t.join()
        if self._exc is not None:
            raise self._exc
        return self._result


def _parquet_rows(d: str) -> int:
    """Total row count of a parquet dir from file footers alone — no
    Spark job (one metadata read per part file; a batch writes a
    bounded number of parts, so this is O(parallelism) tiny reads)."""
    import glob

    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(d, "*.parquet")))


# ---------------------------------------------------------------------------
# checkpoints
# ---------------------------------------------------------------------------


def _write_ckpt(root: str, batch_id: int, remaining: DataFrame,
                host_state: DataFrame) -> None:
    """Full snapshot (batch -1 + every ckpt_full_every batches): the
    remaining frontier + host rows folded into ONE parquet write (one
    Spark job, one commit — same shape as the delta checkpoint; fixed
    per-job driver latency is the sandbox pipeline's dominant cost).
    Row kinds are distinguished by the null pattern: frontier rows
    carry crawl_seq, host rows carry (host, __hs_sleeptime)."""
    d = os.path.join(root, f"batch={batch_id}")
    combined = remaining.withColumn(
        "__hs_sleeptime", F.lit(None).cast("double")).unionByName(
        host_state.select(
            "host", F.col("sleeptime").alias("__hs_sleeptime")),
        allowMissingColumns=True)
    combined.write.mode("overwrite").parquet(os.path.join(d, "state"))
    _replace_file(os.path.join(d, "_COMMIT"), "full")


def _replace_file(path: str, text: str) -> None:
    """Write ``text`` to ``path`` all or nothing: a temp file beside it,
    then an atomic rename. A crash leaves no file (or the old one) or
    the whole new one — never an empty ``_COMMIT`` that
    ``_committed_batches`` would count with no kind in it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _ckpt_kind(root: str, batch_id: int) -> str:
    """'full' | 'delta' for a COMMITTED batch dir, as recorded in its
    _COMMIT marker at commit time — never re-derived from directory
    layout or from the current ``ckpt_full_every`` argument: a resume
    with a different cadence must still classify historical batches
    correctly."""
    with open(os.path.join(root, f"batch={batch_id}", "_COMMIT")) as fh:
        return fh.read().strip()


def _read_ckpt(spark: SparkSession, root: str, batch_id: int):
    st = spark.read.parquet(os.path.join(root, f"batch={batch_id}",
                                         "state"))
    return (st.filter(F.col("crawl_seq").isNotNull())
            .drop("__hs_sleeptime"),
            st.filter(F.col("crawl_seq").isNull())
            .select("host",
                    F.col("__hs_sleeptime").alias("sleeptime")))


def _write_delta_ckpt(root: str, batch_id: int, processed: DataFrame,
                      host_state: DataFrame,
                      discovered: DataFrame | None = None,
                      prev_host_state: DataFrame | None = None) -> None:
    """Delta checkpoint: the batch's processed crawl_seq set (politeness-
    capped — tiny) + host state + (follow-links mode) the batch's
    link-discovered frontier rows, folded into ONE parquet write (one
    Spark job, one commit — the fixed per-job driver latency is the
    sandbox pipeline's dominant cost, BASELINE.md). Row kinds are
    distinguished by the null pattern: processed rows carry crawl_seq
    with NULL loc, discovered rows carry crawl_seq AND loc (the full
    annotated frontier schema — the frontier GROWS between fulls, so
    the resume replay must re-add them), host rows carry (host,
    sleeptime) with NULL crawl_seq. O(batch) bytes, not O(frontier).

    ``prev_host_state``: the pre-transition host relation — when given,
    only host rows whose sleeptime CHANGED this batch are written (the
    429-doubled hosts, a handful), not the whole O(hosts) relation:
    at 10^8 hosts a full copy per delta is O(hosts × batches) write
    amplification for state that is immutable outside 429s. Resume
    overlays delta host rows onto the last full snapshot last-wins per
    host (_resume_state)."""
    d = os.path.join(root, f"batch={batch_id}")
    hs = host_state
    if prev_host_state is not None:
        prev = prev_host_state.select(
            "host", F.col("sleeptime").alias("__prev"))
        hs = (host_state.join(prev, "host", "left")
              .filter(F.col("__prev").isNull()
                      | (F.col("sleeptime") != F.col("__prev")))
              .select("host", "sleeptime"))
    combined = processed.select(
        "crawl_seq",
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("double").alias("sleeptime"),
    ).unionByName(hs.select(
        F.lit(None).cast("long").alias("crawl_seq"),
        "host", "sleeptime"))
    if discovered is not None:
        combined = combined.unionByName(
            discovered.withColumn("sleeptime",
                                  F.lit(None).cast("double")),
            allowMissingColumns=True)
    combined.write.mode("overwrite").parquet(os.path.join(d, "state"))
    _replace_file(os.path.join(d, "_COMMIT"), "delta")


def _resume_state(spark: SparkSession, root: str, committed: list,
                  follow_links: bool = False):
    """Reconstruct (remaining, host_state, last_full) from the last
    committed full snapshot plus the deltas after it. With
    ``follow_links`` a fourth item is the enqueued set (with
    duplicates): ``enqueued0`` (every annotated plan-phase loc,
    skipped ones included), the frontier of every full after -1 (rows
    still pending then, discovered ones included) and the rows every
    delta discovered — so every enqueued url is on disk whenever it was
    crawled. Discovered-but-skipped candidates are the only
    under-approximation: they re-annotate exactly as on first discovery
    → the same skip, never a crawl. (``sink.current()`` would
    over-approximate: failed-site docs survive the purge without ever
    being enqueued, and seeding them would DROP candidates an
    uninterrupted run crawls.)"""
    kinds = {b: _ckpt_kind(root, b) for b in committed}
    last_full = max(b for b in committed if kinds[b] == "full")
    remaining, host_state = _read_ckpt(spark, root, last_full)
    enqueued = None
    if follow_links:
        enqueued = spark.read.parquet(os.path.join(root, "enqueued0"))
        for b in committed:
            if kinds[b] == "full" and b >= 0:
                rows = (remaining if b == last_full
                        else _read_ckpt(spark, root, b)[0])
                enqueued = enqueued.unionByName(rows.select("loc"))
    deltas = [b for b in committed if kinds[b] == "delta"
              and (follow_links or b > last_full)]
    if deltas:
        # one scan over every delta needed; each row tagged with its
        # batch id, parsed from the file path (anchored to the state
        # dir segment: a bare "batch=(\d+)/" would match an out_dir
        # that itself contains a batch=<n>/ directory). mergeSchema:
        # follow-links deltas carry the full annotated frontier schema
        # for discovered rows, plain ones only (crawl_seq, host,
        # sleeptime)
        st = (spark.read.option("mergeSchema", "true")
              .parquet(*[os.path.join(root, f"batch={b}", "state")
                         for b in deltas])
              .withColumn("__b", F.regexp_extract(
                  F.input_file_name(), r"batch=(-?\d+)/state/", 1)
                  .cast("long")))
        after = st.filter(F.col("__b") > last_full)
        processed = after.filter(F.col("crawl_seq").isNotNull())
        if "loc" in st.columns:
            # discovered rows (crawl_seq AND loc non-null) GROW the
            # frontier between fulls — re-add them before the processed
            # anti-join (a discovered row later processed is removed by
            # the anti-join as usual)
            disc = st.filter(F.col("crawl_seq").isNotNull()
                             & F.col("loc").isNotNull())
            if follow_links:
                enqueued = enqueued.unionByName(disc.select("loc"))
            remaining = remaining.unionByName(
                disc.filter(F.col("__b") > last_full)
                .select(*remaining.columns))
            processed = processed.filter(F.col("loc").isNull())
        remaining = remaining.join(processed.select("crawl_seq"),
                                   "crawl_seq", "left_anti")
    if committed[-1] > last_full:
        # deltas persist only the host rows that CHANGED at their
        # batch: overlay them onto the full snapshot, last wins
        host_state = (host_state.withColumn("__b", F.lit(last_full))
                      .unionByName(after.filter(
                          F.col("crawl_seq").isNull())
                          .select("host", "sleeptime", "__b"))
                      .groupBy("host")
                      .agg(F.max_by("sleeptime", "__b")
                           .alias("sleeptime")))
    out = (remaining, host_state, last_full)
    return out + (enqueued,) if follow_links else out


def _committed_batches(root: str) -> list:
    out = []
    if not os.path.isdir(root):
        return out
    for name in os.listdir(root):
        if name.startswith("batch=") and os.path.exists(
                os.path.join(root, name, "_COMMIT")):
            out.append(int(name.split("=", 1)[1]))
    return sorted(b for b in out)
