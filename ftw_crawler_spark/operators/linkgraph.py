"""Web link-graph operators: outlink extraction, degrees, PageRank.

Large-scale webtext pipelines use link-graph features — in/out
degree, PageRank-style centrality — as URL-level quality signals for
corpus filtering and crawl prioritization (the Common-Crawl ecosystem
publishes exactly these per-host ranks). The reference crawler is
sitemap-driven and never parses anchors (no link extraction anywhere
in ftw/crawler), so this family is new surface designed Spark-first:

- ``extract_outlinks``: per-page ``<a href>`` parse (the extraction
  engine's own stdlib DOM, functions/html.py ``parse_html``) as an
  Arrow-batched ``mapInPandas`` — the DOM parse is the same slow path
  as the extraction engine and shares its posture: per-row error
  isolation (an unparseable page yields zero links, never a failed
  task), page bytes stay executor-side, one output row per (page,
  link). Hrefs resolve against the page url (RFC 3986 join, honoring
  ``<base href>``); non-fetchable schemes (mailto/javascript/tel/
  data) and pure-fragment hrefs are dropped; fragments are stripped
  (reference util parity not applicable — new surface).
- ``discover_frontier``: the link-following discovery path (outlinks
  → canonicalize → scope filter → sharded seen split + exact
  anti-join) producing new crawl candidates with an in-reference
  priority signal — the frontier-expansion move a webtext-scale
  crawler makes that the sitemap-driven reference never needed.
- ``degrees``: out/in degree per node — two aggregations with
  map-side combine and one outer join on the node key.
- ``pagerank``: fixed-iteration power method. One shuffle per
  iteration (``groupBy(dst)``); contributions are summed in
  DECIMAL(28,12) so the result is bit-reproducible cross-engine
  (double sums are order-dependent; decimal sums are not — the same
  trick that makes ``similarity.kmeans_refine`` oracle-exact);
  dangling mass stays in the plan as a broadcast 1-row aggregate
  (no per-iteration driver round-trip — the whole ``n_iter`` loop is
  ONE lazy plan evaluated by the final action);
  per-round ``localCheckpoint(eager=False)`` keeps lineage flat so
  round t+1 never replays rounds 1..t.

100-TB posture: the edge relation only ever shuffles on its own keys
(src for out-degree, dst for the contribution sum) — never an
all-pairs product; per-iteration state is one (node, pr) row per
node; hub nodes with huge in-degree are absorbed by the map-side
partial decimal sums (per-partition combine before the shuffle), the
same skew story as the host-counts aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark.functions.urls import canonical_url_col, url_trap_cols
from ftw_crawler_spark.operators import seen

LINKS_SCHEMA = T.StructType([
    T.StructField("src_url", T.StringType()),
    T.StructField("dst_url", T.StringType()),
    T.StructField("anchor", T.StringType()),
])

# non-fetchable href schemes are filtered in functions/html.doc_outlinks
# (_SKIP_LINK_SCHEMES) — the DOM-level walk shared with the extraction
# engine's per-row parse


def parse_outlinks(html_bytes: bytes | None,
                   base_url: str | None) -> list:
    """(resolved_href, anchor_text) pairs from one HTML page, document
    order, duplicates kept (the caller decides whether multiplicity
    matters). Plain Python so tests and oracles can call it row-wise;
    the Spark path Arrow-batches it in ``extract_outlinks``. The
    DOM-level walk lives in functions/html.doc_outlinks so the
    extraction engine's per-row parse is SHARED when the crawl loop
    follows links (one page read, one parse, documents + outlinks
    out — the posture that matters when page bytes are the dominant
    cost)."""
    if not html_bytes or base_url is None:
        return []
    from ftw_crawler_spark.functions.html import doc_outlinks, parse_html
    try:
        doc = parse_html(html_bytes)
    except Exception:
        return []
    return doc_outlinks(doc, base_url)


def extract_outlinks(pages: DataFrame, url_col: str = "url",
                     html_col: str = "html") -> DataFrame:
    """(src_url, dst_url, anchor) — one row per anchor on each page.

    Arrow-batched executor-side parse; an unparseable page contributes
    zero rows (per-row isolation, same posture as the extraction
    engine's DOM path). Self-links survive — dedup/filtering is the
    graph builder's call (``build_edges``)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf[url_col], pdf[html_col]):
                raw = bytes(blob) if blob is not None else None
                for dst, anchor in parse_outlinks(raw, url):
                    rows.append((url, dst, anchor))
            yield pd.DataFrame(
                rows, columns=["src_url", "dst_url", "anchor"])

    return (pages.select(url_col, html_col)
            .mapInPandas(gen, schema=LINKS_SCHEMA))


def discover_frontier(pages: DataFrame, known: DataFrame,
                      url_col: str = "url", html_col: str = "html",
                      known_url_col: str = "url",
                      scope_hosts: DataFrame | None = None,
                      drop_traps: bool = False,
                      expected_known: int | None = None) -> DataFrame:
    """(loc, n_refs) — new crawl candidates found by following anchors.

    The link-following discovery path the sitemap-driven reference has
    no analog for (its frontier is exactly the sitemap urlset,
    main.py:99-162): parse every page's outlinks, canonicalize them
    (functions/urls.py — alias variants collapse BEFORE the seen
    check), optionally keep only in-scope hosts, then drop everything
    already known via the sharded bloom pre-filter + exact anti-join
    (operators/seen.py — no false negatives; task memory O(shard) at
    the 10^10-URL design point). ``n_refs`` is the candidate's
    in-reference count within the scanned page set — a crawl-priority
    signal (well-linked pages first), which is why the aggregation
    happens here rather than a plain distinct.

    Both sides of the membership check are compared in CANONICAL form,
    so ``http://h/p#frag`` in a page never re-queues an already-crawled
    ``http://h/p``. One shuffle (the groupBy) plus the seen split's
    probe; the page bytes never leave the extraction tasks.
    """
    links = extract_outlinks(pages, url_col=url_col, html_col=html_col)
    return candidates_from_links(links, known,
                                 known_url_col=known_url_col,
                                 scope_hosts=scope_hosts,
                                 drop_traps=drop_traps,
                                 expected_known=expected_known)


def candidates_from_links(links: DataFrame, known: DataFrame,
                          known_url_col: str = "url",
                          scope_hosts: DataFrame | None = None,
                          drop_traps: bool = False,
                          expected_known: int | None = None,
                          known_bloom=None) -> DataFrame:
    """``discover_frontier`` minus the parse: (src_url, dst_url) link
    rows → (loc, n_refs) new candidates. This is the entry point the
    crawl loop uses — its outlinks come out of the extraction engine's
    shared DOM parse (operators/extraction.py ``emit_outlinks``), so
    page bytes are read and parsed exactly once per batch.

    ``drop_traps``: apply the crawler-trap gate
    (functions/urls.url_trap_cols — loop/depth/parameter-explosion
    signals) on the CANONICAL form before the seen split, so trap URLs
    never reach the membership probe, the frontier, or the politeness
    budget.

    ``known_bloom``: a caller-maintained INCREMENTAL filter over the
    canonical known set — a ``seen.IncrementalUrlFilter`` (the crawl
    loop's form: build-once + O(batch) ``add`` deltas, serving form
    picked internally), or the raw serialized bytes / a
    ``(shards_relation, shape)`` pair for callers holding one of the
    primitive forms. When given, the per-call bloom build over the
    whole known relation is skipped entirely, and ``expected_known``
    is unused (sizing was pinned when the filter was built). The
    filter MUST contain every known url (no-false-negative contract —
    a miss would re-enqueue a seen url); the exact anti-join backstop
    below keeps results bit-identical either way, even if the filter
    oversaturates past its sizing.

    An ``IncrementalUrlFilter`` gates the anti-join instead of
    splitting the plan: ``LEFT ANTI JOIN known ON loc = url AND
    __maybe_seen`` — the candidates (outlink explode, canonicalization,
    probe) are planned and run once. The candidate side is batch-sized
    and the known side is read whole either way, so a split would save
    no shuffle here."""
    cand = (links
            .select(canonical_url_col(F.col("dst_url")).alias("loc"))
            .groupBy("loc").agg(F.count(F.lit(1)).alias("n_refs")))
    if drop_traps:
        cand = cand.filter(~url_trap_cols(F.col("loc"))["trap"])
    if scope_hosts is not None:
        # HOSTNAME (no port), matching the derivation every other host
        # column in the pipeline uses (sitemap rows, host_state,
        # _annotate_discovered all key on lower(parse_url HOST)) — a
        # port-suffixed key here would silently zero out discovery for
        # sites configured with an explicit port
        hcol = scope_hosts.columns[0]
        host = F.lower(F.parse_url(F.col("loc"), F.lit("HOST")))
        cand = (cand.withColumn("__host", host)
                .join(F.broadcast(scope_hosts.select(
                    F.lower(F.col(hcol)).alias("__host"))), "__host",
                    "left_semi")
                .drop("__host"))
    # no distinct: both consumers are duplicate-insensitive (bloom
    # bit-sets and the left_anti backstop), and a distinct here would
    # re-shuffle the O(frontier) known set on every per-batch call
    known_urls = known.select(
        canonical_url_col(F.col(known_url_col)).alias("url"))
    if isinstance(known_bloom, seen.IncrementalUrlFilter):
        marked = known_bloom.mark(cand, "loc")
        return (marked.join(known_urls,
                            (F.col("loc") == F.col("url"))
                            & F.col("__maybe_seen"), "left_anti")
                .drop("__maybe_seen"))
    if known_bloom is None:
        new, maybe = seen.split_by_index(cand, known_urls, "loc", "url",
                                         expected_items=expected_known)
    elif isinstance(known_bloom, (bytes, bytearray)):
        new, maybe = seen.split_by_bloom(cand, bytes(known_bloom),
                                         "loc")
    else:
        rel, shape = known_bloom
        new, maybe = seen.split_by_bloom_relation(cand, rel, shape,
                                                  "loc")
    confirmed = maybe.join(
        known_urls.select(F.col("url").alias("loc")), "loc", "left_anti")
    return new.unionByName(confirmed)


def anchor_text_profile(links: DataFrame, k: int = 3,
                        src: str = "src_url", dst: str = "dst_url",
                        anchor: str = "anchor",
                        salt_buckets: int | None = 16) -> DataFrame:
    """(dst_url, n_anchor_refs, n_distinct_anchors, top_anchors) — the
    incoming-anchor profile per target URL: what the web *calls* each
    page. The classic off-page signal a webtext pipeline derives from
    the link graph (anchor-based titles for unfetched URLs, quality/
    language voting, query-independent relevance) — the aggregation
    half of ``extract_outlinks``'s (src, dst, anchor) rows.

    Semantics: anchors are normalized (lower-cased, whitespace
    collapsed); empty/whitespace-only anchors and self-links are
    dropped — and so is any row whose src OR dst is NULL (the
    ``src != dst`` predicate is deliberately null-rejecting: a link
    with an unknown endpoint cannot be cleared of being a self-link,
    and the SQL oracle's ``src <> dst`` drops the same rows);
    ``top_anchors`` is the k most frequent normalized anchors
    as array<struct<anchor,n>> in (count desc, anchor asc) order —
    fully deterministic, no task-order dependence.

    100-TB posture: one map-side-combined count shuffle on
    (dst, anchor_norm); totals are a second narrow agg on dst. The
    per-dst top-k is the same EXACT salted two-phase rank as
    ``sampling.stratified_sample`` / the politeness scheduler — a
    homepage can carry millions of distinct anchors, so a single
    ``Window.partitionBy(dst)`` would funnel the head target through
    one task; with S salt buckets every global top-k row is within its
    bucket's top-k, so the two-phase result is identical (pinned by
    test_linkgraph's equivalence test). ``salt_buckets=None`` disables
    the pre-phase (tiny inputs / the oracle form).
    """
    from pyspark.sql import Window

    anorm = F.regexp_replace(
        F.trim(F.lower(F.col(anchor))), r"\s+", " ")
    counts = (links
              .filter(F.col(src) != F.col(dst))
              .select(F.col(dst).alias("dst_url"),
                      anorm.alias("__a"))
              .filter(F.col("__a").isNotNull() & (F.col("__a") != ""))
              .groupBy("dst_url", "__a")
              .agg(F.count(F.lit(1)).alias("__n"))
              # two consumers (totals, top-k) with different downstream
              # partitionings re-run the whole count shuffle otherwise
              # (no ReusedExchange) — the same computed-sketch pattern
              # dedup's simhash/minhash relations checkpoint lazily
              .localCheckpoint(eager=False))
    stats = counts.groupBy("dst_url").agg(
        F.sum("__n").alias("n_anchor_refs"),
        F.count(F.lit(1)).alias("n_distinct_anchors"))
    order = [F.col("__n").desc(), F.col("__a")]
    top = counts
    if salt_buckets and salt_buckets > 1:
        w1 = Window.partitionBy("dst_url", "__salt").orderBy(*order)
        top = (top.withColumn("__salt",
                              F.pmod(F.xxhash64("__a"),
                                     F.lit(salt_buckets)))
               .withColumn("__r1", F.row_number().over(w1))
               .filter(F.col("__r1") <= k)
               .drop("__salt", "__r1"))
    w = Window.partitionBy("dst_url").orderBy(*order)
    top = (top.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= k))
    prof = (top.groupBy("dst_url")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("__rn", F.col("__a"), F.col("__n")))),
                lambda s: F.struct(s["__a"].alias("anchor"),
                                   s["__n"].alias("n")))
                .alias("top_anchors")))
    return stats.join(prof, "dst_url")


def build_edges(links: DataFrame, src: str = "src_url",
                dst: str = "dst_url") -> DataFrame:
    """Distinct (src, dst) edge relation with self-loops dropped —
    the normalized input to ``degrees``/``pagerank``. One shuffle
    (the distinct)."""
    return (links.select(src, dst)
            .filter(F.col(src) != F.col(dst))
            .distinct())


def degrees(nodes: DataFrame, edges: DataFrame, node_col: str,
            src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg) for every node — absent degrees are 0,
    nodes outside ``nodes`` are ignored (the corpus defines the
    universe; edges may point at unfetched URLs)."""
    od = edges.groupBy(F.col(src).alias(node_col)) \
        .agg(F.count("*").alias("out_deg"))
    ind = edges.groupBy(F.col(dst).alias(node_col)) \
        .agg(F.count("*").alias("in_deg"))
    return (nodes.select(node_col)
            .join(od, node_col, "left")
            .join(ind, node_col, "left")
            .select(node_col,
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def pagerank(nodes: DataFrame, edges: DataFrame, node_col: str,
             src: str = "src", dst: str = "dst", n_iter: int = 3,
             damping: float = 0.85) -> DataFrame:
    """(node, pr) after ``n_iter`` power-method rounds.

    pr'(v) = (1-d)/n + d·(Σ_{u→v} pr(u)/out_deg(u) + dangling/n),
    where dangling = Σ pr over zero-out-degree nodes (their mass
    redistributes uniformly — the standard stochastic completion).

    Determinism contract (the oracle gate): every cross-row sum is
    DECIMAL(28,12) over doubles cast half-up — identical in Spark and
    DuckDB — and the scalar arithmetic is pure IEEE double in a fixed
    expression order mirrored by the unrolled oracle CTEs. Edges that
    point outside ``nodes`` still drain mass through out_deg (real
    web graphs link to unfetched URLs); their landing mass is simply
    dropped by the final join onto the node universe.
    """
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col(node_col),
                            F.lit(0.0).alias("pr"))
    base = nodes.select(node_col).localCheckpoint(eager=False)
    out_deg = edges.groupBy(src).agg(F.count("*").alias("__od"))
    # static per-edge fan-out relation: (src, dst, out_deg(src))
    fan = (edges.join(out_deg, src)
           .select(F.col(src).alias("__s"), F.col(dst).alias("__d"),
                   "__od")
           .localCheckpoint(eager=False))
    linked = out_deg.select(F.col(src).alias("__s2"), "__od")
    pr = base.withColumn("__pr", F.lit(1.0 / n))
    for _ in range(n_iter):
        # dangling mass stays IN the plan as a broadcast 1-row scalar
        # (the oracle's ``(SELECT dm FROM dang)`` shape) — no
        # per-iteration collect: at cluster scale a collect is a full
        # stage barrier + driver round-trip every round, and the value
        # is only ever consumed by the next round's expression. The
        # decimal sum → double cast → double divide sequence is
        # identical to the old driver-side float() path, so results
        # stay bit-equal.
        with_od = pr.join(linked, pr[node_col] == F.col("__s2"),
                          "left")
        dang = (with_od.filter(F.col("__od").isNull())
                .agg(F.coalesce(
                    F.sum(F.col("__pr").cast("decimal(28,12)")),
                    F.lit(0).cast("decimal(28,12)"))
                    .cast("double").alias("__dang")))
        contrib = (pr.join(fan, pr[node_col] == F.col("__s"))
                   .select(F.col("__d").alias(node_col),
                           (F.col("__pr") / F.col("__od"))
                           .cast("decimal(28,12)").alias("__c")))
        summed = (contrib.groupBy(node_col)
                  .agg(F.sum("__c").cast("double").alias("__cs")))
        pr = (base.join(summed, node_col, "left")
              .crossJoin(F.broadcast(dang))
              .select(node_col,
                      (F.lit((1.0 - damping) / n)
                       + F.lit(damping)
                       * (F.coalesce(F.col("__cs"), F.lit(0.0))
                          + F.col("__dang") / F.lit(float(n))))
                      .alias("__pr"))
              .localCheckpoint(eager=False))
    return pr.select(node_col, F.col("__pr").alias("pr"))
