"""Sitemap discovery + expansion: XML blobs → the frontier DataFrame.

Reference semantics (ftw/crawler/sitemap.py):

- discovery (S1/S2): static ``site.sitemap_urls`` short-circuits
  (sitemap.py:32-34); else probe ``{site.url}/sitemap_index.xml[.gz]``
  and verify it IS an index (sitemap.py:36-48); else fall back to a
  virtual index around ``{site.url}/sitemap.xml[.gz]``
  (sitemap.py:50-52, 158-175). Here "the web" is the ``sitemaps``
  table keyed by ``sitemap_url`` — a probe is a lookup.
- parse (S4/S5): ``/urlset/url`` (and ``/sitemapindex/sitemap``) nodes
  → dicts over PROPERTIES, absent children missing (sitemap.py:105-113,
  211-219); namespaces stripped before xpath (xml_utils/__init__.py:10-19).
- gzip: body gunzipped when flagged (utils.py:69-86).

Scale notes: the sites dim is tiny (broadcast); only sitemap-INDEX
bodies are collected to the driver (an index lists child sitemaps — KBs).
The child sitemap bodies (the big payload: up to 50k URLs each) are
parsed executor-side by an Arrow-batched UDF and exploded with
``posexplode`` so document order (url_ord) is preserved exactly —
crawl ordering depends on it (main.py:107,113).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from urllib.parse import urljoin

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark.functions.scalars import gunzip

SITEMAP_INDEX_NAMES = ("sitemap_index.xml", "sitemap_index.xml.gz")
SITEMAP_NAMES = ("sitemap.xml", "sitemap.xml.gz")
SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"
PROPERTIES = ("loc", "lastmod", "changefreq", "priority", "target")


class NoSitemapFound(Exception):
    """Reference: ftw/crawler/exceptions.py (sitemap.py:174-175)."""


# ---------------------------------------------------------------------------
# pure-python XML parse (shared by UDF + driver-side index handling)
# ---------------------------------------------------------------------------


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_entries(xml_bytes: bytes, gz: bool = False,
                  container: str = "urlset", child: str = "url") -> list:
    """Parse <urlset>/<url> (or <sitemapindex>/<sitemap>) into ordered
    dicts over PROPERTIES; absent properties are absent keys (None here).
    Namespace handling = the reference's strip-then-xpath."""
    if gz:
        xml_bytes = gunzip(xml_bytes)
    root = ET.parse(io.BytesIO(xml_bytes)).getroot()
    if _strip_ns(root.tag) != container:
        return []
    out = []
    for node in root:
        if _strip_ns(node.tag) != child:
            continue
        info = {p: None for p in PROPERTIES}
        for sub in node:
            name = _strip_ns(sub.tag)
            if name in PROPERTIES and info[name] is None and sub.text:
                info[name] = sub.text
        out.append(info)
    return out


def is_sitemap_index(xml_bytes: bytes, gz: bool = False) -> bool:
    """sitemap.py:67-68 — any //sitemapindex node."""
    if gz:
        xml_bytes = gunzip(xml_bytes)
    try:
        root = ET.parse(io.BytesIO(xml_bytes)).getroot()
    except ET.ParseError:
        return False
    return _strip_ns(root.tag) == "sitemapindex" or any(
        _strip_ns(e.tag) == "sitemapindex" for e in root.iter())


ENTRY_TYPE = T.ArrayType(T.StructType(
    [T.StructField(p, T.StringType(), True) for p in PROPERTIES]))


def _entries_or_none(xml_bytes, gz, container="urlset", child="url"):
    """Executor-side parse with error isolation: at web scale some
    fraction of sitemap bodies is malformed XML / truncated gzip —
    one bad body must cost its own entries, never the job. None (not
    []) marks a parse FAILURE so callers can count it as an error row
    rather than an empty sitemap. The reference aborts the whole site
    on a parse error (main.py:80-88 catches per site); here the
    granularity is per sitemap, with the failure surfaced in metrics.
    """
    try:
        return parse_entries(xml_bytes, gz, container=container,
                             child=child)
    except Exception:
        return None


@F.pandas_udf(ENTRY_TYPE)
def parse_urlset_udf(xml: pd.Series, gz: pd.Series) -> pd.Series:
    out = []
    for x, g in zip(xml, gz):
        entries = _entries_or_none(x, bool(g))
        out.append(None if entries is None else
                   [tuple(e[p] for p in PROPERTIES) for e in entries])
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def probe_state_udf(xml: pd.Series, gz: pd.Series) -> pd.Series:
    """Classify a probe body the way the reference validates it:
    'index' (has a //sitemapindex node — SitemapIndex.is_sitemap_index,
    sitemap.py:67-68), 'urlset' (has //urlset — Sitemap.is_sitemap,
    sitemap.py:188-189), 'other' (well-formed XML that is neither —
    the reference falls through to the next probe name,
    sitemap.py:36-48, 164-175), or 'invalid' (XML parse failure — the
    reference raises from the Sitemap/SitemapIndex constructor,
    sitemap.py:185,206-209, aborting the site). Runs on ≤4 probe
    bodies per site, executor-side."""
    out = []
    for x, g in zip(xml, gz):
        try:
            b = bytes(x)
            if g:
                b = gunzip(b)
            root = ET.parse(io.BytesIO(b)).getroot()
        except Exception:
            out.append("invalid")
            continue
        tags = {_strip_ns(e.tag) for e in root.iter()}
        tags.add(_strip_ns(root.tag))
        if "sitemapindex" in tags:
            out.append("index")
        elif "urlset" in tags:
            out.append("urlset")
        else:
            out.append("other")
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.StringType()))
def parse_sitemapindex_udf(xml: pd.Series, gz: pd.Series) -> pd.Series:
    """<sitemapindex> body → ordered child sitemap locs (sitemap.py:211-219),
    evaluated executor-side so index bodies are never collected."""
    out = []
    for x, g in zip(xml, gz):
        entries = _entries_or_none(x, bool(g), container="sitemapindex",
                                   child="sitemap")
        out.append(None if entries is None else
                   [e["loc"] for e in entries if e["loc"]])
    return pd.Series(out)


# ---------------------------------------------------------------------------
# discovery
# ---------------------------------------------------------------------------


DISCOVERY_SCHEMA = "site_id int, sitemap_url string, sitemap_ord int"


def _discover(spark: SparkSession, sites: list, sitemaps: DataFrame):
    """Shared discovery plan: returns ``(discovered, failed)`` where
    ``failed`` is the LAZY (site_id, url) relation of probe-less sites —
    the caller decides whether to raise (strict mode) or fold it into
    one combined error-report job (build_frontier)."""
    static_rows = []
    probed = []
    for site in sites:
        if site.sitemap_urls:
            # 1. static config short-circuits discovery (sitemap.py:32-34)
            static_rows += [(site.site_id, u, i)
                            for i, u in enumerate(site.sitemap_urls)]
        else:
            probed.append(site)
    static_df = spark.createDataFrame(static_rows, DISCOVERY_SCHEMA)
    empty_failed = spark.createDataFrame(
        [], "site_id int, url string, error string, kind string")
    if not probed:
        return static_df, empty_failed

    # 2./3. probe {site.url}/sitemap_index.xml[.gz] (must actually BE an
    # index, sitemap.py:36-48) then {site.url}/sitemap.xml[.gz] (must
    # actually BE a urlset, sitemap.py:164-175 — a 200 body that is
    # well-formed XML but not a urlset falls through to the next probe
    # name); first valid probe wins. A body that fails to PARSE stops
    # the site right there (the reference raises from the constructor
    # before the is_* check), so 'invalid' rows compete in the min_by
    # and poison the site when chosen.
    names = SITEMAP_INDEX_NAMES + SITEMAP_NAMES
    probe_rows = [
        (s.site_id, s.url, urljoin(s.url, name), ord_,
         ord_ < len(SITEMAP_INDEX_NAMES))
        for s in probed for ord_, name in enumerate(names)]
    probes = spark.createDataFrame(
        probe_rows, "site_id int, site_url string, sitemap_url string, "
                    "probe_ord int, wants_index boolean")
    hits = (sitemaps.select("sitemap_url", "gz", "xml")
            .join(F.broadcast(probes), "sitemap_url", "inner")
            .withColumn("state", probe_state_udf(F.col("xml"),
                                                 F.col("gz")))
            .filter((F.col("wants_index") & (F.col("state") == "index"))
                    | (~F.col("wants_index")
                       & (F.col("state") == "urlset"))
                    | (F.col("state") == "invalid"))
            # only index bodies are parsed after discovery — don't
            # drag plain-sitemap bodies through the min_by shuffle
            .withColumn("xml", F.when(F.col("wants_index")
                                      & (F.col("state") == "index"),
                                      F.col("xml"))))
    chosen = (hits.groupBy("site_id")
              .agg(F.min_by(
                  F.struct("probe_ord", "sitemap_url", "wants_index",
                           "state", "gz", "xml"),
                  F.col("probe_ord")).alias("c"))
              .select("site_id", "c.sitemap_url", "c.wants_index",
                      "c.state", "c.gz", "c.xml"))
    # ``chosen`` is tiny (one row per probed site; xml kept only for
    # the winning INDEX bodies) but feeds four downstream branches
    # (parsed entries, index children, not-found, bad-xml) — without a
    # materialization each branch re-runs the probe join + state-UDF
    # parse + min_by shuffle, which measured as the dominant cost of
    # the whole frontier build. One LAZY local checkpoint runs
    # discovery exactly once: the failed-sites collect in
    # discover_sitemaps is the first action over every branch and
    # always runs, so it materializes the checkpoint as a side effect
    # — an eager=True here would spend one extra standalone driver
    # job on the same materialization.
    chosen = chosen.localCheckpoint(eager=False)
    ok = chosen.filter(F.col("state") != "invalid")
    idx_children = (
        ok.filter(F.col("wants_index"))
        .select("site_id",
                parse_sitemapindex_udf(F.col("xml"), F.col("gz"))
                .alias("locs"))
        .select("site_id",
                F.posexplode("locs").alias("sitemap_ord", "sitemap_url"))
        .select("site_id", "sitemap_url", "sitemap_ord"))
    singles = ok.filter(~F.col("wants_index")).select(
        "site_id", "sitemap_url", F.lit(0).alias("sitemap_ord"))

    probed_df = spark.createDataFrame(
        [(s.site_id, s.url) for s in probed], "site_id int, url string")
    not_found = (probed_df.join(chosen.select("site_id"), "site_id",
                                "left_anti")
                 .select("site_id", "url",
                         F.concat(F.lit("No sitemap found for "),
                                  F.col("url"), F.lit("!"))
                         .alias("error"),
                 F.lit("none").alias("kind")))
    bad_xml = (chosen.filter(F.col("state") == "invalid")
               .join(F.broadcast(probed_df), "site_id")
               .select("site_id", "url",
                       F.concat(F.lit("Invalid sitemap XML at "),
                                F.col("sitemap_url")).alias("error"),
                       F.lit("parse").alias("kind")))
    failed = not_found.unionByName(bad_xml)
    discovered = static_df.unionByName(idx_children).unionByName(singles)
    return discovered, failed


def discover_sitemaps(spark: SparkSession, sites: list,
                      sitemaps: DataFrame,
                      errors: list | None = None) -> DataFrame:
    """Resolve each site's ordered sitemap list against the sitemaps
    table, reproducing the reference's discovery order (_resolve_site
    is the driver-side reference semantics this must match). Returns
    (site_id, sitemap_url, sitemap_ord) — one row per sitemap a real
    crawl would fetch.

    Executor-side: the only driver-side inputs are the site configs
    themselves (4 probe URLs per site). Probes semi-join the sitemaps
    relation — no ``.collect()`` of sitemap metadata or bodies — and
    sitemap-INDEX bodies are parsed where they live via
    ``parse_sitemapindex_udf``. Only *failed* sites are collected (for
    the error report).

    Per-site error isolation (P2, reference main.py:80-88): with
    ``errors`` given, a site that resolves to no sitemap appends
    ``{site_id, url, error}`` and is skipped — the other sites crawl
    on. With ``errors=None`` (strict mode, direct callers/tests) the
    first failure raises ``NoSitemapFound`` like the reference's
    per-site ``crawl_and_index``.
    """
    discovered, failed_df = _discover(spark, sites, sitemaps)
    failed = sorted(failed_df.collect(), key=lambda r: r["site_id"])
    if failed:
        if errors is None:
            # lowest site_id first — collect order of a distributed
            # relation is not deterministic, the raised message must be
            first = failed[0]
            if first["kind"] == "parse":
                raise ValueError(first["error"])
            raise NoSitemapFound(first["error"])
        for r in failed:
            errors.append({"site_id": r["site_id"], "url": r["url"],
                           "error": r["error"]})
    return discovered


def _resolve_site(site, meta, index_bodies) -> list:
    # 1. static config short-circuits discovery (sitemap.py:32-34)
    if site.sitemap_urls:
        return list(site.sitemap_urls)
    # 2. probe sitemap_index.xml[.gz]; must actually BE an index
    #    (sitemap.py:36-48)
    for name in SITEMAP_INDEX_NAMES:
        url = urljoin(site.url, name)
        if url in meta:
            if url in index_bodies:
                xml, gz = index_bodies[url]
                infos = parse_entries(bytes(xml), gz,
                                      container="sitemapindex",
                                      child="sitemap")
                return [i["loc"] for i in infos if i["loc"]]
            # present but not an index → keep probing (reference falls
            # through the loop when is_sitemap_index() is False)
    # 3. single discovered sitemap → virtual index (sitemap.py:50-52,
    #    158-175)
    for name in SITEMAP_NAMES:
        url = urljoin(site.url, name)
        if url in meta and not meta[url][0]:
            return [url]
    raise NoSitemapFound(f"No sitemap found for {site.url}!")


# ---------------------------------------------------------------------------
# expansion → frontier
# ---------------------------------------------------------------------------


def _parsed_entries(discovered: DataFrame,
                    sitemaps: DataFrame) -> DataFrame:
    """(site_id, sitemap_url, sitemap_ord, entries) — bodies parsed
    executor-side where the XML partition lives (no shuffle of bodies);
    ``entries`` NULL marks a parse failure, not an empty sitemap."""
    joined = sitemaps.join(F.broadcast(discovered), ["sitemap_url"],
                           "inner")
    return joined.select(
        discovered["site_id"], "sitemap_url", "sitemap_ord",
        parse_urlset_udf(F.col("xml"), F.col("gz")).alias("entries"))


def _explode_entries(parsed: DataFrame) -> DataFrame:
    """Parsed entry arrays → the frontier rows, document order kept."""
    exploded = parsed.select(
        "site_id", "sitemap_url", "sitemap_ord",
        F.posexplode("entries").alias("url_ord", "entry"))
    return exploded.select(
        "site_id", "sitemap_url", "sitemap_ord", "url_ord",
        F.col("entry.loc").alias("loc"),
        F.col("entry.lastmod").alias("lastmod"),
        F.col("entry.changefreq").alias("changefreq"),
        F.col("entry.priority").alias("priority"),
        F.col("entry.target").alias("target"),
        F.lower(F.parse_url(F.col("entry.loc"), F.lit("HOST")))
        .alias("host"),
    ).filter(F.col("loc").isNotNull())


def expand_frontier(discovered: DataFrame, sitemaps: DataFrame) -> DataFrame:
    """Join the discovery result to sitemap bodies, parse executor-side,
    posexplode into the frontier with exact document order.

    Output: (site_id, sitemap_url, sitemap_ord, url_ord, loc, lastmod,
    changefreq, priority, target, host). The tiny discovery side is
    broadcast; the parse runs where the XML partition lives — no
    shuffle of bodies.
    """
    return _explode_entries(_parsed_entries(discovered, sitemaps))


def expansion_errors(discovered: DataFrame,
                     sitemaps: DataFrame) -> DataFrame:
    """Per-sitemap failures of the expansion step: (site_id,
    sitemap_url, error) for discovered sitemaps whose XML body fails to
    parse, and for child sitemaps an index listed that are absent from
    the sitemaps relation (fetch failure analog). Bounded by the
    number of FAILED sitemaps — safe to collect for the error report.

    Granularity note: the reference aborts the whole site on the first
    bad sitemap (main.py:80-88); at web scale that throws away every
    good sitemap of a site because one of thousands is truncated, so
    here the unit of failure is the sitemap, the good ones still
    crawl, and the site is excluded from purge (its membership is
    incomplete, not empty)."""
    parsed = _parsed_entries(discovered, sitemaps)
    return (_bad_parse_errors(parsed)
            .unionByName(_missing_errors(discovered, sitemaps)))


def _bad_parse_errors(parsed: DataFrame) -> DataFrame:
    return (parsed.filter(F.col("entries").isNull())
            .select("site_id", "sitemap_url",
                    F.lit("sitemap XML parse error").alias("error")))


def _missing_errors(discovered: DataFrame,
                    sitemaps: DataFrame) -> DataFrame:
    return (discovered.join(sitemaps.select("sitemap_url"),
                            "sitemap_url", "left_anti")
            .select("site_id", "sitemap_url",
                    F.lit("listed sitemap not fetchable")
                    .alias("error")))


def build_frontier(spark: SparkSession, sites: list,
                   sitemaps: DataFrame,
                   errors: list | None = None,
                   scratch: list | None = None) -> DataFrame:
    """Discovery + expansion + the deterministic global crawl order key.

    ``crawl_seq`` reproduces the reference's nested-loop total order:
    config-declaration site order × index sitemap order × document url
    order (main.py:75,107,113). Computed from the ordinal triple (no
    window over the full frontier needed — the triple IS the order).

    ``errors`` (optional list): per-site discovery failures AND
    per-sitemap expansion failures (parse errors, unfetchable index
    children) are recorded there and skipped instead of aborting the
    run (see discover_sitemaps / expansion_errors).

    Driver-latency shape: with ``errors`` given, the error report is
    ONE combined job (discovery failures ∪ parse failures ∪ missing
    children) over a persisted parsed-entries relation, so sitemap
    bodies are parsed exactly once — the returned frontier re-reads
    the parsed cache instead of re-running the XML UDF. The caller
    unpersists via ``scratch`` (the persisted intermediates are
    appended there) once its own frontier cache is warm."""
    if errors is None:
        discovered = discover_sitemaps(spark, sites, sitemaps)
        frontier = expand_frontier(discovered, sitemaps)
        return _with_crawl_seq(frontier)

    discovered, failed_df = _discover(spark, sites, sitemaps)
    parsed = _parsed_entries(discovered, sitemaps).persist(
        StorageLevel.MEMORY_AND_DISK)
    if scratch is not None:
        scratch.append(parsed)
    # one driver round-trip for every failure class; rank keeps the
    # report order deterministic (site-level first, like the reference's
    # per-site try/except, then per-sitemap)
    err_df = (
        failed_df.select(
            "site_id", "url", "error",
            F.lit(0).alias("rank"))
        .unionByName(_bad_parse_errors(parsed)
                     .withColumnRenamed("sitemap_url", "url")
                     .withColumn("rank", F.lit(1)))
        .unionByName(_missing_errors(discovered, sitemaps)
                     .withColumnRenamed("sitemap_url", "url")
                     .withColumn("rank", F.lit(2))))
    for r in sorted(err_df.collect(),
                    key=lambda r: (r["rank"], r["site_id"], r["url"])):
        errors.append({"site_id": r["site_id"], "url": r["url"],
                       "error": r["error"]})
    return _with_crawl_seq(_explode_entries(parsed))


def _with_crawl_seq(frontier: DataFrame) -> DataFrame:
    # dense rank not required: any monotone function of the triple works
    return frontier.withColumn(
        "crawl_seq",
        (F.col("site_id").cast("long") * F.lit(1 << 40))
        + (F.col("sitemap_ord").cast("long") * F.lit(1 << 24))
        + F.col("url_ord").cast("long"))
