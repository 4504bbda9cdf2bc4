"""Incremental-crawl + purge relational operators (M3).

Reference semantics:

- S7 index scan: docs of a site = ``crawler_site_id == X`` when the
  site has one, else ``url startswith site.url``
  (main.py:49-58, solr.py:52-68).
- F3 last-indexed lookup: exact ``url_field == url`` match
  (main.py:61-66) → left join frontier ⋈ index on url.
- F4 is_modified: never indexed → True; sitemap lastmod present →
  ``lastmod > last_indexed`` (STRICT >, equal = unmodified,
  test_fetcher.py:124-151); else HEAD last-modified (our page-store
  ``warc_ts``) ``> last_indexed``; no header → True
  (fetcher.py:26-43). ``--force`` bypasses (fetcher.py:50).
- F6 purge: indexed docs with ``url startswith site.url`` AND url not
  in any of the site's sitemaps, case-insensitively
  (purging.py:8-30, sitemap.py:200-204).

Scale notes: the sites dim is broadcast; the frontier⋈index join
shuffles on url (both sides hash-partitioned — at 10^10 scale the
bloom prefilter in operators/seen.py prunes never-indexed urls before
this join). lastmod parsing uses native ``to_timestamp`` — the
generator emits ISO forms on which Spark and dateutil agree; the
extraction path (which owns byte-identity of the ``modified`` field)
parses with dateutil.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def site_match_cond(sites_df_alias="s", url_col="i.url"):
    """Reference site-scoping predicate (main.py:49-58): crawler_site_id
    equality when present, else url prefix."""
    return (
        (F.col(f"{sites_df_alias}.crawler_site_id").isNotNull()
         & (F.col("i.crawler_site_id")
            == F.col(f"{sites_df_alias}.crawler_site_id")))
        | (F.col(f"{sites_df_alias}.crawler_site_id").isNull()
           & F.col(url_col).startswith(F.col(f"{sites_df_alias}.url"))))


def indexed_docs_for_sites(index: DataFrame, sites: DataFrame) -> DataFrame:
    """S7: per-site index scan, projected to (site_id, UID, url,
    modified) — column pruning reaches the parquet scan."""
    return (index.alias("i")
            .join(F.broadcast(sites.alias("s")), site_match_cond(),
                  "inner")
            .select(F.col("s.site_id").alias("site_id"), "i.UID",
                    "i.url", "i.modified"))


def purge_candidates(index: DataFrame, sites: DataFrame,
                     frontier: DataFrame) -> DataFrame:
    """F6: docs to delete = site-scoped indexed docs whose url is under
    the site prefix but absent (case-insensitively) from the site's
    expanded sitemaps. Left-anti join on lower(url) per site."""
    # prefix condition applies to csid-scoped sites too (purging.py:21:
    # url_in_site is checked independently of how docs were selected)
    scoped = (index.alias("i")
              .join(F.broadcast(sites.alias("s")), site_match_cond(),
                    "inner")
              .filter(F.col("i.url").startswith(F.col("s.url")))
              .select(F.col("s.site_id").alias("site_id"), "i.UID",
                      F.col("i.url").alias("url")))
    sitemap_urls = frontier.select(
        "site_id", F.lower(F.col("loc")).alias("loc_lower")).distinct()
    return scoped.join(
        sitemap_urls,
        (scoped["site_id"] == sitemap_urls["site_id"])
        & (F.lower(scoped["url"]) == sitemap_urls["loc_lower"]),
        "left_anti")


def last_indexed_relation(index: DataFrame, sites: DataFrame) -> DataFrame:
    """(site_id, loc, last_indexed): the F3 lookup table — the
    SITE-SCOPED index scan only (the reference looks the url up in the
    per-site ``indexed_docs`` list, main.py:61-66 + 49-58; a doc outside
    the site's scope — e.g. a case-variant url that escapes the
    case-sensitive prefix — is invisible to the lookup)."""
    scoped = indexed_docs_for_sites(index, sites)
    last = scoped.select("site_id", F.col("url").alias("loc"),
                         F.col("modified").alias("last_indexed"))
    # several index generations per url pre-compaction — keep max
    return last.groupBy("site_id", "loc").agg(
        F.max("last_indexed").alias("last_indexed"))


def with_last_indexed(frontier: DataFrame, index: DataFrame,
                      sites: DataFrame) -> DataFrame:
    """F3: ``last_indexed`` via exact url equality against
    ``last_indexed_relation``."""
    return frontier.join(last_indexed_relation(index, sites),
                         ["site_id", "loc"], "left")


def is_modified_col(force: bool = False):
    """F4 as a Column over (last_indexed, lastmod, warc_ts, page_found).

    Truth table (fetcher.py:26-43 + tests test_fetcher.py:110-205):
      last_indexed NULL                         → modified
      lastmod present:  parse(lastmod) > last_indexed
      lastmod absent, page found (HEAD analog): warc_ts > last_indexed
      lastmod absent, page missing (no header): modified
    """
    if force:
        return F.lit(True)
    lastmod_ts = F.to_timestamp(F.col("lastmod"))
    return (
        F.col("last_indexed").isNull()
        | F.when(F.col("lastmod").isNotNull(),
                 lastmod_ts > F.col("last_indexed"))
        .otherwise(
            F.when(F.col("warc_ts").isNotNull(),
                   F.col("warc_ts") > F.col("last_indexed"))
            .otherwise(F.lit(True))))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_col: str = "UID",
                  fingerprint_cols: tuple = ("url", "modified")) -> DataFrame:
    """Re-crawl delta report between two index snapshots: one row per
    key present in either snapshot, classified ``added`` / ``removed``
    / ``changed`` / ``unchanged`` by comparing the fingerprint columns
    (NULL-safe).

    This is the operational view of an incremental crawl (what did the
    run actually do to the index) and the input to downstream refresh
    triggers. One full-outer shuffle join on the key — both snapshot
    scans prune to ``key + fingerprint`` columns, so at 10^10 keys the
    shuffled bytes are the fingerprints, not the documents.
    """
    def side(df, tag):
        return df.select(
            F.col(key_col),
            *[F.col(c).alias(f"__{tag}_{c}") for c in fingerprint_cols],
            F.lit(True).alias(f"__in_{tag}"))

    joined = side(old, "old").join(side(new, "new"), key_col, "full_outer")
    same = F.lit(True)
    for c in fingerprint_cols:
        same = same & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed")))
    return joined.select(
        F.col(key_col), change.alias("change"),
        *[F.col(f"__old_{c}").alias(f"old_{c}")
          for c in fingerprint_cols],
        *[F.col(f"__new_{c}").alias(f"new_{c}")
          for c in fingerprint_cols])


def change_observations(index_log: DataFrame, url_col: str = "url",
                        ts_col: str = "modified") -> DataFrame:
    """Per-url change observations from an index op log
    (``IndexSink.op_log``): distinct (url, modified) upsert pairs —
    a re-crawl that re-indexed identical content (same ``modified``)
    is NOT a change observation, and tombstones carry no modification
    time. The ``recrawl_schedule`` input the crawl loop's ``--recrawl-
    from`` gate feeds from a prior run's sink. One distinct shuffle on
    (url, ts), map-side combined."""
    return (index_log
            .filter((~F.col("is_delete"))
                    & F.col(url_col).isNotNull()
                    & F.col(ts_col).isNotNull())
            .select(F.col(url_col).alias("url"),
                    F.col(ts_col).alias("ts"))
            .distinct())


def recrawl_schedule(changes: DataFrame, entity_col: str = "url",
                     ts_col: str = "ts") -> DataFrame:
    """Adaptive revisit scheduling from an observed change log — the
    incremental-crawl policy layer (how often a page changes decides
    when to fetch it again; uniform-rate estimator per Cho &
    Garcia-Molina's recrawl-frequency work).

    Per entity: ``n_obs`` observed changes, mean inter-change interval
    ``interval_s = floor((last - first) / (n_obs - 1))`` whole seconds,
    and ``next_due_epoch = last_epoch + interval_s``. Entities with a
    single observation carry no rate and are dropped (callers schedule
    those on a default TTL). All math is integer epoch seconds
    (engine-reproducible: Spark ``unix_timestamp`` floors, the oracle
    pins ``floor(epoch(ts))``); ONE aggregate shuffle on the entity
    key, map-side combined — no window, no corpus sort."""
    e = F.unix_timestamp(F.col(ts_col))
    g = (changes.groupBy(entity_col)
         .agg(F.count(F.lit(1)).cast("long").alias("n_obs"),
              F.min(e).alias("first_epoch"),
              F.max(e).alias("last_epoch"))
         .filter(F.col("n_obs") >= 2))
    interval = F.floor(
        (F.col("last_epoch") - F.col("first_epoch"))
        / (F.col("n_obs") - 1)).cast("long")
    return g.select(
        F.col(entity_col), "n_obs", "first_epoch", "last_epoch",
        interval.alias("interval_s"),
        (F.col("last_epoch") + interval).alias("next_due_epoch"))
