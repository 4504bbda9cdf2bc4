"""ftw_crawler_spark — a from-scratch PySpark-native crawl→extract→index engine.

A distributed URL-frontier scheduler over Iceberg-style parquet tables of
Common-Crawl-style web pages, re-expressing the capabilities of the
reference crawler (4teamwork/ftw.crawler, see /root/reference) as
DataFrame plans + vectorized pandas/Arrow UDFs:

- ``functions/``  pure-Python scalar semantics, byte-identical to the
  reference's extractors (quirks included) — shared by the pandas UDFs
  and by the plain-Python oracle used in tests.
- ``operators/``  DataFrame-level operators: the wide extraction
  projection, sitemap expansion, incremental/purge joins, the bloom
  URL-seen filter, deterministic politeness scheduling, the
  upsert-by-UID index sink, plus training-data-pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).
- ``sources/``    deterministic synthetic world generation (page store,
  sites, sitemaps, pre-existing index) and readers.
- ``plans/``      the crawl micro-batch driver loop with per-batch
  checkpoints, lineage and metrics.
- ``streaming/``  the streaming near-dup admission gate (``DedupStream``).
"""

__version__ = "0.1.0"

from ftw_crawler_spark.config import (  # noqa: E402,F401 — public API
    CrawlerConfig, Field, Site, default_config, default_fields)
from ftw_crawler_spark.config_loader import load_config_file  # noqa: E402,F401
from ftw_crawler_spark.session import get_spark  # noqa: E402,F401
