"""xcrawl3r_spark — a PySpark-native batch BFS-over-frontier crawl analytics engine.

A from-scratch reimplementation of the query/data-processing capabilities of
``hueristiq/xcrawl3r`` (reference at /root/reference, read-only) on Apache
Spark DataFrames. The reference is a goroutine/callback recursive spider; this
engine re-expresses the same semantics as an iterative batch pipeline:

  frontier (priority-ordered)  ──exact anti-join──►  URL-seen set
          │ politeness window top-k per host
          ▼
  fetch (join vs pages table / pluggable fetcher)
          │ mapInPandas link extraction (href/src/regex)
          ▼
  edges (emit-per-occurrence) + images payload branch + next frontier

Public API (mirrors the reference's ``xcrawl3r.New(cfg)`` + ``Crawl(url)``,
pkg/xcrawl3r/xcrawl3r.go:387,34):

    from xcrawl3r_spark import Crawler, CrawlConfig
    crawler = Crawler(spark, CrawlConfig(domains=["example.com"], depth=2))
    result = crawler.crawl(seeds_df, pages_df)   # -> CrawlResult
    result.edges / result.seen / result.images / result.errors
"""

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.plans.crawl import Crawler, CrawlResult

__all__ = ["CrawlConfig", "Crawler", "CrawlResult"]
__version__ = "0.1.0"
