"""§2.8 streaming surface: a Structured-Streaming seed-replay wrapper.

The reference's "stream" is a pull-based work queue (channels) with no
event time or watermarks — the engine proper is batch-iterative. This
wrapper maps that queue shape onto Structured Streaming: a seed stream
(files or rate source) drives ``foreachBatch``; each micro-batch of seeds
runs a full bounded crawl against the committed waves' seen view (the
same view ``Crawler.resume()`` reads, over the SnapshotStore), so a
long-running process continuously absorbs new seeds while never
re-fetching known URLs.

Not required for reference parity (SURVEY §2.8); exercised by
tests/test_streaming.py on a file-source seed drip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.plans.crawl import Crawler


class StreamingCrawler:
    """Continuously crawl seeds arriving on a stream.

    seeds arrive as text lines (one URL per line, like the reference's
    stdin/--list sources, cmd/xcrawl3r/main.go:196-233); each micro-batch
    is crawled to ``cfg.depth`` with global dedup against all previously
    seen URLs, read as ``Crawler.committed().seen`` from the waves
    committed under cfg.checkpoint_dir; a batch's waves number on from
    the last committed one.
    """

    def __init__(self, spark: SparkSession, cfg: CrawlConfig, pages: DataFrame):
        if not cfg.checkpoint_dir:
            raise ValueError("StreamingCrawler requires cfg.checkpoint_dir")
        if not cfg.global_dedup:
            # cross-batch dedup only works with a global seen-set: per-seed
            # keys from batch N never match batch N+1's fresh seed_ids
            raise ValueError("StreamingCrawler requires cfg.global_dedup=True")
        self.spark = spark
        self.cfg = cfg
        self.pages = pages
        self.crawler = Crawler(spark, cfg)
        self._batch_no = 0

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        seeds = (
            batch_df.select(F.trim("value").alias("url"))
            .filter(F.length("url") > 0)
            .withColumn("seed_id", F.concat(F.lit(f"b{batch_id}_"),
                                            F.monotonically_increasing_id()))
            .select("seed_id", "url")
        )
        if seeds.isEmpty():
            return
        done = self.crawler.committed()
        frontier = self.crawler.seed_frontier(seeds).filter(
            F.col("url").rlike(self.cfg.scope_pattern()))
        self.crawler.crawl(
            seeds, self.pages,
            start_iteration=(done.iterations if done else 0) + 1,
            initial_frontier=frontier,
            initial_seen=done.seen if done else None,
        )

    def start(self, seed_dir: str, trigger_once: bool = True):
        """Watch ``seed_dir`` for seed-list files; returns the query."""
        stream = self.spark.readStream.format("text").load(seed_dir)
        writer = stream.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", f"{self.cfg.checkpoint_dir}/_stream_ckpt"
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
