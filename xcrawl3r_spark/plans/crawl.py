"""The crawl plan: batch BFS over a priority frontier.

Public API mirrors the reference's one-constructor-one-method surface
(pkg/xcrawl3r/xcrawl3r.go:387 ``New``, :34 ``Crawl``):

    Crawler(spark, cfg).crawl(seeds_df, pages_df) -> CrawlResult

Per-iteration dataflow (SURVEY §3.4):

    frontier[i] --(within-batch dedup, min depth)--> candidates
      --(Bloom probe + exact left-anti vs seen)-->  new URLs          D1/D2
      --(media flag: image exts -> payload branch, marked seen)-->    F3
      --(robots allow/deny broadcast join -> flag, optional)-->       north
      --(per-(seed,host) budget top-k; ineligible rows ride along
         flagged — ONE checkpoint/iter; overflow requeued)-->         A1
      --(fetch = left join vs pages on url)-->                        S4
      --(mapInPandas extraction: href/src/regex + .min. variants)--> E1-E4
      --(scope rlike)--> edges append (emit-per-occurrence)          F1/D3
      frontier[i+1] = extracted ∪ overflow, depth-gated              A4

All loop state is localCheckpoint()-ed each iteration (breaks Catalyst
lineage growth); with ``cfg.checkpoint_dir`` every iteration also commits
frontier/seen/edges/images/errors snapshots through SnapshotStore, and
``Crawler.resume()`` continues bit-identically from the last commit
(deterministic data plane: no wall clock, no RNG).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.operators.dedup import SeenFilter, anti_join_seen
from xcrawl3r_spark.operators.extract import extract_links
from xcrawl3r_spark.operators.politeness import (
    collapse_robots_rules,
    parse_robots_rules,
    politeness_flag,
    robots_flag,
)
from xcrawl3r_spark.sinks.tables import SnapshotStore, write_bucketed

FRONTIER_COLS = ["seed_id", "url", "url_hash", "dedup_key", "host", "depth",
                 "disc_iter", "src_url"]


def _ckpt(df: DataFrame) -> DataFrame:
    """Materialize loop state + truncate lineage, on serialized DISK_ONLY
    blocks. localCheckpoint's default deserialized-memory storage level
    serializes writers on block-manager/memory-store locks: measured at
    local[32] it is ~7x slower than DISK_ONLY for the same frame and gets
    *slower* with more cores (see BENCH/BASELINE.md). Disk blocks are
    written once, read once per downstream branch, and scale with the
    writer count — on a real cluster this is also the level that survives
    executor memory pressure without recompute storms."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class CrawlResult:
    edges: DataFrame    # seed_id, src_url, url, kind, depth, iter
    seen: DataFrame     # seed_id, url, url_hash, dedup_key, host, depth, iter
    images: DataFrame   # seed_id, url, iter
    errors: DataFrame   # seed_id, url, error, stage, iter
    iterations: int = 0
    #: per-iteration wall-clock phase timings + row counts (A6 metrics)
    metrics: list[dict] = field(default_factory=list)
    #: the final probabilistic seen-filter (all seen keys folded), or None
    #: with bloom_enabled off. Self-describing: it carries its kind and
    #: geometry, so expire_seen()/crawl(initial_filter=...) on any Crawler
    #: probe and extend it with the geometry that built it
    seen_filter: SeenFilter | None = None


class Crawler:
    #: session-wide run counter: each crawl() gets its own bucketed-seen
    #: table namespace. With a fixed name, two Crawlers in one session
    #: (or a later crawl while the first CrawlResult.seen is still held)
    #: would overwrite each other's seen table mid-plan.
    _run_seq = 0

    def __init__(self, spark: SparkSession, cfg: CrawlConfig | None = None):
        from xcrawl3r_spark.session import ship_package

        self.spark = spark
        ship_package(spark)  # workers need the package for UDF stages
        self.cfg = cfg or CrawlConfig()
        self._bucket_flip = 0  # ping-pong index for cfg.bucketed_seen tables
        #: this Crawler's live bucketed-seen table from its LAST crawl —
        #: dropped at the start of the next crawl() so a long-lived
        #: session (StreamingCrawler runs one crawl per micro-batch)
        #: keeps at most one run's table alive per Crawler. Consequence
        #: (documented): starting a new crawl() on the same Crawler
        #: invalidates the previous CrawlResult.seen when
        #: cfg.bucketed_seen is on — collect what you need first.
        self._prev_bucket_tables: list[str] = []
        self.store = (SnapshotStore(spark, self.cfg.checkpoint_dir)
                      if self.cfg.checkpoint_dir else None)

    # -- column helpers -------------------------------------------------
    def _dedup_key(self) -> F.Column:
        """64-bit dedup key. Per-seed scope = fresh collector per seed
        (xcrawl3r.go:52); hash-only membership mirrors colly's FNV-64
        InMemoryStorage (hash set, not string set)."""
        if self.cfg.global_dedup:
            return F.xxhash64("url")
        return F.xxhash64("seed_id", "url")

    def _with_keys(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("url_hash", F.xxhash64("url"))
            .withColumn("dedup_key", self._dedup_key())
            .withColumn("host", F.lower(F.try_parse_url("url", F.lit("HOST"))))
        )

    # -- A5: range-partitioned priority buckets --------------------------
    def _priority_buckets(self, frontier: DataFrame) -> DataFrame:
        """Materialize the frontier as range-partitioned priority buckets
        (north rule): total order (depth, disc_iter, host_rank, url_hash)
        — BFS wave, then discovery time, then a stable host pseudo-rank.
        Range partitioning bounds every bucket's size at 10^10-frontier
        scale (no hash-bucket can absorb a hot key range) and gives the
        checkpointed layout priority locality; 0 buckets = off."""
        nb = self.cfg.frontier_range_partitions
        if nb is None:
            nb = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if not nb:
            return frontier
        host_rank = F.pmod(F.xxhash64("host"), F.lit(1000))
        return frontier.repartitionByRange(
            nb, F.col("depth"), F.col("disc_iter"), host_rank,
            F.col("url_hash"))

    # -- seed expansion (F6 + E4-E6), fully native ----------------------
    def seed_frontier(self, seeds: DataFrame) -> DataFrame:
        """seeds(seed_id, url) -> depth-1 frontier with robots/sitemap/.min.
        expansions (xcrawl3r.go:225-267). Canonicalization is a vectorized
        pandas UDF; expansion is native explode (no driver loop — seed
        lists can be arbitrarily large)."""
        canon = U.canonicalize_udf()
        base = (
            seeds.filter(F.length(F.trim("url")) > 0)          # F5
            .withColumn("url", canon("url"))
            .filter(F.col("url").isNotNull())
        )
        scheme = F.substring_index("url", "://", 1)
        # netloc incl. port (Go's url.Host keeps the port; parse_url HOST
        # drops it, so slice the string instead)
        netloc = F.substring_index(F.substring_index("url", "://", -1), "/", 1)
        root = F.concat(scheme, F.lit("://"), netloc)
        targets = F.array(F.col("url"))
        # seed .min. variant (visit-only, xcrawl3r.go:237-239)
        targets = F.when(
            F.col("url").contains(".min."),
            F.array_append(targets, F.regexp_replace("url", r"\.min\.", ".")),
        ).otherwise(targets)
        if self.cfg.expand_seeds:
            expansions = F.array(
                F.concat(root, F.lit("/robots.txt")),
                *[F.concat(root, F.lit(p)) for p in U.SITEMAP_PATHS],
            )
            targets = F.concat(targets, expansions)
        exploded = (
            base.select("seed_id", F.explode(targets).alias("url"))
            .withColumn("depth", F.lit(1))
            .withColumn("disc_iter", F.lit(0))
            # seeds have no discovering page -> no Referer for them
            # (extensions.Referer only fires on followed links)
            .withColumn("src_url", F.lit(None).cast("string"))
        )
        return self._with_keys(exploded).select(*FRONTIER_COLS)

    # -- TTL / windowed seen-set (re-crawl support) ----------------------
    def expire_seen(
        self, seen: DataFrame, filt: SeenFilter | None,
        before_iter: int, max_expired_collect: int = 5_000_000,
    ) -> tuple[DataFrame, SeenFilter | None]:
        """Windowed seen-set: drop rows first visited before
        ``before_iter`` so a follow-up ``crawl(initial_seen=...,
        initial_filter=...)`` re-visits them (TTL re-crawl).

        CONTRACT: the follow-up ``crawl(initial_seen=surviving, ...)``
        must pass ``start_iteration`` greater than the expired run's last
        iteration (``prev.iterations + 1``). The ``iter`` column is the
        TTL clock; restarting at the default 1 stamps re-visited URLs
        OLDER than the surviving rows, so a second expire_seen cycle
        would expire the most recently visited URLs and keep the stalest
        — the inverse of a TTL window.

        The filter's own kind decides, not this Crawler's config: a
        cuckoo filter has the expired keys DELETED incrementally (the
        capability the cuckoo fallback exists for — Bloom bits cannot be
        unset). The expired-key batch is driver-applied, bounded by the
        expiry window (one TTL quantum of URLs, NOT the lifetime seen
        set); ``max_expired_collect`` guards the bound — beyond it (or
        with Bloom) the filter is rebuilt distributed from the surviving
        rows instead, with its own geometry.
        """
        surviving = seen.filter(F.col("iter") >= before_iter)
        if filt is None:
            return surviving, None
        expired = seen.filter(F.col("iter") < before_iter).select("dedup_key")
        if filt.kind == "cuckoo" and expired.count() <= max_expired_collect:
            import numpy as np

            hashes = np.array(
                [r["dedup_key"] for r in expired.collect()], dtype=np.int64)
            return surviving, filt.delete(hashes)
        # Bloom (no deletes) or over-bound cuckoo window: distributed rebuild
        return surviving, filt.empty().build(surviving, key="dedup_key")

    # -- the BFS loop ----------------------------------------------------
    def crawl(
        self,
        seeds: DataFrame,
        pages: DataFrame | None = None,
        robots: DataFrame | None = None,
        image_payloads: DataFrame | None = None,
        start_iteration: int = 1,
        initial_frontier: DataFrame | None = None,
        initial_seen: DataFrame | None = None,
        initial_robots_rules: DataFrame | None = None,
        initial_filter: SeenFilter | None = None,
        max_iterations: int = 1000,
        on_iteration: "Callable[[int, DataFrame], None] | None" = None,
    ) -> CrawlResult:
        cfg, spark = self.cfg, self.spark
        Crawler._run_seq += 1
        run_id = Crawler._run_seq  # namespaces this run's bucketed tables
        for t in self._prev_bucket_tables:  # see __init__ — bounded catalog
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        self._prev_bucket_tables = []
        last_bucket_table: str | None = None
        scope = cfg.scope_pattern()
        empty = {
            "edges": spark.createDataFrame(
                [], "seed_id string, src_url string, url string, kind string, "
                    "depth int, iter int"),
            "images": spark.createDataFrame([], "seed_id string, url string, iter int"),
            "errors": spark.createDataFrame(
                [], "seed_id string, url string, error string, stage string, iter int"),
        }
        seen_schema = ", ".join(f"{c} {t}" for c, t in [
            ("seed_id", "string"), ("url", "string"), ("url_hash", "long"),
            ("dedup_key", "long"), ("host", "string"), ("depth", "int"),
            ("iter", "int")])

        if initial_frontier is not None:
            frontier = initial_frontier
            if "src_url" not in frontier.columns:
                # frontiers built before the Referer column existed (old
                # snapshots, replay harnesses) — no discovering page known
                frontier = frontier.withColumn(
                    "src_url", F.lit(None).cast("string"))
        else:
            # seeds pass through the same scope gate as everything else
            # (colly URLFilters applies to seed visits too, xcrawl3r.go:273)
            frontier = self.seed_frontier(seeds).filter(F.col("url").rlike(scope))
        frontier = _ckpt(self._priority_buckets(frontier))
        seen0 = _ckpt(
            initial_seen
            if initial_seen is not None
            else spark.createDataFrame([], seen_schema)
        )

        # seen = lazy union of per-iteration increments (each a cheap filter
        # over a checkpointed parent); collapsed every SEEN_COLLAPSE_EVERY
        # iterations so the anti-join plan never grows unboundedly.
        SEEN_COLLAPSE_EVERY = 8
        seen_parts: list[DataFrame] = [seen0]
        seen = seen0

        # Incremental seen-filter over dedup_key: fold in each iteration's
        # NEW rows only, never rescan the whole seen set.
        # ``initial_filter`` (e.g. from expire_seen's incremental cuckoo
        # delete) skips the full rebuild over initial_seen; it keeps its
        # own kind and geometry — cfg's filter settings only shape a fresh
        # filter.
        seen_filter: SeenFilter | None = None
        if cfg.bloom_enabled:
            if initial_filter is not None:
                seen_filter = initial_filter
            else:
                seen_filter = SeenFilter.for_config(cfg)
                if initial_seen is not None:
                    seen_filter = seen_filter.build(seen0, key="dedup_key")

        # None -> mined from fetched robots bodies; a resumed run restores
        # the rules mined by its completed iterations (bit-identity)
        robots_rules = robots if robots is not None else initial_robots_rules
        BLOOM_FOLD_EVERY = 4
        fold_pending: list[DataFrame] = []
        edges_parts: list[DataFrame] = []
        images_parts: list[DataFrame] = []
        errors_parts: list[DataFrame] = []
        metrics: list[dict] = []
        if cfg.fetch_mode != "http" and pages is None:
            raise ValueError(
                'fetch_mode="table" needs a pages DataFrame '
                '(or set cfg.fetch_mode="http" for the real fetch stage)')
        pages_k = (
            pages.withColumnRenamed("url", "page_url")
            if pages is not None else None
        )
        it = start_iteration

        while it <= max_iterations and not frontier.isEmpty():
            m: dict = {"iter": it}
            t0 = time.perf_counter()
            # (1) within-batch dedup at min depth (FIFO-first-visit parity).
            # Keyed on dedup_key so global mode collapses cross-seed dups in
            # the same batch; representative row = lexicographic min of
            # (depth, seed_id, ...) — deterministic.
            cand = (
                frontier.groupBy("dedup_key")
                .agg(F.min(F.struct("depth", "disc_iter", "seed_id", "url",
                                    "url_hash", "host", "src_url"))
                     .alias("_s"))
                .select("dedup_key", "_s.*")
            )
            # (2-5) seen anti-join -> media/robots flags -> politeness
            # window, materialized as ONE flagged frame per iteration.
            # Every downstream branch (media payload, fetch, overflow
            # requeue, seen marking) is a cheap filter over this single
            # DISK_ONLY checkpoint — the batch hits disk once, not once
            # per branch. Keys not yet folded into the probabilistic
            # filter (deferred folds, below) are handed over as
            # stale_keys so the filter's definitely-unseen bypass stays
            # sound. Ineligible rows (media-aborted F3, robots-denied)
            # ride through the politeness window flagged _elig=False:
            # they sort last, never take a budget slot, never select.
            new = anti_join_seen(
                cand, seen, key="dedup_key", seen_filter=seen_filter,
                keys_unique=True,
                stale_keys=_union(fold_pending) if fold_pending else None,
            ).withColumn("_media", U.is_media_col(F.col("url")))
            # robots enforcement (north rule, off by default). With no
            # rules table supplied, rules are mined from the robots.txt
            # bodies the crawl itself fetches (seed expansion E5 fetches
            # them in iteration 1, so enforcement starts at iteration 2 —
            # the earliest any batch crawler can honor a live-fetched
            # robots file). Media rows are exempt (never fetched).
            if cfg.obey_robots and robots_rules is not None:
                new = robots_flag(new, robots_rules)
            else:
                new = new.withColumn("_robots_ok", F.lit(True))
            elig = ~F.col("_media") & F.col("_robots_ok")
            if cfg.parallelism > 0:
                flagged = _ckpt(politeness_flag(
                    new, cfg.parallelism, cfg.skew_salt, eligible=elig))
            else:
                flagged = _ckpt(new.withColumn("_elig", elig)
                                .withColumn("_sel", elig))
            FLAGS = ["_media", "_robots_ok", "_elig", "_sel"]
            media = flagged.filter("_media").drop(*FLAGS)
            selected = flagged.filter("_sel").drop(*FLAGS)
            overflow = flagged.filter(F.col("_elig") & ~F.col("_sel")).drop(*FLAGS)
            payload_errors_it: DataFrame | None = None
            media_overflow: DataFrame | None = None
            live_payloads = (
                image_payloads is None and cfg.fetch_mode == "http"
                and cfg.ingest_images
            )
            # robots applies to media too ONCE the engine really fetches
            # them (live_payloads): denied image GETs are never issued —
            # recorded in errors, still marked seen (scheduled-and-
            # refused, like the reference's media abort). The table-join
            # path keeps the original semantics (no real fetch happens).
            if live_payloads and cfg.obey_robots:
                media_fetchable = flagged.filter(
                    F.col("_media") & F.col("_robots_ok")).drop(*FLAGS)
                payload_errors_it = (
                    flagged.filter(F.col("_media") & ~F.col("_robots_ok"))
                    .filter(U.is_image_col(F.col("url")))
                    .select("seed_id", "url",
                            F.lit("robots denied").alias("error"),
                            F.lit("payload").alias("stage"),
                            F.lit(it).alias("iter"))
                )
            else:
                media_fetchable = media
            # live image GETs honor the per-(seed,host) budget like page
            # fetches (they are real requests); overflow defers to the
            # next iteration via the frontier, NOT marked seen, so the
            # deferred rows re-enter the media branch and fetch later.
            # Only image rows compete for slots — non-image media are
            # never fetched, so they'd waste budget and delay for nothing.
            img_rows = media_fetchable.filter(U.is_image_col(F.col("url")))
            if live_payloads and cfg.parallelism > 0:
                from xcrawl3r_spark.operators.politeness import (
                    politeness_select,
                )

                img_rows, media_overflow = politeness_select(
                    img_rows, cfg.parallelism, cfg.skew_salt)
            images_it = img_rows.select(
                "seed_id", "url", F.lit(it).alias("iter"),
                F.col("src_url"))
            if image_payloads is not None and cfg.ingest_images:
                # E7/S9 payload ingestion: discovered image URLs join
                # their fetched payloads (input_hint-shaped table; the
                # sandbox stand-in for the image GET), then decode+verify
                # in the Arrow stage with per-partition lineage. Absent
                # payloads surface as pixel_ok=false rows, never drops.
                from xcrawl3r_spark.operators.images import decode_and_verify

                images_it = decode_and_verify(
                    images_it.drop("src_url").join(
                        image_payloads, "url", "left"),
                    carry=("seed_id", "url", "iter"),
                )
            elif live_payloads:
                # live-HTTP payload branch: GET each discovered image's
                # real bytes (binary — never charset-decoded; size-capped
                # per cfg.max_payload_bytes; Referer = discovering page)
                # and decode+characterize (dims/phash/lineage). No
                # reference payload exists to verify against, so the
                # output schema is CHARACTERIZE_SCHEMA, not the verify
                # schema. CHECKPOINTED: the GET is a side effect — a lazy
                # tail would re-fire every request once per action over
                # res.images.
                from xcrawl3r_spark.operators.fetch import (
                    http_fetch_payloads,
                )
                from xcrawl3r_spark.operators.images import (
                    characterize_payloads,
                )

                images_it = _ckpt(characterize_payloads(
                    http_fetch_payloads(images_it, cfg),
                    carry=("seed_id", "url", "iter"),
                ))
                # failed GETs surface in errors like page fetches do,
                # classified on the transport's explicit outcome marker
                # (NOT on null-patterns: an over-cap truncated payload
                # keeps a non-null content type, and a completed 200
                # fetch of a non-image content type is NOT a fetch
                # failure — it stays out of errors, decoded_ok=false in
                # the images output is its record)
                fetch_errs = (
                    images_it.filter(F.col("payload_outcome") != "fetched")
                    .select(
                        "seed_id", "url",
                        F.when(
                            F.col("payload_outcome") == "truncated",
                            F.concat(
                                F.lit("payload too large (status "),
                                F.col("payload_status"), F.lit(")")),
                        ).otherwise(F.coalesce(
                            F.concat(F.lit("status "),
                                     F.col("payload_status")),
                            F.lit("fetch failed"))).alias("error"),
                        F.lit("payload").alias("stage"), "iter")
                )
                payload_errors_it = (
                    fetch_errs if payload_errors_it is None
                    else payload_errors_it.unionByName(fetch_errs)
                )
            else:
                images_it = images_it.drop("src_url")
            # (6) mark seen: every scheduled request, incl. media-aborted.
            # Live-mode media deferred by the payload budget are NOT seen
            # yet (their fetch is postponed, not refused).
            seen_cond = F.col("_sel") | F.col("_media")
            seen_it = (
                flagged.filter(seen_cond)
                .select("seed_id", "url", "url_hash", "dedup_key", "host", "depth")
                .withColumn("iter", F.lit(it))
            )
            if media_overflow is not None:
                seen_it = seen_it.join(
                    media_overflow.select("url"), "url", "left_anti")
            m["t_new"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            # (7) fetch: either the real Arrow-batched HTTP stage
            # (fetch_mode="http" — honors timeout/headers/proxies, per-row
            # error capture) or the deterministic equi-join vs the pages
            # table (the sandbox test double; the join hashes on url, so
            # host skew cannot concentrate — AQE picks the physical join).
            # Both produce identical schemas, so everything downstream —
            # error split, extraction, robots mining — is mode-agnostic.
            if cfg.fetch_mode == "http":
                from xcrawl3r_spark.operators.fetch import http_fetch

                # CHECKPOINTED like the image payload stage: the GET is
                # a side effect, and `fetched` feeds TWO consumers with
                # independent lineage (errors_it below and the extracted
                # checkpoint) — a lazy fetch re-fires every request once
                # per consumer (store runs re-GET each page on the
                # errors commit; storeless runs re-GET when the caller
                # materializes res.errors). One materialization per
                # iteration, every consumer reads the disk blocks.
                fetched = _ckpt(http_fetch(selected, cfg))
            else:
                fetched = selected.join(
                    pages_k, selected.url == pages_k.page_url, "left"
                ).drop("page_url")
            errors_it = (
                fetched.filter(F.col("body").isNull() | (F.col("status") != 200))
                .select("seed_id", "url",
                        F.coalesce(F.concat(F.lit("status "), F.col("status")),
                                   F.lit("fetch failed")).alias("error"),
                        F.lit("fetch").alias("stage"), F.lit(it).alias("iter"))
            )
            ok = fetched.filter(F.col("body").isNotNull() & (F.col("status") == 200))
            ok = ok.withColumn("is_file", U.is_file_col(F.col("url")))
            mined_inc: DataFrame | None = None
            if cfg.obey_robots and robots is None:
                # rules table stays tiny (one row per host with a fetched
                # robots.txt). A host CAN repeat across iterations (per-seed
                # dedup scope: each seed fetches its own copy; politeness
                # overflow defers expansion fetches), so the union is
                # re-collapsed to one row per host — robots_filter joins on
                # host and duplicate rows would fan out frontier rows.
                mined_inc = parse_robots_rules(
                    ok.filter(F.col("url").endswith("/robots.txt"))
                    .select("host", "body"))
                robots_rules = _ckpt(
                    mined_inc if robots_rules is None
                    else collapse_robots_rules(
                        robots_rules.unionByName(mined_inc)))
            # (8) extraction (Arrow-batched) + scope filter on emits/visits
            extracted = extract_links(ok).filter(F.col("url").rlike(scope))
            extracted = _ckpt(extracted)
            m["t_fetch_extract"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            edges_it = (
                extracted.filter(F.col("kind") != "minvisit")
                .withColumn("iter", F.lit(it))
            )
            # (9) next frontier: children at depth+1, depth-gated (A4),
            # plus politeness overflow (same depth, just delayed)
            child = extracted.select(
                "seed_id", F.col("url"), (F.col("depth") + 1).alias("depth"),
                # the discovering page -> next fetch's Referer
                # (extensions.Referer, xcrawl3r.go:307)
                F.col("src_url"),
            ).withColumn("disc_iter", F.lit(it))
            if cfg.depth > 0:
                child = child.filter(F.col("depth") <= cfg.depth)
            frontier_next = self._with_keys(child).select(*FRONTIER_COLS)
            requeue = overflow.select(*FRONTIER_COLS)
            if media_overflow is not None:
                # payload-budget-deferred media re-enter unchanged (same
                # depth — delay, not drop; they were NOT marked seen)
                requeue = requeue.unionByName(
                    media_overflow.select(*FRONTIER_COLS))
            frontier = self._priority_buckets(
                frontier_next.unionByName(requeue)
            )
            # The frontier is a cheap bounded-depth transform over this
            # iteration's ALREADY-checkpointed extracted/flagged frames, so
            # its own checkpoint buys no lineage truncation — only a
            # per-iteration materialization job (~20% of loop jobs; fixed
            # job overhead dominates small BFS waves). Materialize it only
            # when a snapshot store commits it anyway (the commit is the
            # materialization) or when range-bucketing wants layout.
            if self.store is not None or cfg.frontier_range_partitions:
                frontier = _ckpt(frontier)

            # edges/images/errors parts stay LAZY: they are cheap filters
            # over checkpointed parents, materialized once at the end (or
            # by the store commit below).
            seen_parts.append(seen_it)
            seen = seen.unionByName(seen_it)
            if len(seen_parts) >= SEEN_COLLAPSE_EVERY:
                if cfg.bucketed_seen:
                    # persist the collapsed seen set hash-bucketed on the
                    # anti-join key: subsequent iterations' anti-joins read
                    # it with no exchange on the seen side (the 10^10-row
                    # side); only the small per-iteration candidate batch
                    # shuffles. Ping-pong names: a catalog table cannot be
                    # overwritten while the plan still reads it.
                    name = (f"xcrawl3r_seen_bucketed_r{run_id}"
                            f"_{self._bucket_flip}")
                    self._bucket_flip ^= 1
                    write_bucketed(seen, name, "dedup_key",
                                   cfg.bucketed_seen, sort_col="dedup_key")
                    seen = spark.table(name)
                    last_bucket_table = name
                else:
                    seen = _ckpt(seen)
                seen_parts = [seen]
            edges_parts.append(edges_it)
            images_parts.append(images_it)
            if payload_errors_it is not None:
                errors_it = errors_it.unionByName(payload_errors_it)
            errors_parts.append(errors_it)
            if seen_filter is not None:
                # fold NEW keys into the filter every few iterations, not
                # every one: the filter is a pre-prune only — keys not yet
                # folded are still caught by the exact anti-join (staleness
                # is safe, it just prunes less) — and each fold is a full
                # job whose fixed overhead dominates small BFS waves.
                fold_pending.append(seen_it.select("dedup_key"))
                if len(fold_pending) >= BLOOM_FOLD_EVERY:
                    seen_filter = seen_filter.build(
                        _union(fold_pending), key="dedup_key")
                    fold_pending = []
            m["t_frontier"] = round(time.perf_counter() - t0, 3)

            if self.store is not None:
                t0 = time.perf_counter()
                self.store.commit(seen_it, "seen", it)
                self.store.commit(edges_parts[-1], "edges", it)
                self.store.commit(images_parts[-1], "images", it)
                self.store.commit(errors_parts[-1], "errors", it)
                if mined_inc is not None:
                    # committed BEFORE frontier: resume() keys off the
                    # frontier's last commit, so rules for any resumable
                    # iteration must already be durable (crash between the
                    # two leaves an orphan rules commit, which upto= drops)
                    self.store.commit(mined_inc, "robots_rules", it)
                self.store.commit(frontier, "frontier", it)
                m["t_store"] = round(time.perf_counter() - t0, 3)
            if on_iteration is not None:
                # as-discovered streaming hook (the reference's consumer
                # prints each ResultURL off a channel as the crawl runs,
                # cmd/xcrawl3r/main.go:296-307): hand this iteration's D3
                # emit increment to the caller AFTER the store commit, so
                # a consumer never sees rows a crash would un-commit.
                # edges_it is a cheap filter over this iteration's
                # checkpointed parent — consuming it here costs one small
                # job, not a recompute of the wave.
                on_iteration(it, edges_it)
            metrics.append(m)
            it += 1

        def cat(parts, key):
            return _union(parts) if parts else empty[key]

        if last_bucket_table is not None:
            # the final seen reads only the LAST-written flip; the other
            # flip's table (re-written every other collapse) is dead —
            # drop it now, remember the live one for the next crawl()
            for i in (0, 1):
                t = f"xcrawl3r_seen_bucketed_r{run_id}_{i}"
                if t != last_bucket_table:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
            self._prev_bucket_tables = [last_bucket_table]

        if seen_filter is not None and fold_pending:
            # fold the tail increments so the returned filter covers the
            # whole seen set (TTL re-crawl feeds it back via initial_filter)
            seen_filter = seen_filter.build(
                _union(fold_pending), key="dedup_key")

        return CrawlResult(
            edges=cat(edges_parts, "edges"),
            seen=seen,
            images=cat(images_parts, "images"),
            errors=cat(errors_parts, "errors"),
            iterations=it - start_iteration,
            metrics=metrics,
            seen_filter=seen_filter,
        )

    def resume(
        self, seeds: DataFrame, pages: DataFrame,
        robots: DataFrame | None = None,
        image_payloads: DataFrame | None = None,
        on_iteration: "Callable[[int, DataFrame], None] | None" = None,
    ) -> CrawlResult:
        """Continue a checkpointed crawl from its last committed iteration.

        Re-runs nothing that committed; the deterministic data plane makes
        the combined output bit-identical to an uninterrupted run."""
        if self.store is None:
            raise ValueError("resume() requires cfg.checkpoint_dir")
        last = self.store.last_iteration("frontier")
        if last is None:
            return self.crawl(seeds, pages, robots, image_payloads,
                              on_iteration=on_iteration)
        frontier = self.store.read_iteration("frontier", last)
        seen = self.store.read("seen", upto=last)
        # Restore robots rules mined by completed iterations: without this
        # an obey_robots run with mined (not supplied) rules would resume
        # unenforced and diverge from an uninterrupted run. Increments are
        # committed per iteration; their union re-collapses to the exact
        # in-loop state (arrays are sorted/deduped -> order-insensitive).
        rules = None
        if self.cfg.obey_robots and robots is None:
            committed = self.store.read("robots_rules", upto=last)
            if committed is not None:
                rules = collapse_robots_rules(
                    committed.select("host", "allow", "deny"))
        res = self.crawl(
            seeds, pages, robots, image_payloads,
            start_iteration=last + 1,
            initial_frontier=frontier,
            initial_seen=seen,
            initial_robots_rules=rules,
            on_iteration=on_iteration,
        )
        # stitch committed history with the new tail
        edges = self.store.read("edges")
        images = self.store.read("images")
        errors = self.store.read("errors")
        return CrawlResult(
            edges=edges if edges is not None else res.edges,
            seen=res.seen,
            images=images if images is not None else res.images,
            errors=errors if errors is not None else res.errors,
            iterations=res.iterations + last,
            metrics=res.metrics,
            seen_filter=res.seen_filter,
        )
