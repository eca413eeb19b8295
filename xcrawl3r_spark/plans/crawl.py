"""The crawl plan: batch BFS over a priority frontier.

Public API mirrors the reference's one-constructor-one-method surface
(pkg/xcrawl3r/xcrawl3r.go:387 ``New``, :34 ``Crawl``):

    Crawler(spark, cfg).crawl(seeds_df, pages_df) -> CrawlResult

Per-iteration dataflow (SURVEY §3.4):

    frontier[i] --(within-batch dedup, min depth)--> candidates
      --(exact left-anti vs seen)-->                new URLs          D1/D2
      --(media flag: image exts -> payload branch, marked seen)-->    F3
      --(robots allow/deny broadcast join -> flag, optional)-->       north
      --(per-(seed,host) budget top-k; ineligible rows ride along
         flagged — ONE checkpoint/iter; overflow requeued)-->         A1
      --(fetch = left join vs pages on url)-->                        S4
      --(mapInPandas extraction: href/src/regex + .min. variants)--> E1-E4
      --(scope rlike)--> edges append (emit-per-occurrence)          F1/D3
      frontier[i+1] = extracted ∪ overflow, depth-gated              A4

Each iteration localCheckpoint()s its two wide frames, ``flagged`` and
``extracted`` (breaks Catalyst lineage growth); failed fetches ride the
``extracted`` checkpoint as ``kind='error'`` rows, so the fetch join
runs once. Every crawl output — seen, edges, images, errors and the next
frontier — is one view over a wave's frames (``Crawler._seen`` ...
``_frontier``), the same for the loop, ``resume()`` and
``StreamingCrawler``. The loop runs no job of its own to decide whether
to go on: Observations on those checkpoints count the next frontier's
rows (children within the depth limit + requeued overflow) while the
checkpoint jobs run, and the same counts fill the ``rows_*`` keys of
``CrawlResult.metrics``. With ``cfg.checkpoint_dir`` every iteration
also commits the frames it checkpointed (``flagged``, ``extracted``,
plus the live payload ranking and images and the mined robots rules
where it makes them) as one all-or-nothing ``SnapshotStore.commit_wave``,
and ``Crawler.resume()`` continues bit-identically from the last
committed wave (deterministic data plane: no wall clock, no RNG).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.operators.dedup import anti_join_seen
from xcrawl3r_spark.operators.extract import extract_links
from xcrawl3r_spark.operators.politeness import (
    collapse_robots_rules,
    parse_robots_rules,
    politeness_flag,
    robots_flag,
)
from xcrawl3r_spark.sinks.tables import SnapshotStore

#: the frontier's columns
FRONTIER_COLS = ["seed_id", "url", "url_hash", "dedup_key", "host", "depth",
                 "disc_iter", "src_url"]
#: result schemas of a crawl that ran no iteration
EMPTY_SCHEMAS = {
    "edges": "seed_id string, src_url string, url string, kind string, "
             "depth int, iter int",
    "images": "seed_id string, url string, iter int",
    "errors": "seed_id string, url string, error string, stage string, "
              "iter int",
    "seen": "seed_id string, url string, url_hash bigint, dedup_key bigint, "
            "host string, depth int, iter int",
}
#: the frames a wave stores (``flagged`` and ``extracted`` always; the live
#: payload ranking and images where the wave makes them) and every view
#: reads; ``robots_rules`` is stored beside them
WAVE_TABLES = ("flagged", "extracted", "ranked", "images")


def _cols(key: str) -> list[str]:
    return [c.split()[0] for c in EMPTY_SCHEMAS[key].split(", ")]


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


def _ckpt_counts(df: DataFrame, **conds: F.Column) -> tuple[DataFrame, dict]:
    """``_ckpt`` plus ``{name: count_if(cond)}`` over the checkpointed
    rows, observed while the checkpoint job runs — no job of its own."""
    obs = Observation()
    out = _ckpt(df.observe(
        obs, *[F.count_if(c).alias(k) for k, c in conds.items()]))
    return out, obs.get


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """A zero-partition frame: unions and joins over it launch no task
    (``createDataFrame([])`` parallelizes through Python workers)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class CrawlResult:
    # the four frames are views over the waves' frames (Crawler._seen ..)
    edges: DataFrame    # seed_id, src_url, url, kind, depth, iter
    seen: DataFrame     # seed_id, url, url_hash, dedup_key, host, depth, iter
    images: DataFrame   # seed_id, url, iter (+ decode/characterize columns)
    errors: DataFrame   # seed_id, url, error, stage, iter
    iterations: int = 0
    #: per-iteration phase timings (``t_*``, wall-clock seconds) and row
    #: counts: ``rows_new`` (unseen candidates), ``rows_seen`` (marked
    #: seen), ``rows_overflow`` (requeued by a politeness budget, pages and
    #: live image GETs), ``rows_extracted`` (in-scope emits + visits) and
    #: ``rows_frontier_next`` (the next iteration's frontier)
    metrics: list[dict] = field(default_factory=list)


class Crawler:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig | None = None):
        from xcrawl3r_spark.session import ship_package

        self.spark = spark
        ship_package(spark)  # workers need the package for UDF stages
        self.cfg = cfg = cfg or CrawlConfig()
        self.store = (SnapshotStore(spark, cfg.checkpoint_dir)
                      if cfg.checkpoint_dir else None)
        # URL-class columns, built once per crawler rather than once per
        # wave or view: each builder is a chain of driver->JVM calls
        url = F.col("url")
        self._in_scope = url.rlike(cfg.scope_pattern())
        self._is_media, self._is_image = U.is_media_col(url), U.is_image_col(url)
        self._is_file = U.is_file_col(url)
        # children within the depth limit (A4) enter the next frontier
        self._in_depth = (F.col("depth") + 1 <= cfg.depth if cfg.depth > 0
                          else F.lit(True))

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
    def _range_buckets(self) -> int:
        """The frontier's range-bucket count: ``frontier_range_partitions``,
        None = spark.sql.shuffle.partitions, 0 = off."""
        nb = self.cfg.frontier_range_partitions
        if nb is None:
            nb = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return nb

    def _priority_buckets(self, frontier: DataFrame) -> DataFrame:
        """Materialize the frontier as range-partitioned priority buckets
        (north rule): total order (depth, disc_iter, host_rank, url_hash)
        — BFS wave, then discovery time, then a stable host pseudo-rank.
        Range partitioning bounds every bucket's size at 10^10-frontier
        scale (no hash-bucket can absorb a hot key range) and gives the
        checkpointed layout priority locality; 0 buckets = off."""
        nb = self._range_buckets()
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
        # uncanonicalizable seeds (NULL) explode to NULL targets, dropped
        # below: a NULL filter right after the UDF would be pushed below
        # its projection and run the UDF twice
        base = (
            seeds.filter(F.length(F.trim("url")) > 0)          # F5
            .withColumn("url", canon("url"))
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
            .filter(F.col("url").isNotNull())
            .withColumn("depth", F.lit(1))
            .withColumn("disc_iter", F.lit(0))
            # seeds have no discovering page -> no Referer for them
            # (extensions.Referer only fires on followed links)
            .withColumn("src_url", F.lit(None).cast("string"))
        )
        return self._with_keys(exploded).select(*FRONTIER_COLS)

    # -- TTL / windowed seen-set (re-crawl support) ----------------------
    def expire_seen(self, seen: DataFrame, before_iter: int) -> DataFrame:
        """Windowed seen-set: drop rows first visited before
        ``before_iter`` so a follow-up ``crawl(initial_seen=...)``
        re-visits them (TTL re-crawl).

        CONTRACT: the follow-up ``crawl(initial_seen=surviving, ...)``
        must pass ``start_iteration`` greater than the expired run's last
        iteration (``prev.iterations + 1``). The ``iter`` column is the
        TTL clock; restarting at the default 1 stamps re-visited URLs
        OLDER than the surviving rows, so a second expire_seen cycle
        would expire the most recently visited URLs and keep the stalest
        — the inverse of a TTL window.
        """
        return seen.filter(F.col("iter") >= before_iter)

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
        max_iterations: int = 1000,
        on_iteration: "Callable[[int, DataFrame], None] | None" = None,
    ) -> CrawlResult:
        cfg, spark = self.cfg, self.spark
        if initial_frontier is not None:
            frontier = initial_frontier
        else:
            # seeds pass through the same scope gate as everything else
            # (colly URLFilters applies to seed visits too, xcrawl3r.go:273)
            frontier = self.seed_frontier(seeds).filter(self._in_scope)
        frontier, counted = _ckpt_counts(
            self._priority_buckets(frontier), rows=F.lit(True))
        frontier_rows = counted["rows"]

        # seen = lazy union of per-iteration increments (each a cheap filter
        # over a checkpointed parent), None until there is one: a wave with
        # nothing seen yet runs no anti-join. Every SEEN_COLLAPSE_EVERY
        # parts the union is checkpointed into one frame, so the anti-join
        # plan never grows unboundedly.
        SEEN_COLLAPSE_EVERY = 8
        seen = _ckpt(initial_seen) if initial_seen is not None else None
        seen_parts = 0 if seen is None else 1

        # None -> mined from fetched robots bodies; a resumed run restores
        # the rules mined by its completed iterations (bit-identity)
        robots_rules = robots if robots is not None else initial_robots_rules
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
        # live-HTTP image GETs: the engine really fetches media payloads
        live_payloads = (
            image_payloads is None and cfg.fetch_mode == "http"
            and cfg.ingest_images
        )
        it = start_iteration

        while it <= max_iterations and frontier_rows > 0:
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
            # per branch. The exact anti-join is the only membership
            # test. Ineligible rows (media-aborted F3, robots-denied)
            # ride through the politeness window flagged _elig=False:
            # they sort last, never take a budget slot, never select.
            if seen is not None:
                cand = anti_join_seen(cand, seen, keys_unique=True)
            new = cand.withColumn("_media", self._is_media)
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
                flagged = politeness_flag(
                    new, cfg.parallelism, cfg.skew_salt, eligible=elig)
            else:
                flagged = new.withColumn("_elig", elig).withColumn("_sel", elig)
            flagged, counted = _ckpt_counts(
                flagged.withColumn("iter", F.lit(it)), rows_new=F.lit(True),
                rows_seen=F.col("_sel") | F.col("_media"),
                rows_overflow=F.col("_elig") & ~F.col("_sel"))
            m.update(counted)
            w = {"flagged": flagged}
            FLAGS = ["_media", "_robots_ok", "_elig", "_sel"]
            deferred = 0
            if live_payloads:
                # live-HTTP payload branch: GET each discovered image's
                # real bytes (binary — never charset-decoded; size-capped
                # per cfg.max_payload_bytes; Referer = discovering page)
                # and decode+characterize (dims/phash/lineage). Robots
                # applies to media once the engine really fetches them:
                # denied image GETs are never issued (the errors view
                # records them; they stay seen, scheduled-and-refused like
                # the reference's media abort). Only image rows are
                # fetched — non-image media never are.
                from xcrawl3r_spark.operators.fetch import (
                    http_fetch_payloads,
                )
                from xcrawl3r_spark.operators.images import (
                    characterize_payloads,
                )

                img_rows = flagged.filter(
                    F.col("_media") & F.col("_robots_ok") & self._is_image
                ).drop(*FLAGS)
                if cfg.parallelism > 0:
                    # image GETs honor the per-(seed,host) budget like page
                    # fetches (they are real requests); the overflow defers
                    # to the next iteration via the frontier, NOT marked
                    # seen, so it re-enters the media branch and fetches
                    # later. The ranking is checkpointed once (the fetch,
                    # the seen view and the frontier view read it) and
                    # counts the deferred rows for the frontier size.
                    ranked, counted = _ckpt_counts(
                        politeness_flag(img_rows, cfg.parallelism,
                                        cfg.skew_salt),
                        deferred=~F.col("_sel"))
                    w["ranked"] = ranked
                    img_rows = ranked.filter("_sel").drop("_sel")
                    deferred = counted["deferred"]
                    m["rows_seen"] -= deferred
                # CHECKPOINTED: the GET is a side effect — a lazy tail
                # would re-fire every request once per action over
                # res.images. No reference payload exists to verify
                # against, so the schema is CHARACTERIZE_SCHEMA.
                w["images"] = _ckpt(characterize_payloads(
                    http_fetch_payloads(
                        img_rows.select("seed_id", "url", "iter", "src_url"),
                        cfg),
                    carry=("seed_id", "url", "iter"),
                ))
            m["t_new"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            # (7) fetch: either the real Arrow-batched HTTP stage
            # (fetch_mode="http" — honors timeout/headers/proxies, per-row
            # error capture) or the deterministic equi-join vs the pages
            # table (the sandbox test double; the join hashes on url, so
            # host skew cannot concentrate — AQE picks the physical join).
            # Both produce identical schemas, so everything downstream —
            # error split, extraction, robots mining — is mode-agnostic.
            selected = flagged.filter("_sel").drop(*FLAGS)
            if cfg.fetch_mode == "http":
                from xcrawl3r_spark.operators.fetch import http_fetch

                # CHECKPOINTED like the image payload stage: the GET is a
                # side effect, and the extraction and the robots mining
                # each read `fetched` — a lazy fetch would re-fire every
                # request once per consumer.
                fetched = _ckpt(http_fetch(selected, cfg))
            else:
                fetched = selected.join(
                    pages_k, selected.url == pages_k.page_url, "left"
                ).drop("page_url")
            ok = F.col("body").isNotNull() & (F.col("status") == 200)
            mined_inc: DataFrame | None = None
            if cfg.obey_robots and robots is None:
                # rules table stays tiny (one row per host with a fetched
                # robots.txt). A host CAN repeat across iterations (per-seed
                # dedup scope: each seed fetches its own copy; politeness
                # overflow defers expansion fetches), so the union is
                # re-collapsed to one row per host — robots_filter joins on
                # host and duplicate rows would fan out frontier rows.
                mined_inc = parse_robots_rules(
                    fetched.filter(ok & F.col("url").endswith("/robots.txt"))
                    .select("host", "body"))
                robots_rules = _ckpt(
                    mined_inc if robots_rules is None
                    else collapse_robots_rules(
                        robots_rules.unionByName(mined_inc)))
            # (8) extraction (Arrow-batched) + scope filter on emits/visits.
            # Failed fetches pass through the same stage as kind='error'
            # rows, so the fetch join runs once: a second, filtered branch
            # over the join would read other pages columns and plan its
            # own pages broadcast.
            not_err = F.col("kind") != "error"
            extracted, counted = _ckpt_counts(
                extract_links(fetched.select(
                    "seed_id", "url", "depth", "content_type",
                    F.when(ok, F.col("body")).alias("body"),
                    self._is_file.alias("is_file"),
                    F.when(F.col("body").isNull() | (F.col("status") != 200),
                           F.coalesce(F.concat(F.lit("status "),
                                               F.col("status")),
                                      F.lit("fetch failed"))).alias("error")))
                .filter(self._in_scope | ~not_err)
                .withColumn("iter", F.lit(it)),
                rows_extracted=not_err, children=self._in_depth & not_err)
            w["extracted"] = extracted
            m["rows_extracted"] = counted["rows_extracted"]
            m["t_fetch_extract"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            # (9) next frontier: children at depth+1, depth-gated (A4),
            # plus the requeued overflow (pages and deferred image GETs).
            # Its row count decides whether the loop goes on.
            frontier = self._priority_buckets(self._frontier(w))
            m["rows_overflow"] += deferred
            m["rows_frontier_next"] = counted["children"] + m["rows_overflow"]
            frontier_rows = m["rows_frontier_next"]
            # The frontier is a cheap bounded-depth view over this
            # iteration's ALREADY-checkpointed frames, so its own
            # checkpoint buys no lineage truncation — only a per-iteration
            # materialization job (fixed job overhead dominates small BFS
            # waves). It stays lazy unless range-bucketing wants the
            # layout (a lazy range exchange would re-sample in every
            # action over it). Reading the frontier back from the store
            # instead would hand the planner the parquet files' tiny size
            # estimates: the next fetch join then broadcasts the selected
            # batch and streams the whole pages table (measured: more
            # tasks, shuffle bytes and files).
            if self._range_buckets():
                frontier = _ckpt(frontier)

            # the outputs stay LAZY: cheap views over checkpointed frames,
            # materialized once at the end (or by the caller)
            seen_it, edges_it = self._seen(w), self._edges(w)
            seen = seen_it if seen is None else seen.unionByName(seen_it)
            seen_parts += 1
            if seen_parts >= SEEN_COLLAPSE_EVERY:
                seen = _ckpt(seen)
                seen_parts = 1
            edges_parts.append(edges_it)
            images_parts.append(self._images(w, image_payloads))
            errors_parts.append(self._errors(w))
            m["t_frontier"] = round(time.perf_counter() - t0, 3)

            if self.store is not None:
                t0 = time.perf_counter()
                if mined_inc is not None:
                    w["robots_rules"] = mined_inc
                self.store.commit_wave(w, it)
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
            return _union(parts) if parts else _empty(spark, EMPTY_SCHEMAS[key])

        return CrawlResult(
            edges=cat(edges_parts, "edges"),
            seen=seen if seen is not None else _empty(
                spark, EMPTY_SCHEMAS["seen"]),
            images=cat(images_parts, "images"),
            errors=cat(errors_parts, "errors"),
            iterations=it - start_iteration,
            metrics=metrics,
        )

    # -- the outputs: one view each over a wave's frames ------------------
    # ``w`` maps WAVE_TABLES to one wave's frames (the loop) or to the
    # union of the committed waves' (resume(), StreamingCrawler); every
    # frame carries the ``iter`` that made it, so a view reads the same
    # over one wave and over history.
    def _seen(self, w: dict) -> DataFrame:
        """Every scheduled request, incl. media-aborted — except live image
        GETs the payload budget deferred (postponed, not refused)."""
        seen = w["flagged"].filter(F.col("_sel") | F.col("_media"))
        if w.get("ranked") is not None:
            # keyed on (iter, dedup_key): a URL deferred in wave k is seen
            # in the wave that fetches it; dedup_key is unique per row, so
            # with per-seed dedup one seed's copy may fetch while another
            # seed's copy of the same URL defers
            deferred = w["ranked"].filter(~F.col("_sel"))
            seen = seen.join(deferred.select("iter", "dedup_key"),
                             ["iter", "dedup_key"], "left_anti")
        return seen.select(*_cols("seen"))

    def _edges(self, w: dict) -> DataFrame:
        """Emit-per-occurrence links (D3): no .min. visits, no errors."""
        return w["extracted"].filter(
            ~F.col("kind").isin("minvisit", "error")).select(*_cols("edges"))

    def _images(self, w: dict, image_payloads: DataFrame | None) -> DataFrame:
        """Discovered image URLs: the live GETs' stored characterization,
        or a filter over ``flagged``, decoded and verified against
        ``image_payloads`` when given (E7/S9: the input_hint-shaped table
        is the sandbox stand-in for the image GET; absent payloads surface
        as pixel_ok=false rows, never drops)."""
        if w.get("images") is not None:
            return w["images"]
        images = w["flagged"].filter(F.col("_media") & self._is_image).select(
            "seed_id", "url", "iter")
        if image_payloads is not None and self.cfg.ingest_images:
            from xcrawl3r_spark.operators.images import decode_and_verify

            images = decode_and_verify(
                images.join(image_payloads, "url", "left"),
                carry=("seed_id", "url", "iter"))
        return images

    def _errors(self, w: dict) -> DataFrame:
        """Failed page fetches, plus for live image GETs the robots-denied
        ones (never issued) and the failed ones — classified on the
        transport's explicit outcome marker, NOT on null-patterns: an
        over-cap truncated payload keeps a non-null content type, and a
        completed 200 fetch of a non-image content type is NOT a fetch
        failure (decoded_ok=false in the images output is its record)."""
        parts = [w["extracted"].filter(F.col("kind") == "error").select(
            "seed_id", "url", "error", F.lit("fetch").alias("stage"), "iter")]
        images = w.get("images")
        if images is not None:
            payload = F.lit("payload").alias("stage")
            if self.cfg.obey_robots:
                parts.append(w["flagged"].filter(
                    F.col("_media") & ~F.col("_robots_ok") & self._is_image
                ).select("seed_id", "url",
                         F.lit("robots denied").alias("error"), payload,
                         "iter"))
            status = F.col("payload_status")
            parts.append(images.filter(
                F.col("payload_outcome") != "fetched").select(
                "seed_id", "url",
                F.when(F.col("payload_outcome") == "truncated", F.concat(
                    F.lit("payload too large (status "), status, F.lit(")"))
                ).otherwise(F.coalesce(F.concat(F.lit("status "), status),
                                       F.lit("fetch failed"))).alias("error"),
                payload, "iter"))
        return _union(parts)

    def _frontier(self, w: dict) -> DataFrame:
        """The next frontier: children at depth+1 within the depth limit,
        plus the page overflow and the deferred image GETs (same depth —
        delayed, not dropped)."""
        child = w["extracted"].filter(
            self._in_depth & (F.col("kind") != "error")).select(
            "seed_id", "url", (F.col("depth") + 1).alias("depth"),
            # the discovering page -> next fetch's Referer
            # (extensions.Referer, xcrawl3r.go:307)
            "src_url", F.col("iter").alias("disc_iter"))
        pieces = [self._with_keys(child),
                  w["flagged"].filter(F.col("_elig") & ~F.col("_sel"))]
        if w.get("ranked") is not None:
            pieces.append(w["ranked"].filter(~F.col("_sel")))
        return _union([p.select(*FRONTIER_COLS) for p in pieces])

    def committed(
        self, image_payloads: DataFrame | None = None,
    ) -> CrawlResult | None:
        """The store's committed waves as a result (``iterations`` = the
        last committed wave), or None before the first commit."""
        last = self.store.last_iteration()
        if last is None:
            return None
        w = {t: self.store.read(t) for t in WAVE_TABLES}
        return CrawlResult(
            edges=self._edges(w), seen=self._seen(w),
            images=self._images(w, image_payloads), errors=self._errors(w),
            iterations=last)

    def resume(
        self, seeds: DataFrame, pages: DataFrame,
        robots: DataFrame | None = None,
        image_payloads: DataFrame | None = None,
        on_iteration: "Callable[[int, DataFrame], None] | None" = None,
    ) -> CrawlResult:
        """Continue a checkpointed crawl from its last committed wave.

        Re-runs nothing that committed; the deterministic data plane makes
        the combined output bit-identical to an uninterrupted run."""
        if self.store is None:
            raise ValueError("resume() requires cfg.checkpoint_dir")
        done = self.committed(image_payloads)
        if done is None:
            return self.crawl(seeds, pages, robots, image_payloads,
                              on_iteration=on_iteration)
        last = done.iterations
        # Restore robots rules mined by completed iterations: without this
        # an obey_robots run with mined (not supplied) rules would resume
        # unenforced and diverge from an uninterrupted run. Increments are
        # committed per iteration; their union re-collapses to the exact
        # in-loop state (arrays are sorted/deduped -> order-insensitive).
        rules = None
        if self.cfg.obey_robots and robots is None:
            mined = self.store.read("robots_rules")
            if mined is not None:
                rules = collapse_robots_rules(
                    mined.select("host", "allow", "deny"))
        res = self.crawl(
            seeds, pages, robots, image_payloads,
            start_iteration=last + 1,
            initial_frontier=self._frontier(
                {t: self.store.read(t, last) for t in WAVE_TABLES}),
            initial_seen=done.seen,
            initial_robots_rules=rules,
            on_iteration=on_iteration,
        )
        # committed history and the new tail, as one set of views
        return replace(self.committed(image_payloads),
                       iterations=res.iterations + last, metrics=res.metrics)
