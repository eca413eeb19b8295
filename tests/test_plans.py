"""Physical-plan audits: the optimizations SURVEY §4.2 promises must be
visible in ``explain()`` output, not just intended. Each test asserts a
property of the optimized/physical plan that matters at 100 TB:

- parquet scans under a filter show PushedFilters (predicate pushdown);
- projected scans read only the needed columns (column pruning);
- small-dim joins are BroadcastHashJoin, never SortMerge;
- relational paths contain NO Python/Arrow eval nodes (UDFs confined to
  the declared extraction/canonicalize/bloom/image stages);
- the politeness window and anti-join paths whole-stage-codegen.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from xcrawl3r_spark.operators import dedupops, textops  # noqa: E402


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan: str, name: str) -> int:
    """Count physical-plan NODES named `name`. Formatted explain prints
    each node twice — `+- Name (5)` in the tree and `(5) Name` in the
    detail section — so a raw substring count double-counts."""
    import re

    return len(re.findall(rf"\b{name} \(\d+\)", plan))


class TestPushdownAndPruning:
    def test_filter_pushed_to_parquet_scan(self, spark, sf_dir):
        df = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderkey") < 100)
            .select("o_orderkey")
        )
        plan = plan_of(df)
        assert "PushedFilters: [" in plan
        assert "LessThan(o_orderkey,100)" in plan.replace(" ", "")

    def test_column_pruning_reaches_scan(self, spark, sf_dir):
        df = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_quantity")
        )
        plan = plan_of(df)
        # ReadSchema must contain ONLY the projected columns
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "l_orderkey" in read and "l_quantity" in read
        assert "l_comment" not in read and "l_shipdate" not in read

    def test_exact_dedup_prunes_to_two_columns(self, spark, sf_dir):
        df = dedupops.exact_dedup(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
        read = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
        assert "text" in read and "doc_id" in read
        assert "source" not in read and "lang" not in read


class TestJoinStrategies:
    def test_small_dims_broadcast(self, spark, sf_dir):
        df = entrymod.queries()["j1_broadcast_join"](spark, sf_dir)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_anti_join_is_hash_not_nested_loop(self, spark, sf_dir):
        df = entrymod.queries()["d1_anti_join"](spark, sf_dir)
        plan = plan_of(df)
        assert "LeftAnti" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_cosine_topk_broadcasts_query_side(self, spark, sf_dir):
        df = entrymod.queries()["sim_cosine_topk"](spark, sf_dir)
        plan = plan_of(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestNoPythonInRelationalPaths:
    """UDF stages are confined to the declared surface (SURVEY §2.9).
    Every other operator must stay JVM-side: no ArrowEvalPython /
    BatchEvalPython / MapInPandas nodes in their plans."""

    NATIVE_QUERIES = [
        "f1_scope_filter", "f3_ext_gate", "f7_body_cleanup",
        "d2_per_seed_scope", "d1_anti_join", "d3_emit_vs_visit",
        "a1_politeness_topk", "a6_metrics_agg", "e1_regex_extract",
        "j1_broadcast_join", "dedup_exact", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_ngram_jaccard", "text_tokens",
        "text_quality", "text_langid", "text_fingerprint", "text_winnow",
        "sim_cosine_topk", "sim_lsh_topk", "sim_near_dup",
        "text_pii", "curate_decontaminate", "curate_stratified_sample",
        "curate_pack_budget", "curate_tfidf", "stream_sessionize",
    ]

    @pytest.mark.parametrize("name", NATIVE_QUERIES)
    def test_no_python_eval_nodes(self, spark, sf_dir, name):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = plan_of(df)
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name} has Python node {node}"


class TestCodegen:
    def test_minhash_aggregate_partial_agg(self, spark, sf_dir):
        df = dedupops.minhash_signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
        plan = plan_of(df)
        # two HashAggregates around one Exchange = map-side partial min
        # (the shuffle carries one row per doc per partition, not one row
        # per shingle) — the property that matters at 100 TB
        assert count_nodes(plan, "HashAggregate") >= 2
        assert count_nodes(plan, "Exchange") == 1
        # codegen'd hash aggregate, not ObjectHashAggregate/SortAggregate
        assert "ObjectHashAggregate" not in plan
        assert "SortAggregate" not in plan

    def test_quality_score_single_stage(self, spark, sf_dir):
        df = textops.quality_score(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
        plan = plan_of(df)
        # pure map-side: one scan, one project, no exchange
        assert "Exchange" not in plan


class TestFrontierPriorityBuckets:
    def test_range_partitioning_in_plan_and_parity(self, spark):
        """A5 north rule: with frontier_range_partitions on, the frontier
        materializes through RangePartitioning on (depth, disc_iter,
        host_rank, url_hash) — and the crawl result is unchanged."""
        from xcrawl3r_spark.config import CrawlConfig
        from xcrawl3r_spark.plans.crawl import Crawler
        from xcrawl3r_spark.sources import datagen as G

        p = G.GraphParams(hosts=4, pages_per_host=6)
        crawler = Crawler(spark, CrawlConfig(
            domains=["test"], include_subdomains=True,
            frontier_range_partitions=4))
        fr = crawler._priority_buckets(
            crawler.seed_frontier(G.seeds_df(spark, p, 2)))
        plan = plan_of(fr)
        assert "RangePartitioning" in plan or "rangepartitioning" in plan.lower()

        cfg_on = CrawlConfig(domains=["test"], include_subdomains=True,
                             depth=2, frontier_range_partitions=4)
        cfg_off = CrawlConfig(domains=["test"], include_subdomains=True,
                              depth=2, frontier_range_partitions=0)
        pages = G.pages_df(spark, p, distributed=False)
        seeds = G.seeds_df(spark, p, 2)
        seen_on = {(r["seed_id"], r["url"], r["depth"]) for r in
                   Crawler(spark, cfg_on).crawl(seeds, pages).seen.collect()}
        seen_off = {(r["seed_id"], r["url"], r["depth"]) for r in
                    Crawler(spark, cfg_off).crawl(seeds, pages).seen.collect()}
        assert seen_on == seen_off


class TestNewOperatorPlans:
    def test_corpus_clean_stays_native_and_broadcasts(self, spark, sf_dir):
        """The cleaning composite must stay JVM-native (no Python/Arrow
        eval nodes — every stage is Catalyst expressions) and broadcast
        the small near-dup drop side."""
        from xcrawl3r_spark.operators.pipeline import corpus_clean

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus_clean(docs))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    def test_pagerank_plan_no_cartesian(self, spark, sf_dir):
        from xcrawl3r_spark.operators.graph import pagerank

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        e = ev.selectExpr("user_id as src", "event_id % 500 as dst")
        plan = plan_of(pagerank(e, iters=2))
        assert count_nodes(plan, "CartesianProduct") == 0, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan

    def test_decontaminate_broadcasts_benchmark(self, spark, sf_dir):
        """The benchmark n-gram side must broadcast: the 100 TB corpus
        side never shuffles its exploded n-grams, only the per-doc
        aggregation keys."""
        from xcrawl3r_spark.operators.curation import decontaminate

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(decontaminate(docs, docs.filter("doc_id % 97 = 0")))
        assert "BroadcastExchange" in plan, plan
        assert count_nodes(plan, "SortMergeJoin") == 0, plan

    def test_tfidf_partial_aggregates(self, spark, sf_dir):
        """tf and df aggregations must combine map-side (partial_count)
        before their shuffles."""
        from xcrawl3r_spark.operators.curation import tfidf_top_terms

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(tfidf_top_terms(docs))
        assert "partial_count" in plan, plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan

    def test_corpus_curate_single_scan_gates(self, spark, sf_dir):
        """The composite's six map-side gates (exact-dup key, Gopher, C4,
        repetition, lang-ID, tokens) must come from ONE text-bearing scan
        — only the minhash and decontamination branches (different fan-out
        shapes) plus doc_id-only pruned scans may add more. No Python
        nodes anywhere."""
        from xcrawl3r_spark.operators.pipeline import corpus_curate

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus_curate(docs))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        # text-bearing scans: flags + minhash + decon doc side + decon
        # bench side = 4; any further scans must be doc_id-only (pruned)
        n_text_scans = plan.count("ReadSchema: struct<doc_id:bigint,text")
        assert n_text_scans <= 4, f"{n_text_scans} text scans\n{plan}"

    def test_repetition_filters_native(self, spark, sf_dir):
        from xcrawl3r_spark.operators.textops import repetition_filters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(repetition_filters(docs))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        # every statistic is within-document (sorted-array run scan), so
        # the plan must be ONE map stage: no shuffle, no join at all
        assert count_nodes(plan, "Exchange") == 0, plan
        assert "Join" not in plan, plan


class TestR3OperatorPlans:
    def test_sketch_distinct_stays_jvm_native(self, spark, sf_dir):
        """HLL sketch aggregation must be a pure JVM hash-agg with
        map-side partials (sketch blobs shuffle, not value streams) —
        no Python/Arrow eval nodes anywhere."""
        from xcrawl3r_spark.operators import sketches

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        plan = plan_of(sketches.approx_distinct(ev, ["event_type"], "user_id"))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        assert "partial_hll_sketch_agg" in plan, plan  # map-side partial

    def test_pack_shards_single_window_shuffle(self, spark, sf_dir):
        """Shard assignment = ONE window shuffle on the group key; the
        shard_id arithmetic must not add a second exchange."""
        from xcrawl3r_spark.operators import curation

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(curation.pack_shards(docs, shard_tokens=400))
        assert count_nodes(plan, "Exchange") == 1, plan
        assert count_nodes(plan, "Window") == 1, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan

    def test_host_rank_no_cartesian_no_python(self, spark, sf_dir):
        from xcrawl3r_spark.operators.graph import host_rank

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        edges = ev.selectExpr(
            "concat('https://h', user_id % 40, '.test/p') as src_url",
            "concat('https://h', event_id % 60, '.test/q') as url")
        plan = plan_of(host_rank(edges, iters=2))
        assert count_nodes(plan, "CartesianProduct") == 0, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan

    def test_pagerank_dangling_share_is_broadcast(self, spark, sf_dir):
        """The per-round dangling share joins as a broadcast of a 1-row
        aggregate — never a shuffled join, never a driver collect."""
        from xcrawl3r_spark.operators.graph import pagerank

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        e = ev.selectExpr("user_id as src", "event_id % 500 as dst")
        # checkpoint_every=3 > iters keeps the lineage visible for the
        # audit (redistribute's DEFAULT truncates it every 2 rounds —
        # asserted separately below)
        plan = plan_of(pagerank(e, iters=2, dangling="redistribute",
                                checkpoint_every=3))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan
        # the unset-knob default must truncate (the mode references the
        # rank lineage twice per round -> ~2^iters plan growth otherwise):
        # after the round-2 checkpoint the returned plan is a scan of the
        # materialized rank, not the unrolled join tree
        dflt = plan_of(pagerank(e, iters=2, dangling="redistribute"))
        assert "BroadcastNestedLoopJoin" not in dflt
        assert "ExistingRDD" in dflt or "Scan" in dflt

    def test_kmv_topk_windows_are_group_limited(self, spark, sf_dir):
        """source_similarity's two row_number<=k passes must compile to
        WindowGroupLimit (partial+final rank-limit pushdown) — the
        bounded-memory fixed-k sketch aggregation; a plain Window here
        would materialize every distinct shingle hash per group."""
        from xcrawl3r_spark.operators import dedupops

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # materialize=False: the r6 default materializes the sketch table
        # once (the pairwise stage reads it twice), which truncates the
        # returned plan at the checkpoint scan — audit the sketch
        # pipeline's shape on the unmaterialized form (same expressions)
        plan = plan_of(dedupops.source_similarity(
            docs, k=16, materialize=False))
        assert count_nodes(plan, "WindowGroupLimit") >= 4, plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan
        # and the default (materialized) form must stay cartesian-free
        dflt = plan_of(dedupops.source_similarity(docs, k=16))
        assert count_nodes(dflt, "CartesianProduct") == 0, dflt

    def test_substring_spans_stays_jvm_native(self, spark, sf_dir):
        """Dense-window substring dedup must stay fully native (its scale
        posture rests on the shared bucket shuffle + window passes) —
        no Python/Arrow nodes, no cartesian."""
        from xcrawl3r_spark.operators import dedupops

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(dedupops.substring_dup_spans(docs, k=8))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan

    def test_substring_removal_stays_jvm_native(self, spark, sf_dir):
        """The applied span cut (higher-order filter over the spans
        arrays) must stay native too — no Python/Arrow nodes, no
        cartesian, and the docs join back is an equi-join."""
        from xcrawl3r_spark.operators import dedupops

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(dedupops.remove_dup_spans(docs, k=8))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan

    def test_pages_to_documents_is_shuffle_free(self, spark, sf_dir):
        """The crawl->corpus bridge is a pure scan-transform: its claim
        is ZERO shuffles and zero Python nodes — at 100 TB it rides the
        pages table's existing partitioning."""
        from pyspark.sql import functions as F

        from xcrawl3r_spark.operators.extract import pages_to_documents

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.concat(F.lit("https://"), "source", F.lit(".test/d/"),
                     "doc_id").alias("url"),
            F.lit("text/html").alias("content_type"),
            F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("body"),
            F.lit(200).alias("status"))
        plan = plan_of(pages_to_documents(pages))
        assert count_nodes(plan, "Exchange") == 0, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan

    def test_mixture_scalar_rides_as_broadcast(self, spark, sf_dir):
        """mixture_sample's weight-sum scalar must join as a broadcast
        (1-row frame), never a shuffled join or cartesian product, and
        the weight table joins broadcast too."""
        from xcrawl3r_spark.operators import curation
        from pyspark.sql import functions as F
        from xcrawl3r_spark.functions.hashing import md5_long

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        wdf = docs.select("source").distinct().select(
            "source",
            (F.lit(1) + F.pmod(md5_long(F.col("source")), F.lit(4)))
            .alias("weight"))
        plan = plan_of(curation.mixture_sample(docs, 20_000, wdf))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan


    def test_token_quantiles_single_exchange(self, spark, sf_dir):
        """The ranking window and the final aggregate both key on source,
        so the whole operator must pay exactly ONE shuffle (the window's
        hashpartitioning(source) serves the groupBy too)."""
        from xcrawl3r_spark.operators.pipeline import token_quantiles

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(token_quantiles(docs))
        assert count_nodes(plan, "Exchange") == 1, plan
        assert count_nodes(plan, "BatchEvalPython") == 0, plan

    def test_paragraph_dedup_native_no_cartesian(self, spark, sf_dir):
        """Paragraph dedup stays JVM-native: posexplode + window +
        collect_list are all Catalyst nodes, joins are equi-joins."""
        from xcrawl3r_spark.operators.dedupops import paragraph_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(paragraph_dedup(docs))
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        assert count_nodes(plan, "CartesianProduct") == 0, plan


class TestR6PairEngines:
    """r6 optimization audits: the minhash/ngram/winnow candidate
    generators emit pairs from ONE groupBy per bucket key (collect_list
    + ordered-pair explode) instead of a self-join — so their plans
    must contain NO join nodes at all (the fan-out pipeline would
    otherwise execute once per join side), and no Python stages. The
    hamming engine deliberately KEEPS its self-join (see its shape
    note), covered by the existing simhash/phash audits."""

    def _assert_joinless(self, plan):
        for node in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin", "CartesianProduct",
                     "BroadcastNestedLoopJoin"):
            assert count_nodes(plan, node) == 0, (node, plan)
        assert count_nodes(plan, "BatchEvalPython") == 0, plan
        assert count_nodes(plan, "ArrowEvalPython") == 0, plan
        # the bucket aggregation (collect_list/set) + the pair fan-out
        assert "ObjectHashAggregate" in plan, plan
        assert "Generate" in plan, plan

    def test_minhash_pairs_joinless(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        self._assert_joinless(plan_of(dedupops.minhash_lsh_pairs(docs)))

    def test_ngram_jaccard_joinless_both_paths(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        self._assert_joinless(plan_of(dedupops.ngram_jaccard_pairs(docs)))
        self._assert_joinless(plan_of(
            dedupops.ngram_jaccard_pairs(docs, max_shingle_df=64)))

    def test_winnow_pairs_joinless_both_paths(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        self._assert_joinless(plan_of(textops.winnow_pairs(docs)))
        self._assert_joinless(plan_of(
            textops.winnow_pairs(docs, max_fp_df=64)))

    def test_winnow_spans_joinless_and_shares_exchanges(self, spark, sf_dir):
        """Spans additionally: the pair-qualification window (pair key)
        and the island window (pair+side key) must NOT add exchanges
        beyond the bucket aggregation + the pair window — the island
        window's (a, b, side) requirement is satisfied by the pair
        window's hashpartitioning(a, b)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(textops.winnow_spans(docs, max_fp_df=64))
        self._assert_joinless(plan)
        # fp-group agg + pair window (+ AQE may coalesce, never add):
        # the r1-r5 join formulation carried 8+ exchanges here
        assert count_nodes(plan, "Exchange") <= 4, plan
