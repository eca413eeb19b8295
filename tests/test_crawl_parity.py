"""End-to-end crawl parity: Spark engine vs pure-Python reference simulator
on the deterministic synthetic web graph (SURVEY §5.2).

Asserts identical final URL-seen set per seed, identical edges multiset
(emit-per-occurrence, D3), identical image-URL set — at several depths and
politeness budgets. The exact seen anti-join is the loop's only
membership test: a crawl started from an earlier seen set (follow-up,
resume) fetches none of its URLs again. A Bloom seen-filter built over a
crawl's seen keys answers the anti-join exactly as the plain join does.
"""

from collections import Counter

import pytest

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.plans.crawl import WAVE_TABLES, Crawler
from xcrawl3r_spark.simulator import simulate_crawl
from xcrawl3r_spark.sources import datagen as G

P = G.GraphParams(hosts=6, pages_per_host=12)


def run_both(spark, cfg, n_seeds=3, params=P):
    pages = G.pages_dict(params)
    seeds = [(r["seed_id"], r["url"]) for r in G.seeds_rows(params, n_seeds)]
    sim = simulate_crawl(seeds, pages, cfg)

    seeds_df = G.seeds_df(spark, params, n_seeds)
    pages_df = G.pages_df(spark, params, distributed=False)
    res = Crawler(spark, cfg).crawl(seeds_df, pages_df)
    return sim, res


def seen_set(res):
    return {(r["seed_id"], r["url"]) for r in res.seen.collect()}


def edges_multiset(res):
    return Counter(
        (r["seed_id"], r["src_url"], r["url"], r["kind"], r["depth"])
        for r in res.edges.collect()
    )


@pytest.mark.parametrize("depth", [1, 2, 3])
def test_parity_depths(spark, depth):
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=depth)
    sim, res = run_both(spark, cfg)
    assert seen_set(res) == sim.seen
    assert edges_multiset(res) == Counter(sim.edges)
    assert {(r["seed_id"], r["url"]) for r in res.images.collect()} == sim.images


def test_parity_unbounded_depth(spark):
    small = G.GraphParams(hosts=3, pages_per_host=6)
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=0)
    sim, res = run_both(spark, cfg, params=small)
    assert seen_set(res) == sim.seen
    assert edges_multiset(res) == Counter(sim.edges)


def test_parity_across_seen_collapse(spark):
    """A 12-page chain runs 12 waves, so the seen set is checkpointed at
    wave 8 (the crawl's SEEN_COLLAPSE_EVERY) and later waves anti-join
    against the collapsed frame: every URL keeps its simulator depth, and
    the crawl leaves the session catalog as it found it."""
    n = 12
    pages = {
        f"https://h0.test/p/{i}": (
            "text/html",
            (f'<a href="https://h0.test/p/{i + 1}">n</a>'
             if i + 1 < n else "<p>end</p>"), 200)
        for i in range(n)
    }
    seeds = [("s0", "https://h0.test/p/0")]
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=0,
                      expand_seeds=False, parallelism=0)
    pages_df = spark.createDataFrame(
        [(u, ct, body, st) for u, (ct, body, st) in pages.items()],
        "url string, content_type string, body string, status int")
    seeds_df = spark.createDataFrame(seeds, "seed_id string, url string")
    tables = sorted(t.name for t in spark.catalog.listTables())
    res = Crawler(spark, cfg).crawl(seeds_df, pages_df)
    assert res.iterations == n
    engine = {(r["seed_id"], r["url"], r["depth"]) for r in res.seen.collect()}
    assert engine == simulate_crawl(seeds, pages, cfg).seen_depths
    assert sorted(t.name for t in spark.catalog.listTables()) == tables


def test_parity_with_bloom(spark):
    """Depth-2 parity, then the Bloom seen set over the crawl's output: a
    filter built from wave 1's seen keys holds every one of them, and the
    filter-assisted anti_join_seen of the whole seen set against wave 1
    returns exactly the later waves' rows."""
    from xcrawl3r_spark.operators.dedup import SeenFilter, anti_join_seen

    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2)
    sim, res = run_both(spark, cfg)
    assert seen_set(res) == sim.seen
    assert edges_multiset(res) == Counter(sim.edges)
    first = res.seen.filter("iter = 1")
    bloom = SeenFilter("bloom", 4, (1 << 14, 7)).build(first, key="dedup_key")
    assert bloom.probe(first, key="dedup_key").filter(
        "not maybe_seen").count() == 0
    later = res.seen.filter("iter > 1").collect()
    assert 0 < len(later) < len(sim.seen)
    got = anti_join_seen(res.seen, first, seen_filter=bloom).collect()
    assert sorted(got) == sorted(later)


def test_politeness_budget_delays_but_never_drops(spark):
    # tiny budget -> more iterations, same final sets
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2,
                      parallelism=2)
    sim, res = run_both(spark, cfg)
    assert seen_set(res) == sim.seen
    assert edges_multiset(res) == Counter(sim.edges)
    cfg_nobudget = CrawlConfig(domains=["test"], include_subdomains=True,
                               depth=2, parallelism=0)
    _, res2 = run_both(spark, cfg_nobudget)
    assert seen_set(res2) == seen_set(res)
    assert res.iterations > res2.iterations  # budget stretched the schedule


def test_per_seed_vs_global_dedup(spark):
    # two seeds on the SAME host -> guaranteed cross-seed URL overlap;
    # per-seed scope (reference-faithful, fresh collector per seed,
    # xcrawl3r.go:52) keeps both copies, global mode keeps one
    seeds = [("sA", "https://h0.test/p/0"), ("sB", "https://h0.test/p/1")]
    seeds_df = spark.createDataFrame(seeds, "seed_id string, url string")
    pages_df = G.pages_df(spark, P, distributed=False)

    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2)
    res = Crawler(spark, cfg).crawl(seeds_df, pages_df)
    sim = simulate_crawl(seeds, G.pages_dict(P), cfg)
    assert seen_set(res) == sim.seen
    per_seed_urls = [r["url"] for r in res.seen.collect()]
    assert len(per_seed_urls) > len(set(per_seed_urls))  # cross-seed overlap

    cfg_g = CrawlConfig(domains=["test"], include_subdomains=True, depth=2,
                        global_dedup=True)
    res_g = Crawler(spark, cfg_g).crawl(seeds_df, pages_df)
    urls_g = [r["url"] for r in res_g.seen.collect()]
    assert len(urls_g) == len(set(urls_g))  # globally unique
    # global dedup visits each URL at min depth across seeds, so coverage
    # is a superset of the per-seed union (children of earlier visits)
    assert set(per_seed_urls) <= set(urls_g)


def test_errors_surface_missing_pages(spark):
    # sitemaps exist but most /s/*.js variants of pages absent from the
    # graph would 404 -> recorded, not raised
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=1)
    sim, res = run_both(spark, cfg)
    got = {(r["seed_id"], r["url"]) for r in res.errors.collect()}
    want = {(s, u) for s, u, _ in sim.errors}
    assert got == want


@pytest.mark.parametrize("budget", [0, 2])
def test_crawl_ordering_bfs_wave_parity(spark, budget):
    """Crawl-ordering parity (north rule): every URL is first visited at
    the same BFS depth in the engine as in the reference-semantics
    simulator — with and without politeness delays (overflow requeues at
    the SAME depth, so ordering-by-wave is invariant to the budget)."""
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=3,
                      parallelism=budget)
    sim, res = run_both(spark, cfg)
    engine = {(r["seed_id"], r["url"], r["depth"]) for r in res.seen.collect()}
    assert engine == sim.seen_depths


# -- the loop's stop condition: observed counts, no frontier probe ---------

def test_loop_counts_replace_frontier_probe(spark, tmp_path, monkeypatch):
    """The loop decides to go on from counts observed on its own
    checkpoints (no isEmpty() job), and those counts are the per-wave
    ``rows_*`` metrics: the seen rows sum to the seen set, and each
    wave's rows_frontier_next is the size of the frontier view over
    the frames it committed."""
    from pyspark.sql import DataFrame

    def no_probe(self):
        raise AssertionError("crawl() probed a frame with isEmpty()")

    monkeypatch.setattr(DataFrame, "isEmpty", no_probe)
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=3,
                      parallelism=2, checkpoint_dir=str(tmp_path / "ckpt"))
    pages = G.pages_dict(P)
    seeds = [(r["seed_id"], r["url"]) for r in G.seeds_rows(P, 3)]
    sim = simulate_crawl(seeds, pages, cfg)
    crawler = Crawler(spark, cfg)
    res = crawler.crawl(G.seeds_df(spark, P, 3),
                        G.pages_df(spark, P, distributed=False))
    assert seen_set(res) == sim.seen
    assert edges_multiset(res) == Counter(sim.edges)

    assert len(res.metrics) == res.iterations
    assert sum(m["rows_seen"] for m in res.metrics) == res.seen.count()
    assert any(m["rows_overflow"] for m in res.metrics)  # budget bit
    for m in res.metrics:
        wave = {t: crawler.store.read(t, m["iter"]) for t in WAVE_TABLES}
        assert m["rows_frontier_next"] == crawler._frontier(wave).count()
        assert m["rows_new"] >= m["rows_seen"] + m["rows_overflow"]
    assert res.metrics[-1]["rows_frontier_next"] == 0


def test_seen_urls_are_not_fetched_again(spark, tmp_path):
    """A crawl started from an earlier crawl's seen set (``initial_seen``)
    or resumed from its snapshots fetches none of the seen URLs again."""
    from dataclasses import replace

    small = G.GraphParams(hosts=3, pages_per_host=6)
    seeds = G.seeds_df(spark, small, 2)
    pages = G.pages_df(spark, small, distributed=False)
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=3)
    durable = replace(cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    fresh = Crawler(spark, cfg).crawl(seeds, pages)
    again = Crawler(spark, cfg).crawl(
        seeds, pages, initial_seen=fresh.seen,
        start_iteration=fresh.iterations + 1)
    Crawler(spark, durable).crawl(seeds, pages, max_iterations=2)
    resumed = Crawler(spark, durable).resume(seeds, pages)
    assert fresh.iterations > 2
    # the seeds were all seen: one wave, nothing fetched again
    assert again.iterations == 1
    assert again.seen.filter(f"iter > {fresh.iterations}").count() == 0
    assert seen_set(again) == seen_set(fresh)
    assert seen_set(resumed) == seen_set(fresh)


def test_out_of_scope_seeds_run_no_iteration(spark):
    seeds = spark.createDataFrame(
        [("s0", "https://elsewhere.example/p/0"), ("s1", "not a url")],
        "seed_id string, url string")
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2)
    res = Crawler(spark, cfg).crawl(
        seeds, G.pages_df(spark, P, distributed=False))
    assert res.iterations == 0 and res.metrics == []
    assert res.seen.count() == 0 and res.edges.count() == 0


def test_overflow_alone_keeps_the_loop_going(spark):
    """depth=1 discovers no children, so after the first wave the frontier
    is politeness overflow only: with a budget of one fetch per
    (seed, host) per wave the crawl runs one wave per seed target, as
    many as the busiest (seed, host) has in the simulator."""
    from urllib.parse import urlsplit

    from xcrawl3r_spark.functions.urls import is_media_url

    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=1,
                      parallelism=1)
    sim, res = run_both(spark, cfg, n_seeds=2)
    assert seen_set(res) == sim.seen
    per_host = Counter((s, urlsplit(u).hostname)
                       for s, u, d in sim.seen_depths
                       if d == 1 and not is_media_url(u))
    waves = max(per_host.values())
    assert waves > 2
    assert res.iterations == waves
    assert [m["rows_overflow"] for m in res.metrics][-1] == 0
