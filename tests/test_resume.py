"""M4: checkpointed resume is bit-identical — kill the crawl at iteration k,
resume from the snapshot store, and the combined outputs equal an
uninterrupted run (deterministic data plane: no wall clock, no RNG)."""

import json
import shutil
from collections import Counter

import pytest

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.plans.crawl import Crawler
from xcrawl3r_spark.sources import datagen as G

P = G.GraphParams(hosts=4, pages_per_host=8)


def _cfg(tmpdir=None):
    return CrawlConfig(
        domains=["test"], include_subdomains=True, depth=3,
        checkpoint_dir=str(tmpdir) if tmpdir else None,
    )


def _edges_ms(df):
    return Counter(
        (r["seed_id"], r["src_url"], r["url"], r["kind"], r["depth"], r["iter"])
        for r in df.collect())


def _rows(df):
    return Counter(tuple(sorted(r.asDict().items())) for r in df.collect())


def _seen_set(df):
    return {(r["seed_id"], r["url"], r["depth"]) for r in df.collect()}


def test_kill_resume_bit_identity(spark, tmp_path):
    seeds = G.seeds_df(spark, P, 2)
    pages = G.pages_df(spark, P, distributed=False)

    # uninterrupted run (no checkpointing)
    full = Crawler(spark, _cfg()).crawl(seeds, pages)
    full_edges, full_seen = _edges_ms(full.edges), _seen_set(full.seen)

    # killed-at-iteration-2 run: max_iterations=2 simulates the kill AFTER
    # two committed iterations
    ckpt = tmp_path / "ckpt"
    c1 = Crawler(spark, _cfg(ckpt))
    partial = c1.crawl(seeds, pages, max_iterations=2)
    assert partial.iterations == 2
    assert c1.store.last_iteration() == 2

    # resume continues from the last committed wave, read from wherever
    # the checkpoint directory now lives: the manifest names its data
    # relative to the checkpoint directory
    moved = tmp_path / "moved"
    shutil.move(ckpt, moved)
    c2 = Crawler(spark, _cfg(moved))
    resumed = c2.resume(seeds, pages)
    assert _edges_ms(resumed.edges) == full_edges
    assert _seen_set(resumed.seen) == full_seen
    # the tail's per-iteration metrics survive the stitch: one entry per
    # iteration run after the resume
    assert resumed.iterations == full.iterations > 2
    assert len(resumed.metrics) == full.iterations - 2
    assert [m["iter"] for m in resumed.metrics] == list(
        range(3, full.iterations + 1))

    # resuming a FINISHED run is a no-op (nothing double-committed)
    c3 = Crawler(spark, _cfg(moved))
    again = c3.resume(seeds, pages)
    assert _edges_ms(again.edges) == full_edges


def test_resume_restores_mined_robots_rules(spark, tmp_path):
    """Regression (r2 advice): robots rules mined in completed iterations
    must survive a kill — a resumed obey_robots crawl previously restarted
    with no rules and stopped enforcing (diverging from an uninterrupted
    run). Chain: p/0 -> p/1 -> private/z, so /private/z is discovered at
    iteration 2 and must still be denied at iteration 3 AFTER the kill."""
    pages = [
        ("https://h0.test/robots.txt", "text/plain",
         "User-agent: *\nDisallow: /private/\n", 200),
        ("https://h0.test/p/0", "text/html",
         '<a href="https://h0.test/p/1">a</a>', 200),
        ("https://h0.test/p/1", "text/html",
         '<a href="https://h0.test/private/z">b</a>', 200),
        ("https://h0.test/private/z", "text/html", "<a></a>", 200),
    ]
    pages_df = spark.createDataFrame(
        pages, "url string, content_type string, body string, status int")
    seeds = spark.createDataFrame(
        [("s0", "https://h0.test/p/0")], "seed_id string, url string")

    def cfg(ckpt=None):
        return CrawlConfig(
            domains=["test"], include_subdomains=True, depth=4,
            obey_robots=True, expand_seeds=True, parallelism=0,
            checkpoint_dir=str(ckpt) if ckpt else None)

    full = Crawler(spark, cfg()).crawl(seeds, pages_df)
    full_seen = _seen_set(full.seen)
    assert ("s0", "https://h0.test/private/z", 3) not in full_seen

    ckpt = tmp_path / "robots_ckpt"
    c1 = Crawler(spark, cfg(ckpt))
    c1.crawl(seeds, pages_df, max_iterations=2)
    resumed = Crawler(spark, cfg(ckpt)).resume(seeds, pages_df)
    res_seen = _seen_set(resumed.seen)
    assert all(("private" not in u) for _, u, _d in res_seen)
    assert res_seen == full_seen
    assert _edges_ms(resumed.edges) == _edges_ms(full.edges)


def test_commit_wave_is_all_or_nothing(spark, tmp_path, monkeypatch):
    """A wave's tables are written concurrently under one manifest entry:
    when one write fails nothing of the wave is published, and the re-run
    of the wave on resume gives an uninterrupted run's output."""
    from xcrawl3r_spark.sinks.tables import SnapshotStore

    seeds = G.seeds_df(spark, P, 2)
    pages = G.pages_df(spark, P, distributed=False)
    full = Crawler(spark, _cfg()).crawl(seeds, pages)

    write = SnapshotStore._write

    def failing_extracted(self, df, table, iteration):
        if (table, iteration) == ("extracted", 2):
            raise OSError("extracted write failed")
        return write(self, df, table, iteration)

    ckpt = tmp_path / "ckpt"
    c1 = Crawler(spark, _cfg(ckpt))
    monkeypatch.setattr(SnapshotStore, "_write", failing_extracted)
    with pytest.raises(OSError, match="extracted write failed"):
        c1.crawl(seeds, pages)
    assert c1.store.last_iteration() == 1
    assert [w["iter"] for w in c1.store.waves()] == [1]
    for table in ("flagged", "extracted"):
        assert c1.store.read(table, 2) is None   # written, not published
        assert c1.store.read(table, 1) is not None

    monkeypatch.setattr(SnapshotStore, "_write", write)
    resumed = Crawler(spark, _cfg(ckpt)).resume(seeds, pages)
    assert _edges_ms(resumed.edges) == _edges_ms(full.edges)
    assert _seen_set(resumed.seen) == _seen_set(full.seen)
    for part in ("images", "errors"):
        assert _rows(getattr(resumed, part)) == _rows(getattr(full, part))
    assert resumed.iterations == full.iterations
    assert [w["iter"] for w in c1.store.waves()] == list(
        range(1, full.iterations + 1))


def test_commit_idempotent(spark, tmp_path):
    from xcrawl3r_spark.sinks.tables import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    store.commit_wave({"t": df, "u": df}, 1)
    store.commit_wave({"t": df}, 1)  # duplicate commit ignored
    assert store.read("t").count() == 2
    store.commit_wave({"t": df}, 2)
    assert store.read("t").count() == 4
    assert store.read("t", 1).count() == 2
    assert store.read("u").count() == 2      # a table of wave 1 only
    assert store.read("u", 2) is None and store.read("v") is None
    assert store.last_iteration() == 2
    # a manifest written with absolute data paths still reads
    manifest = tmp_path / "s" / "waves" / "_manifest.json"
    m = json.loads(manifest.read_text())
    for w in m["commits"]:
        w["tables"] = {t: str(tmp_path / "s" / p)
                       for t, p in w["tables"].items()}
    manifest.write_text(json.dumps(m))
    assert store.read("t").count() == 4


def test_old_layout_checkpoint_fails_clearly(spark, tmp_path):
    """A checkpoint directory in the per-table layout (one _manifest.json
    per table, no wave manifest) has no reader: resume() says so."""
    ckpt = tmp_path / "old"
    for table in ("seen", "frontier"):
        (ckpt / table).mkdir(parents=True)
        (ckpt / table / "_manifest.json").write_text(json.dumps(
            {"commits": [{"iter": 1, "path": "data/iter=1", "meta": {}}]}))
    crawler = Crawler(spark, _cfg(ckpt))
    seeds = G.seeds_df(spark, P, 1)
    with pytest.raises(ValueError, match="old per-table layout"):
        crawler.resume(seeds, G.pages_df(spark, P, distributed=False))
