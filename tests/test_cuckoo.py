"""Partitioned cuckoo filter (the deletable seen-set fallback): no false
negatives (incl. through merges and stash overflow), delete support,
anti-join equivalence, and a seen-filter windowed beside a TTL re-crawl."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xcrawl3r_spark.operators import cuckoo as C

hash_lists = st.lists(
    st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    min_size=0, max_size=300)


@settings(max_examples=50, deadline=None)
@given(hash_lists)
def test_no_false_negatives(hs):
    t = C.CuckooTable(64)  # tiny table forces kicks + stash
    arr = np.array(hs, dtype=np.int64)
    t.insert_hashes(arr)
    assert t.probe_hashes(arr).all()


@settings(max_examples=30, deadline=None)
@given(hash_lists, hash_lists)
def test_merge_preserves_membership(a, b):
    ta, tb = C.CuckooTable(128), C.CuckooTable(128)
    aa, bb = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    ta.insert_hashes(aa)
    tb.insert_hashes(bb)
    ta.merge_from(tb)
    both = np.concatenate([aa, bb]) if len(a) or len(b) else aa
    assert ta.probe_hashes(both).all()


def test_non_pow2_geometry_rounds_up_no_false_negatives():
    """Regression (r2 advice): with nb=100 the xor-pairing was not
    involutive under `% nb` — 2719/4000 false negatives — so kick-chain
    relocation lost keys. Geometry now rounds up to the next power of two."""
    t = C.CuckooTable(100)
    assert t.nb == 128 and t.nb & (t.nb - 1) == 0
    keys = (np.arange(4000, dtype=np.int64) + 1) * 2_654_435_761
    t.insert_hashes(keys)
    assert t.probe_hashes(keys).all()
    # merge path keeps the rounded geometry too
    t2 = C.CuckooTable(100)
    more = (np.arange(500, dtype=np.int64) + 1) * 40_503
    t2.insert_hashes(more)
    t.merge_from(t2)
    assert t.probe_hashes(np.concatenate([keys, more])).all()
    # pre-built tables with composite row counts are rejected outright
    with pytest.raises(ValueError):
        C.CuckooTable(100, table=np.zeros((100, C.SLOTS), dtype=np.uint16))


def test_roundtrip_serialization_and_delete():
    t = C.CuckooTable(256)
    keys = np.arange(-500, 500, dtype=np.int64) * 7919
    t.insert_hashes(keys)
    t2 = C.CuckooTable.from_bytes(t.to_bytes())
    assert t2.probe_hashes(keys).all()
    gone = keys[:100]
    assert t2.delete_hashes(gone) == 100
    # deleted keys may still collide-hit via other fps, but the kept
    # 900 must all still probe True (no collateral false negatives)
    assert t2.probe_hashes(keys[100:]).all()


def test_false_positive_rate_sane():
    t = C.CuckooTable(1 << 14)  # 64k slots
    present = (np.arange(30_000, dtype=np.int64) + 1) * 1_000_003
    t.insert_hashes(present)
    absent = (np.arange(30_000, dtype=np.int64) + 1) * 1_000_033 + 17
    fpr = t.probe_hashes(absent).mean()
    assert fpr < 0.01, f"fpr {fpr}"


def test_partitioned_build_merge_probe_spark(spark):
    from pyspark.sql import functions as F

    from xcrawl3r_spark.operators.dedup import SeenFilter, anti_join_seen

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumn("dedup_key", F.xxhash64("o_orderkey"))
    seen = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.xxhash64("l_orderkey").alias("dedup_key")).distinct()
    )
    # two halves built separately and merged on the driver
    empty = SeenFilter("cuckoo", 4, (1 << 12,))
    filt = empty.build(seen.filter("dedup_key % 2 = 0"), key="dedup_key").merge(
        empty.build(seen.filter("dedup_key % 2 != 0"), key="dedup_key"))
    got = anti_join_seen(
        orders, seen, key="dedup_key", seen_filter=filt,
    ).select("o_orderkey")
    want = orders.join(seen, "dedup_key", "left_anti").select("o_orderkey")
    assert sorted(r[0] for r in got.collect()) == sorted(
        r[0] for r in want.collect())


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_ttl_expire_and_recrawl(spark, kind):
    """Windowed seen-set: expire_seen drops pre-window visits and a
    follow-up crawl re-visits exactly the expired, still-reachable URLs.
    A seen-filter windowed the same way (cuckoo: incremental DELETE of the
    expired keys; bloom: rebuild over the survivors) lets anti_join_seen
    re-admit exactly the URLs the crawl re-visits."""
    from xcrawl3r_spark.config import CrawlConfig
    from xcrawl3r_spark.operators.dedup import SeenFilter, anti_join_seen
    from xcrawl3r_spark.plans.crawl import Crawler

    n = 6
    pages = [
        (f"https://h0.test/p/{i}", "text/html",
         (f'<a href="https://h0.test/p/{i + 1}">n</a>'
          if i + 1 < n else "<p>end</p>"), 200)
        for i in range(n)
    ]
    pages_df = spark.createDataFrame(
        pages, "url string, content_type string, body string, status int")
    seeds = spark.createDataFrame(
        [("s0", "https://h0.test/p/0")], "seed_id string, url string")
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=0,
                      expand_seeds=False, parallelism=0)
    c = Crawler(spark, cfg)
    res1 = c.crawl(seeds, pages_df)
    assert res1.seen.count() == n
    # expire everything first visited before iteration 4 (p0, p1, p2)
    surviving = c.expire_seen(res1.seen, before_iter=4)
    assert surviving.count() == n - 3
    expired = res1.seen.filter("iter < 4")
    geometry = {"cuckoo": (1 << 10,), "bloom": (1 << 14, 7)}[kind]
    filt = SeenFilter(kind, 4, geometry).build(res1.seen, key="dedup_key")
    if kind == "cuckoo":
        filt = filt.delete(np.array(
            [r["dedup_key"] for r in expired.collect()], dtype=np.int64))
    else:
        filt = filt.empty().build(surviving, key="dedup_key")
    assert filt.probe(surviving, key="dedup_key").filter(
        "not maybe_seen").count() == 0
    assert filt.probe(expired, key="dedup_key").filter(
        "maybe_seen").count() == 0
    # CONTRACT: the follow-up crawl continues the iteration clock —
    # restarting at 1 would stamp re-visits OLDER than surviving rows and
    # invert the TTL ordering for the next cycle
    res2 = c.crawl(seeds, pages_df, initial_seen=surviving,
                   start_iteration=res1.iterations + 1)
    survived_urls = {r["url"] for r in surviving.collect()}
    revisited = {
        r["url"] for r in res2.seen.filter(
            f"iter > {res1.iterations}").collect()} - survived_urls
    assert revisited == {f"https://h0.test/p/{i}" for i in range(3)}
    readmitted = anti_join_seen(res1.seen, surviving, seen_filter=filt)
    assert {r["url"] for r in readmitted.collect()} == revisited
    # the window boundary is respected: surviving URLs were NOT re-fetched
    iter_by_url = {r["url"]: r["iter"] for r in res2.seen.collect()}
    assert all(4 <= iter_by_url[u] <= res1.iterations for u in survived_urls)
    # the clock stays monotone: a SECOND expire cycle now expires the
    # oldest-visited rows (the survivors of cycle 1), not the re-visits
    surviving2 = c.expire_seen(res2.seen, before_iter=res1.iterations + 1)
    assert {r["url"] for r in surviving2.collect()} == revisited
