"""Image payload branch (E7/S9): codec round-trips, phash, PSNR invariant,
decode_and_verify over the synthetic images table, lineage rows."""

import numpy as np

from xcrawl3r_spark.functions.imagecodec import (
    decode_image, decode_png, encode_image, encode_png, phash64, psnr,
    synth_pixels,
)
from xcrawl3r_spark.operators.images import decode_and_verify, lineage
from xcrawl3r_spark.sources import datagen as G


def test_png_roundtrip_lossless():
    px = synth_pixels("abc", 33, 17)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_xjpg_roundtrip_psnr():
    px = synth_pixels("def", 64, 64)
    dec = decode_image(encode_image(px, "jpeg"), "jpeg")
    assert dec.shape == px.shape
    assert psnr(px, dec) >= 40.0
    assert not np.array_equal(dec, px)  # genuinely lossy


def test_phash_stable_and_discriminative():
    a = synth_pixels("a", 32, 32)
    assert phash64(a) == phash64(a.copy())
    b = synth_pixels("completely-different", 32, 32)
    assert phash64(a) != phash64(b)
    # phash robust to mild lossy noise
    dec = decode_image(encode_image(a, "jpeg"), "jpeg")
    assert bin(phash64(a) ^ phash64(dec)).count("1") <= 4


def test_decode_and_verify_table(spark):
    p = G.GraphParams(hosts=3, pages_per_host=8)
    df = G.images_df(spark, p, distributed=False)
    out = decode_and_verify(df)
    rows = out.collect()
    assert len(rows) == p.hosts * p.pages_per_host
    assert all(r["pixel_ok"] for r in rows)
    assert all(r["caption_ok"] for r in rows)
    assert all(r["phash_ok"] for r in rows)
    assert all(r["phash_recomputed"] == r["phash"]
               for r in rows if r["fmt"] == "png")
    assert all(r["decoded_w"] == r["w"] and r["decoded_h"] == r["h"] for r in rows)
    lossy = [r for r in rows if r["fmt"] == "jpeg"]
    assert lossy and all(r["psnr_db"] >= 40.0 for r in lossy)

    lin = lineage(out).collect()
    assert sum(r["n_rows"] for r in lin) == len(rows)
    assert sum(r["n_ok"] for r in lin) == len(rows)
    assert all(r["part_id"] >= 0 for r in lin)


def test_corrupted_payload_flagged(spark):
    p = G.GraphParams(hosts=2, pages_per_host=3)
    rows = list(G.images_rows(p))
    rows[0]["bytes"] = b"garbage"
    rows[1]["caption"] = "wrong caption"
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "url"]
    df = spark.createDataFrame(
        [[r[c] for c in cols] for r in rows], G.IMAGES_SCHEMA + ", url string"
    )
    out = {r["image_id"]: r for r in decode_and_verify(df).collect()}
    assert not out[rows[0]["image_id"]]["pixel_ok"]
    assert not out[rows[1]["image_id"]]["caption_ok"]
    good = [r for r in out.values()
            if r["image_id"] not in (rows[0]["image_id"], rows[1]["image_id"])]
    assert all(r["pixel_ok"] and r["caption_ok"] for r in good)


def test_null_carried_phash_degrades_per_row(spark):
    """A row with decodable bytes but a NULL carried phash must produce
    the per-row failure shape (defaults, like an absent payload) — not a
    TypeError that fails the whole Arrow task: the join side is not
    contractually non-null."""
    p = G.GraphParams(hosts=2, pages_per_host=2)
    rows = list(G.images_rows(p))
    rows[0]["phash"] = None
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "url"]
    df = spark.createDataFrame(
        [[r[c] for c in cols] for r in rows], G.IMAGES_SCHEMA + ", url string"
    )
    out = {r["image_id"]: r for r in decode_and_verify(df).collect()}
    bad = out[rows[0]["image_id"]]
    assert bad["phash"] is None and bad["phash_hamming"] is None
    assert bad["phash_ok"] is False and bad["pixel_ok"] is False
    good = [r for r in out.values() if r["image_id"] != rows[0]["image_id"]]
    assert good and all(r["pixel_ok"] and r["phash_ok"] for r in good)


def test_crawl_ingests_payloads(spark):
    """E7/S9 integrated: a crawl given the payload table emits verified
    image rows (decode + PSNR/caption/phash invariants + lineage part_id)
    for every discovered image URL; absent payloads are flagged, never
    dropped."""
    from xcrawl3r_spark.config import CrawlConfig
    from xcrawl3r_spark.plans.crawl import Crawler

    p = G.GraphParams(hosts=4, pages_per_host=6)
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2)
    payloads = G.images_df(spark, p, distributed=False)
    # drop one payload to exercise the absent-payload path
    missing_url = payloads.select("url").limit(1).collect()[0][0]
    payloads_partial = payloads.filter(f"url != '{missing_url}'")

    res = Crawler(spark, cfg).crawl(
        G.seeds_df(spark, p, 2),
        G.pages_df(spark, p, distributed=False),
        image_payloads=payloads_partial,
    )
    rows = res.images.collect()
    assert rows, "crawl discovered no images"
    cols = set(res.images.columns)
    assert {"seed_id", "url", "iter", "pixel_ok", "caption_ok",
            "psnr_db", "part_id"} <= cols
    by_url = {r["url"]: r for r in rows}
    # URL-set identical to the payload-less crawl (ingestion never drops)
    res_plain = Crawler(spark, cfg).crawl(
        G.seeds_df(spark, p, 2), G.pages_df(spark, p, distributed=False))
    assert set(by_url) == {r["url"] for r in res_plain.images.collect()}
    for r in rows:
        if r["url"] == missing_url:
            assert r["pixel_ok"] is False and r["image_id"] is None
        else:
            assert r["pixel_ok"] and r["caption_ok"] and r["phash_ok"]
            # EXACT output values, not just the pre-conversion boolean: a
            # batch mixing absent payloads with real ones once float64-
            # coerced the nullable int columns (input AND output) and
            # silently rounded phash values past 2^53 (regression for the
            # string-crossing + pd.array Int64 fixes). Lossless rows must
            # match bit-for-bit; lossy rows within the hamming tolerance.
            if r["fmt"] == "png":
                assert r["phash_recomputed"] == r["phash"]
            else:
                assert r["phash_hamming"] <= 4


def test_caption_verifies_against_reference_column(spark):
    """Generalized caption invariant (r1 verdict item 5): with an
    expected_caption column carried in the payload table, caption_ok
    compares row-by-row against it — not the synthetic fixture literal —
    so a reference-captioned (non-fixture) corpus verifies correctly."""
    from pyspark.sql import functions as F

    p = G.GraphParams(hosts=2, pages_per_host=4)
    base = G.images_df(spark, p, distributed=False)
    # non-fixture captions: overwrite caption with an arbitrary reference
    # string; expected matches for even rows, mismatches for odd rows
    refd = (
        base.withColumn("rn", F.xxhash64("image_id") % 2 == 0)
        .withColumn("caption", F.concat(F.lit("alt text: "), F.col("image_id")))
        .withColumn(
            "expected_caption",
            F.when(F.col("rn"), F.concat(F.lit("alt text: "), F.col("image_id")))
            .otherwise(F.lit("something else")))
    )
    out = decode_and_verify(refd).select("image_id", "caption_ok").collect()
    want = {r["image_id"]: r["rn"] for r in refd.select("image_id", "rn").collect()}
    assert len(out) > 0
    for r in out:
        assert r["caption_ok"] == want[r["image_id"]], r["image_id"]
    # the fixture convention would have called ALL of these wrong
    out_fixture = decode_and_verify(refd.drop("expected_caption"))
    assert out_fixture.filter("caption_ok").count() == 0


def test_general_pixel_check_via_phash(spark):
    """synthetic_pixel_check=False verifies pixels from the carried phash
    + decoded dims only (the general-corpus path: no regenerable
    reference pixels). Correct payloads pass; a corrupted payload whose
    phash diverges fails."""
    from pyspark.sql import functions as F

    p = G.GraphParams(hosts=2, pages_per_host=4)
    base = G.images_df(spark, p, distributed=False)
    ok = decode_and_verify(base, synthetic_pixel_check=False)
    rows = ok.collect()
    assert rows and all(r["pixel_ok"] for r in rows)
    assert all(r["psnr_db"] is None for r in rows)  # no synthetic PSNR
    # break the carried phash -> pixel_ok must flip off
    bad = decode_and_verify(
        base.withColumn("phash", F.col("phash") + F.lit(0x5555555555)),
        synthetic_pixel_check=False)
    assert bad.filter("pixel_ok").count() == 0


class TestPhashNearDup:
    def test_planted_groups_found_exactly(self, spark):
        """Images whose phashes differ by <= hamming_max pair up; recall
        is exact (banded pigeonhole join vs hand-listed expectation)."""
        from xcrawl3r_spark.operators.images import phash_near_dup

        base = 0x0ABCDEF0123456  # arbitrary 60-bit-safe constant
        rows = [
            ("i0", base),            # group: i0/i1/i2 mutually close
            ("i1", base ^ 0b1),      # 1 bit from i0
            ("i2", base ^ 0b11),     # 2 bits from i0, 1 from i1
            ("i3", base ^ 0x3F000),  # 6 bits away — excluded at max 4
            ("i4", 0x7777777777777), # unrelated
        ]
        df = spark.createDataFrame(rows, "image_id string, phash long")
        got = {(r["image_a"], r["image_b"]): r["hamming"]
               for r in phash_near_dup(df, hamming_max=4).collect()}
        assert got == {("i0", "i1"): 1, ("i0", "i2"): 2, ("i1", "i2"): 1}

    def test_bucket_cap_drops_hot_bucket(self, spark):
        """max_chunk_df bounds the per-bucket fan-out: identical phashes
        on every row would otherwise emit O(n^2) pairs."""
        from xcrawl3r_spark.operators.images import phash_near_dup

        df = spark.createDataFrame(
            [(f"i{n:02d}", 12345) for n in range(12)],
            "image_id string, phash long")
        assert phash_near_dup(df, hamming_max=2).count() == 12 * 11 // 2
        assert phash_near_dup(df, hamming_max=2, max_chunk_df=4).count() == 0


class TestCaptionGate:
    def _gate(self, spark, rows):
        from xcrawl3r_spark.operators.images import caption_gate

        df = spark.createDataFrame(
            rows, "image_id string, w int, h int, caption string")
        return {r["image_id"]: r for r in caption_gate(df).collect()}

    def test_each_rule_gates_independently(self, spark):
        good_cap = "the quick brown fox and the lazy dog of autumn"
        out = self._gate(spark, [
            ("ok",      256, 192, good_cap),
            ("tiny",     32, 192, good_cap),             # size_ok fails
            ("banner",  640, 100, good_cap),             # aspect > 3
            ("nocap",   256, 192, "x"),                  # caption too short
            ("german",  256, 192, "der die das und der hund"),  # lang != en
        ])
        assert out["ok"]["passes"]
        assert not out["tiny"]["size_ok"] and not out["tiny"]["passes"]
        assert not out["banner"]["aspect_ok"] and not out["banner"]["passes"]
        assert not out["nocap"]["caption_ok"] and not out["nocap"]["passes"]
        assert not out["german"]["lang_ok"] and not out["german"]["passes"]
        assert out["german"]["size_ok"] and out["german"]["aspect_ok"]

    def test_token_bounds_and_integer_aspect_edge(self, spark):
        """Aspect bound is integer-exact: 3:1 passes, 301:100 fails; the
        64-token caption ceiling is inclusive."""
        cap64 = " ".join(["the"] + ["word"] * 63)
        cap65 = " ".join(["the"] + ["word"] * 64)
        out = self._gate(spark, [
            ("a31", 300, 100, "the cat and a dog sat"),
            ("a301", 301, 100, "the cat and a dog sat"),
            ("t64", 128, 128, cap64),
            ("t65", 128, 128, cap65),
        ])
        assert out["a31"]["aspect_ok"] and not out["a301"]["aspect_ok"]
        assert out["t64"]["caption_ok"] and not out["t65"]["caption_ok"]

    def test_zero_shuffle_plan(self, spark):
        """The gate is one map-side projection — no Exchange in the
        physical plan (the pre-decode filter must be free at 10^10)."""
        from xcrawl3r_spark.operators.images import caption_gate

        df = spark.createDataFrame(
            [("i", 64, 64, "the a of and")],
            "image_id string, w int, h int, caption string")
        plan = caption_gate(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def test_phash_clusters_collapse_resize_chain(spark):
    """a~b and b~c within hamming_max but a~c beyond it must still land
    in ONE cluster (transitive closure), keeping only min image_id;
    singletons are their own canonical."""
    from xcrawl3r_spark.operators.images import phash_dedup_clusters

    base = 0x0ABCDEF0123456
    df = spark.createDataFrame(
        [("a", base),            # a~b: 3 bits
         ("b", base ^ 0b111),    # b~c: 3 bits; a~c: 6 bits (> max 4)
         ("c", base ^ 0b111111),
         ("z", 0x7777777777777)],
        "image_id string, phash long")
    got = {r["image_id"]: r for r in
           phash_dedup_clusters(df, hamming_max=4).collect()}
    assert {k: v["cluster"] for k, v in got.items()} == {
        "a": "a", "b": "a", "c": "a", "z": "z"}
    assert [k for k, v in got.items() if v["is_canonical"]] == ["a", "z"] \
        or {k for k, v in got.items() if v["is_canonical"]} == {"a", "z"}


class TestArBucketing:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "image_id string, w int, h int")

    def test_square_lands_in_square_bucket(self, spark):
        from xcrawl3r_spark.operators.images import ar_bucketing

        got = ar_bucketing(self._df(spark, [("a", 800, 800)])).collect()[0]
        assert (got["bucket_w"], got["bucket_h"]) == (1024, 1024)

    def test_extreme_portrait_clamps_to_tallest_bucket(self, spark):
        from xcrawl3r_spark.operators.images import ar_bucketing

        got = ar_bucketing(self._df(spark, [("a", 100, 900)])).collect()[0]
        assert (got["bucket_w"], got["bucket_h"]) == (512, 2048)

    def test_landscape_matches_mirrored_bucket(self, spark):
        from xcrawl3r_spark.operators.images import ar_bucketing

        # 1600x640 is exactly bucket (1600, 640): score == scale
        got = ar_bucketing(self._df(spark, [("a", 1600, 640)])).collect()[0]
        assert (got["bucket_w"], got["bucket_h"]) == (1600, 640)

    def test_zero_dim_rows_dropped(self, spark):
        from xcrawl3r_spark.operators.images import ar_bucketing

        got = ar_bucketing(
            self._df(spark, [("a", 0, 500), ("b", 512, 512)])).collect()
        assert [r["image_id"] for r in got] == ["b"]

    def test_plan_is_shuffle_free(self, spark):
        from xcrawl3r_spark.operators.images import ar_bucketing

        plan = ar_bucketing(self._df(spark, [("a", 640, 480)])) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestResolutionTiers:
    def test_tier_boundaries(self, spark):
        from xcrawl3r_spark.operators.images import resolution_tiers

        df = spark.createDataFrame(
            [("a", 63, 2000, "png", "x"),    # least 63 -> icon
             ("b", 64, 2000, "png", ""),     # least 64 -> thumb, blank cap
             ("c", 255, 256, "png", "y"),    # least 255 -> thumb
             ("d", 1024, 1024, "jpeg", "z")],  # least 1024 -> hd
            "image_id string, w int, h int, fmt string, caption string")
        got = {(r["fmt"], r["tier"]): r
               for r in resolution_tiers(df).collect()}
        assert set(got) == {("png", "icon"), ("png", "thumb"),
                            ("jpeg", "hd")}
        assert got[("png", "thumb")]["n_images"] == 2
        assert got[("png", "thumb")]["n_captioned"] == 1
        assert got[("jpeg", "hd")]["total_pixels"] == 1024 * 1024


class TestThumbnailVariants:
    def _run(self, spark, urls):
        from xcrawl3r_spark.operators.images import thumbnail_variants

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return {r["url"]: r for r in thumbnail_variants(df).collect()}

    def test_renditions_collapse_and_pristine_kept(self, spark):
        got = self._run(spark, [
            "https://a.com/p/1.jpg",
            "https://a.com/p/1-300x200.jpg",
            "https://a.com/p/1@2x.jpg",
            "https://a.com/p/1.jpg?width=640&quality=80",
        ])
        assert {r["canonical_url"] for r in got.values()} \
            == {"https://a.com/p/1.jpg"}
        assert all(r["n_variants"] == 4 for r in got.values())
        assert [u for u, r in got.items() if r["is_kept"]] \
            == ["https://a.com/p/1.jpg"]

    def test_min_url_keeper_without_pristine_member(self, spark):
        got = self._run(spark, [
            "https://a.com/p/1-150x150.jpg",
            "https://a.com/p/1-300x200.jpg",
        ])
        assert [u for u, r in got.items() if r["is_kept"]] \
            == ["https://a.com/p/1-150x150.jpg"]

    def test_non_size_query_params_survive(self, spark):
        got = self._run(spark, ["https://a.com/p/1.jpg?v=abc&width=640"])
        assert got["https://a.com/p/1.jpg?v=abc&width=640"][
            "canonical_url"] == "https://a.com/p/1.jpg?v=abc"

    def test_stacked_suffixes_and_dpr(self, spark):
        got = self._run(spark, ["https://a.com/p/2-150x150@2x.png?dpr=2"])
        assert got["https://a.com/p/2-150x150@2x.png?dpr=2"][
            "canonical_url"] == "https://a.com/p/2.png"

    def test_single_shuffle_plan(self, spark):
        from xcrawl3r_spark.operators.images import thumbnail_variants

        df = spark.createDataFrame([("https://a.com/x.png",)], "url string")
        plan = thumbnail_variants(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") == 1


def test_curate_images_composite_stages(spark):
    """Each stage must bite: the undersized image is gated out, the
    near-dup pair keeps only its min-id canonical, and the per-fmt
    budget cuts admission in seeded-hash order."""
    from xcrawl3r_spark.operators.images import curate_images

    base = 0x0ABCDEF0123456
    cap = "a plain english caption with the usual words"
    rows = [
        ("a", 512, 512, "png", cap, base),        # canonical of {a, b}
        ("b", 512, 512, "png", cap, base ^ 0b11),  # near-dup of a -> dropped
        ("c", 512, 512, "png", cap, 0x7000000000000),  # singleton, kept
        ("d", 32, 512, "png", cap, 0x7111111111111),   # undersized -> gated
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, "
              "caption string, phash long")
    got = {r["image_id"]: r for r in
           curate_images(df, budget=10_000).collect()}
    assert set(got) == {"a", "c"}
    assert got["a"]["cluster"] == "a"

    tight = curate_images(df, budget=got["a"]["n_caption_tokens"]).collect()
    assert len(tight) == 1  # budget admits exactly one doc per fmt


class TestExtractImageRefs:
    def _run(self, spark, body, url="https://s.ex.com/a/b/p1.html"):
        from xcrawl3r_spark.operators.images import extract_image_refs

        df = spark.createDataFrame([(url, body)], "url string, body string")
        return extract_image_refs(df).collect()

    def test_src_srcset_og_kinds_and_resolution(self, spark):
        rows = self._run(spark, (
            '<img src="th.jpg">'
            '<img srcset="/m/a-480.jpg  480w, /m/a-960.jpg 960w,'
            'hero.png 2x" src="fall.gif">'
            '<meta property="og:image" content="//cdn.ex.com/og.webp">'
            '<meta content="https://t.ex.com/tw.jpg" name="twitter:image">'
        ))
        by_ref = {r["ref"]: r for r in rows}
        assert len(rows) == 7  # emit-per-occurrence, both img srcs counted
        assert by_ref["th.jpg"]["img_url"] == "https://s.ex.com/a/b/th.jpg"
        assert by_ref["/m/a-480.jpg"]["img_url"] \
            == "https://s.ex.com/m/a-480.jpg"
        assert by_ref["//cdn.ex.com/og.webp"]["img_url"] \
            == "https://cdn.ex.com/og.webp"
        assert by_ref["https://t.ex.com/tw.jpg"]["ref_kind"] == "og"
        assert by_ref["/m/a-960.jpg"]["w_desc"] == 960

    def test_best_rendition_largest_width_wins(self, spark):
        rows = self._run(spark, (
            '<img srcset="s.jpg 320w, m.jpg 640w, l.jpg 1280w">'))
        assert [r["ref"] for r in rows if r["is_best"]] == ["l.jpg"]

    def test_density_only_srcset_defaults_to_first(self, spark):
        rows = self._run(spark, '<source srcset="a.webp 1x, b.webp 2x">')
        assert [r["ref"] for r in rows if r["is_best"]] == ["a.webp"]

    def test_data_uri_excluded_and_data_src_not_matched(self, spark):
        rows = self._run(spark, (
            '<img src="data:image/png;base64,AAAA">'
            '<img data-src="lazy.jpg" src="eager.jpg">'))
        assert [r["ref"] for r in rows] == ["eager.jpg"]

    def test_emit_per_occurrence_no_dedup(self, spark):
        rows = self._run(spark, '<img src="x.jpg"><img src="x.jpg">')
        assert [r["ref"] for r in rows] == ["x.jpg", "x.jpg"]

    def test_plan_is_shuffle_free(self, spark):
        from xcrawl3r_spark.operators.images import extract_image_refs

        df = spark.createDataFrame(
            [("https://a.com/p.html", "<img src='x.jpg'>")],
            "url string, body string")
        plan = extract_image_refs(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestInlineDataUris:
    def _run(self, spark, body):
        from xcrawl3r_spark.operators.images import inline_data_uris

        df = spark.createDataFrame(
            [("https://a.com/p.html", body)], "url string, body string")
        return inline_data_uris(df).collect()

    def test_fmt_bytes_and_md5(self, spark):
        import hashlib

        rows = self._run(spark, (
            '<img src="data:image/png;base64,aGVsbG8=">'
            '<div style="background:url(data:image/GIF;base64,R0lGODlh)">'))
        got = {r["fmt"]: r for r in rows}
        assert got["png"]["n_bytes"] == 5  # b"hello"
        assert got["png"]["payload_md5"] \
            == hashlib.md5(b"aGVsbG8=").hexdigest()
        assert got["gif"]["n_bytes"] == 6

    def test_truncated_tail_never_breaks_decode(self, spark):
        # 5 payload chars: the strict grammar captures only the first
        # whole block, so unbase64 cannot throw under ANSI mode
        rows = self._run(spark, '<img src="data:image/png;base64,AAAAB">')
        assert rows[0]["n_bytes"] == 3

    def test_non_image_data_uris_ignored(self, spark):
        assert self._run(
            spark, '<a href="data:text/plain;base64,aGVsbG8=">x</a>') == []

    def test_plan_is_shuffle_free(self, spark):
        from xcrawl3r_spark.operators.images import inline_data_uris

        df = spark.createDataFrame(
            [("https://a.com/p.html", "x")], "url string, body string")
        plan = inline_data_uris(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestArBatchAssembly:
    def _df(self, spark, n=300):
        rows = [(f"img-{i:04d}", 100 + (i % 23) * 61, 90 + ((i * 7) % 29) * 53)
                for i in range(n)]
        return spark.createDataFrame(rows, "image_id string, w int, h int")

    def test_two_phase_matches_window_path(self, spark):
        from xcrawl3r_spark.operators.images import ar_batch_assembly

        df = self._df(spark)
        a = sorted(map(tuple, ar_batch_assembly(df, 8).collect()))
        b = sorted(map(tuple,
                       ar_batch_assembly(df, 8, two_phase=True).collect()))
        assert a == b and len(a) > 0

    def test_batches_full_and_positions_complete(self, spark):
        from xcrawl3r_spark.operators.images import ar_batch_assembly

        rows = ar_batch_assembly(self._df(spark), 8).collect()
        sizes = {}
        for r in rows:
            sizes.setdefault((r["bucket_id"], r["batch_idx"]), []) \
                .append(r["pos_in_batch"])
        for poss in sizes.values():
            assert sorted(poss) == list(range(8))  # every batch exactly full

    def test_drop_last_false_keeps_every_row(self, spark):
        from xcrawl3r_spark.operators.images import ar_batch_assembly

        df = self._df(spark, 100)
        assert ar_batch_assembly(df, 8, drop_last=False).count() == 100

    def test_deterministic_across_runs(self, spark):
        from xcrawl3r_spark.operators.images import ar_batch_assembly

        df = self._df(spark, 120)
        one = sorted(map(tuple, ar_batch_assembly(df, 4).collect()))
        two = sorted(map(tuple,
                         ar_batch_assembly(df, 4, two_phase=True).collect()))
        three = sorted(map(tuple,
                           ar_batch_assembly(df, 4, two_phase=True).collect()))
        assert one == two == three

    def test_window_path_single_exchange(self, spark):
        from xcrawl3r_spark.operators.images import ar_batch_assembly

        plan = ar_batch_assembly(self._df(spark, 10), 4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Window") == 1


class TestCaptionAlignmentGate:
    def test_identical_embeddings_pass_orthogonal_fail(self, spark):
        from xcrawl3r_spark.operators.images import caption_alignment_gate

        df = spark.createDataFrame(
            [("same", [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
             ("orth", [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
             ("anti", [1.0, 1.0, 0.0], [-1.0, -1.0, 0.0])],
            "image_id string, img_embedding array<double>, "
            "cap_embedding array<double>")
        got = {r["image_id"]: r
               for r in caption_alignment_gate(df).collect()}
        assert got["same"]["clip_score"] == 1.0 and got["same"]["passes"]
        assert got["orth"]["clip_score"] == 0.0 and not got["orth"]["passes"]
        assert got["anti"]["clip_score"] == -1.0

    def test_threshold_boundary_inclusive(self, spark):
        from xcrawl3r_spark.operators.images import caption_alignment_gate

        df = spark.createDataFrame(
            [("x", [1.0, 0.0], [1.0, 0.0])],
            "image_id string, img_embedding array<double>, "
            "cap_embedding array<double>")
        assert caption_alignment_gate(df, threshold=1.0) \
            .collect()[0]["passes"]

    def test_plan_is_shuffle_free(self, spark):
        from xcrawl3r_spark.operators.images import caption_alignment_gate

        df = spark.createDataFrame(
            [("x", [1.0], [1.0])],
            "image_id string, img_embedding array<double>, "
            "cap_embedding array<double>")
        plan = caption_alignment_gate(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestSniffFormat:
    def _row(self, img_id, hexs, fmt):
        return (img_id, bytes.fromhex(hexs) if hexs else None, fmt)

    def test_magics_and_mislabels(self, spark):
        from xcrawl3r_spark.operators.images import sniff_format

        df = spark.createDataFrame([
            self._row("png-ok", "89504e470d0a1a0a0000000d49484452", "png"),
            self._row("jpg-ok", "ffd8ffe000104a46494600", "jpeg"),
            self._row("gif-ok", "474946383961f00f", "gif"),
            self._row("webp-ok", "524946460800000057454250565038", "webp"),
            self._row("bmp-ok", "424d8a000000", "bmp"),
            self._row("lies", "3c68746d6c3e", "png"),       # "<html>"
            self._row("mislabel", "ffd8ffe0aabb", "png"),   # jpeg as png
            self._row("nobytes", None, "png"),
        ], "image_id string, bytes binary, fmt string")
        got = {r["image_id"]: r for r in sniff_format(df).collect()}
        for k in ("png-ok", "jpg-ok", "gif-ok", "webp-ok", "bmp-ok"):
            assert got[k]["fmt_ok"], k
        assert got["lies"]["sniffed_fmt"] is None
        assert not got["lies"]["fmt_ok"]
        assert got["mislabel"]["sniffed_fmt"] == "jpeg"
        assert not got["mislabel"]["fmt_ok"]
        assert got["nobytes"]["sniffed_fmt"] is None
        assert not got["nobytes"]["fmt_ok"]

    def test_riff_without_webp_tag_not_webp(self, spark):
        from xcrawl3r_spark.operators.images import sniff_format

        df = spark.createDataFrame(
            [("wav", bytes.fromhex("52494646080000005741564520"), "webp")],
            "image_id string, bytes binary, fmt string")
        r = sniff_format(df).collect()[0]
        assert r["sniffed_fmt"] is None and not r["fmt_ok"]

    def test_plan_is_shuffle_free(self, spark):
        from xcrawl3r_spark.operators.images import sniff_format

        df = spark.createDataFrame(
            [("a", b"x", "png")], "image_id string, bytes binary, fmt string")
        plan = sniff_format(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestFetchPlan:
    def test_best_only_canonical_grouping_and_keeper(self, spark):
        from xcrawl3r_spark.operators.images import (
            extract_image_refs, fetch_plan)

        body_a = ('<img srcset="/m/x-480.jpg 480w, /m/x-960.jpg 960w">'
                  '<img src="/m/y-150x150.png">')
        body_b = '<img src="/m/y-300x200.png"><img src="/m/y.png">'
        pages = spark.createDataFrame(
            [("https://a.com/1.html", body_a),
             ("https://a.com/2.html", body_b)],
            "url string, body string")
        got = {r["canonical_url"]: r
               for r in fetch_plan(extract_image_refs(pages)).collect()}
        # only the 960w srcset candidate (is_best) planned, not the 480w
        assert set(got) == {"https://a.com/m/x-960.jpg",
                            "https://a.com/m/y.png"}
        y = got["https://a.com/m/y.png"]
        assert y["fetch_url"] == "https://a.com/m/y.png"  # pristine wins
        assert y["n_refs"] == 3 and y["n_urls"] == 3 and y["n_pages"] == 2

    def test_single_aggregate_no_window(self, spark):
        from xcrawl3r_spark.operators.images import (
            extract_image_refs, fetch_plan)

        pages = spark.createDataFrame(
            [("https://a.com/1.html", '<img src="x.jpg">')],
            "url string, body string")
        plan = fetch_plan(extract_image_refs(pages)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestVitPatchTokens:
    def test_hand_computed_grids(self, spark):
        from xcrawl3r_spark.operators.images import vit_patch_tokens

        df = spark.createDataFrame(
            [("exact", 448, 448),     # fits: 32x32 grid + CLS = 1025
             ("small", 100, 50),      # no upscale: grids 8x4 -> 33
             ("wide", 1000, 500),     # fit: 448x224 -> 32x16 -> 513
             ("tall", 500, 1000),     # fit: 224x448 -> 16x32 -> 513
             ("sliver", 10000, 1)],   # min-1 guard: 448x1 -> 32x1 -> 33
            "image_id string, w int, h int")
        got = {r["image_id"]: r
               for r in vit_patch_tokens(df, patch=14, max_side=448)
               .collect()}
        assert (got["exact"]["resized_w"], got["exact"]["vit_tokens"]) \
            == (448, 1025)
        assert (got["small"]["resized_w"], got["small"]["resized_h"],
                got["small"]["vit_tokens"]) == (100, 50, 33)
        assert (got["wide"]["resized_w"], got["wide"]["resized_h"],
                got["wide"]["grid_w"], got["wide"]["grid_h"],
                got["wide"]["vit_tokens"]) == (448, 224, 32, 16, 513)
        assert (got["tall"]["resized_w"], got["tall"]["resized_h"],
                got["tall"]["vit_tokens"]) == (224, 448, 513)
        assert (got["sliver"]["resized_w"], got["sliver"]["resized_h"],
                got["sliver"]["vit_tokens"]) == (448, 1, 33)

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import vit_patch_tokens

        df = spark.createDataFrame(
            [("a", 640, 480)], "image_id string, w int, h int")
        plan = vit_patch_tokens(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestPackWebdatasetShards:
    def test_tar_member_arithmetic_and_boundaries(self, spark):
        from xcrawl3r_spark.operators.images import pack_webdataset_shards

        # 100-byte payload -> 512 hdr + 512 padded = 1024; 2-byte caption
        # -> another 1024; sample = 2048. NULL caption = headered empty
        # member (512 hdr + 0) = 512 -> sample 1536.
        rows = [(f"img-{i:02d}", "jpeg", 100, "ab") for i in range(6)]
        rows.append(("img-null", "jpeg", 100, None))
        df = spark.createDataFrame(
            rows, "image_id string, fmt string, n_bytes int, caption string")
        out = pack_webdataset_shards(df, shard_bytes=5000).collect()
        by_id = {r["image_id"]: r for r in out}
        assert all(r["sample_bytes"] == 2048 for r in out
                   if r["image_id"] != "img-null")
        assert by_id["img-null"]["sample_bytes"] == 1024 + 512

        # invariants independent of the seeded order: offsets are the
        # running pre-sample totals; shard = start div budget; tar_offset
        # restarts per shard at the shard's first sample
        ordered = sorted(out, key=lambda r: r["start_offset"])
        run = 0
        for r in ordered:
            assert r["start_offset"] == run
            assert r["shard_id"] == run // 5000
            run += r["sample_bytes"]
        for sid in {r["shard_id"] for r in out}:
            members = sorted((r for r in out if r["shard_id"] == sid),
                             key=lambda r: r["tar_offset"])
            assert members[0]["tar_offset"] == 0
            trun = 0
            for r in members:
                assert r["tar_offset"] == trun
                trun += r["sample_bytes"]

    def test_groups_pack_independently(self, spark):
        from xcrawl3r_spark.operators.images import pack_webdataset_shards

        df = spark.createDataFrame(
            [("a", "png", 10, "x"), ("b", "jpeg", 10, "x"),
             ("c", "png", 10, "x")],
            "image_id string, fmt string, n_bytes int, caption string")
        out = pack_webdataset_shards(df, shard_bytes=10**9).collect()
        png = sorted(r["start_offset"] for r in out if r["fmt"] == "png")
        assert png == [0, 2048]  # per-group running totals, not global
        assert [r["start_offset"] for r in out if r["fmt"] == "jpeg"] == [0]


def _png_hdr(w, h):
    return bytes.fromhex(
        "89504E470D0A1A0A" + "0000000D" + "49484452"
        + f"{w:08X}" + f"{h:08X}" + "00")


def _gif_hdr(w, h):
    return bytes.fromhex(
        "474946383961"
        + f"{w & 0xFF:02X}{(w >> 8) & 0xFF:02X}"
        + f"{h & 0xFF:02X}{(h >> 8) & 0xFF:02X}")


def _bmp_hdr(w, h):
    le32 = lambda v: (v & 0xFFFFFFFF).to_bytes(4, "little")
    return (b"BM" + b"\x00" * 12 + le32(40) + le32(w) + le32(h))


def _webp(chunk_hex):
    body = bytes.fromhex(chunk_hex)
    out = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP" + body
    return out + b"\x00" * max(0, 30 - len(out))  # pad to the window


def _webp_vp8(w, h, scale_bits=0):
    le16 = lambda v: (v & 0xFFFF).to_bytes(2, "little").hex()
    return _webp("56503820" + "64000000" + "000000" + "9D012A"
                 + le16(w | (scale_bits << 14)) + le16(h))


def _webp_vp8l(w, h):
    bits = (w - 1) | ((h - 1) << 14)
    return _webp("5650384C" + "19000000" + "2F"
                 + bits.to_bytes(4, "little").hex())


def _webp_vp8x(w, h):
    le24 = lambda v: v.to_bytes(3, "little").hex()
    return _webp("56503858" + "0A000000" + "00" + "000000"
                 + le24(w - 1) + le24(h - 1))


class TestParseHeaderDims:
    def test_webp_all_three_codecs(self, spark):
        from xcrawl3r_spark.operators.images import parse_header_dims

        df = spark.createDataFrame(
            # scale_bits must be masked off the VP8 14-bit dims
            [("vp8", _webp_vp8(640, 480, scale_bits=1)),
             ("vp8l", _webp_vp8l(1, 16384)),   # extremes of the packing
             ("vp8x", _webp_vp8x(10000, 5000)),
             ("vp8-bad-sync", _webp("56503820" + "64000000"
                                    + "000000" + "9D012B"
                                    + "8002" + "E001")),
             ("riff-not-webp",
              b"RIFF" + b"\x10\x00\x00\x00" + b"WAVE" + b"\x00" * 18)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["header_fmt"], r["header_w"],
                               r["header_h"])
               for r in parse_header_dims(df).collect()}
        assert got["vp8"] == ("webp", 640, 480)
        assert got["vp8l"] == ("webp", 1, 16384)
        assert got["vp8x"] == ("webp", 10000, 5000)
        assert got["vp8-bad-sync"] == (None, None, None)
        assert got["riff-not-webp"] == (None, None, None)

    def test_png_depth_and_color_type(self, spark):
        from xcrawl3r_spark.operators.images import parse_header_dims

        df = spark.createDataFrame(
            [("full", _png_file(ihdr_dims=(4, 4))),   # depth 8, color 6
             # _png_hdr is 25 bytes: depth byte present (0), color cut
             ("truncated-ihdr", _png_hdr(4, 4)),
             ("gif", _gif_hdr(4, 4))],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["png_bit_depth"], r["png_color_type"])
               for r in parse_header_dims(df).collect()}
        assert got["full"] == (8, 6)
        assert got["truncated-ihdr"] == (0, None)
        assert got["gif"] == (None, None)

    def test_all_three_layouts(self, spark):
        from xcrawl3r_spark.operators.images import parse_header_dims

        df = spark.createDataFrame(
            [("png", _png_hdr(300, 200)),
             ("gif", _gif_hdr(640, 480)),
             ("bmp", _bmp_hdr(1920, 1080)),
             ("bmp-topdown", _bmp_hdr(1920, -1080)),  # signed height
             ("jpeg", bytes.fromhex("FFD8FFE000104A464946")),
             ("png-truncated", _png_hdr(300, 200)[:20]),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: r
               for r in parse_header_dims(df).collect()}
        assert (got["png"]["header_fmt"], got["png"]["header_w"],
                got["png"]["header_h"]) == ("png", 300, 200)
        assert (got["gif"]["header_fmt"], got["gif"]["header_w"],
                got["gif"]["header_h"]) == ("gif", 640, 480)
        assert (got["bmp"]["header_w"], got["bmp"]["header_h"]) \
            == (1920, 1080)
        assert (got["bmp-topdown"]["header_w"],
                got["bmp-topdown"]["header_h"]) == (1920, 1080)
        for k in ("jpeg", "png-truncated", "nulls"):
            assert got[k]["header_fmt"] is None
            assert got[k]["header_w"] is None

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import parse_header_dims

        df = spark.createDataFrame(
            [("a", _png_hdr(1, 1))], "image_id string, bytes binary")
        plan = parse_header_dims(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestHeaderDimsGate:
    def test_verdict_precedence(self, spark):
        from xcrawl3r_spark.operators.images import header_dims_gate

        df = spark.createDataFrame(
            [("ok", "png", 300, 200, _png_hdr(300, 200)),
             ("lie", "gif", 640, 480, _gif_hdr(800, 480)),
             # bomb wins over the (also true) mismatch
             ("bomb", "png", 300, 200, _png_hdr(60000, 60000)),
             ("jpeg", "jpeg", 10, 10,
              bytes.fromhex("FFD8FFE000104A464946")),
             ("gone", "png", 10, 10, None),
             # r4 ADVICE: NULL declared dims must not read "ok" —
             # the header parsed, but there was nothing to confirm
             ("undeclared", "png", None, None, _png_hdr(300, 200)),
             # ...while a mismatch on the PRESENT half still fires
             ("half-lie", "png", None, 480, _png_hdr(300, 200))],
            "image_id string, fmt string, w int, h int, bytes binary")
        got = {r["image_id"]: r["verdict"]
               for r in header_dims_gate(df, max_pixels=1 << 28)
               .collect()}
        assert got == {"ok": "ok", "lie": "dims_mismatch",
                       "bomb": "bomb", "jpeg": "unparsed",
                       "gone": "no_payload",
                       "undeclared": "no_declaration",
                       "half-lie": "dims_mismatch"}


class TestScheduleFetchWaves:
    def test_budget_waves_and_demand_order(self, spark):
        from xcrawl3r_spark.operators.images import schedule_fetch_waves

        rows = [(f"https://a.test/i{i}.jpg", f"https://a.test/i{i}.jpg",
                 10 - i) for i in range(5)]  # demand-descending on a.test
        rows += [("https://b.test/x.png", "https://b.test/x.png", 1),
                 ("not a url", "not a url", 9)]
        df = spark.createDataFrame(
            rows, "canonical_url string, fetch_url string, n_refs long")
        out = schedule_fetch_waves(df, host_budget=2).collect()
        a = sorted((r for r in out if r["host"] == "a.test"),
                   key=lambda r: r["rank_in_host"])
        # highest-demand first; budget 2 per wave -> waves 0,0,1,1,2
        assert [r["n_refs"] for r in a] == [10, 9, 8, 7, 6]
        assert [r["wave"] for r in a] == [0, 0, 1, 1, 2]
        b = [r for r in out if r["host"] == "b.test"]
        assert (b[0]["rank_in_host"], b[0]["wave"]) == (1, 0)
        # unparseable URL lands in the NULL-host bucket, still scheduled
        nul = [r for r in out if r["host"] is None]
        assert len(nul) == 1 and nul[0]["wave"] == 0

    def test_single_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import schedule_fetch_waves

        df = spark.createDataFrame(
            [("https://a.test/1", "https://a.test/1", 1)],
            "canonical_url string, fetch_url string, n_refs long")
        plan = schedule_fetch_waves(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") <= 1


def _jseg(marker, payload):
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
        + payload


def _jsof(w, h, marker=0xC0):
    return _jseg(marker, bytes([8]) + h.to_bytes(2, "big")
                 + w.to_bytes(2, "big") + b"\x00" * 10)


_JFIF = _jseg(0xE0, b"JFIF\x00" + b"\x00" * 9)
_JEXIF = _jseg(0xE1, b"Exif\x00\x00" + b"\x00" * 40)
_JDQT = _jseg(0xDB, b"\x00" * 6)
_JDHT = _jseg(0xC4, b"\x00" * 5)  # C4 = huffman table, NOT a SOF


class TestJpegSofDims:
    def test_walks_to_sof(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_sof_dims

        soi = b"\xFF\xD8"
        df = spark.createDataFrame(
            [("plain", soi + _JFIF + _jsof(1920, 1080)),
             ("exif-progressive",
              soi + _JFIF + _JEXIF + _JDQT + _jsof(640, 480, 0xC2)),
             # DHT's C4 marker must be hopped over, not read as SOF
             ("dht-first", soi + _JFIF + _JDHT + _jsof(100, 200)),
             ("no-sof", soi + _JFIF + _JDQT),
             ("not-jpeg", bytes.fromhex("89504E470D0A1A0A")),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["jpeg_w"], r["jpeg_h"])
               for r in jpeg_sof_dims(df).collect()}
        assert got["plain"] == (1920, 1080)
        assert got["exif-progressive"] == (640, 480)
        assert got["dht-first"] == (100, 200)
        for k in ("no-sof", "not-jpeg", "nulls"):
            assert got[k] == (None, None)

    def test_budget_and_window_bounds(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_sof_dims

        deep = (b"\xFF\xD8" + _JFIF + _JEXIF + _JDQT + _JDQT
                + _jsof(12, 34))
        df = spark.createDataFrame(
            [("deep", deep)], "image_id string, bytes binary")
        # the SOF is the 5th segment examined: budget 5 reaches it
        # (4 hops + 1 examination), budget 4 stops one short
        assert jpeg_sof_dims(df, max_segments=5).collect()[0]["jpeg_w"] \
            == 12
        assert jpeg_sof_dims(df, max_segments=4).collect()[0]["jpeg_w"] \
            is None
        # a scan window that cuts before the SOF parses NULL, no error
        assert jpeg_sof_dims(df, scan_bytes=20).collect()[0]["jpeg_w"] \
            is None

    def test_zero_shuffle_and_passthrough(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_sof_dims

        df = spark.createDataFrame(
            [("a", "jpeg", b"\xFF\xD8" + _JFIF + _jsof(2, 3))],
            "image_id string, fmt string, bytes binary")
        out = jpeg_sof_dims(df)
        assert set(out.columns) == {"image_id", "fmt", "bytes",
                                    "jpeg_w", "jpeg_h"}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def _tiff_block(le, orientation=6, ori_slot=1, include_ori=True,
                magic=42):
    import struct
    fmt = "<" if le else ">"
    u16 = lambda v: struct.pack(fmt + "H", v)
    u32 = lambda v: struct.pack(fmt + "I", v)
    entry = lambda tag, typ, cnt, val4: u16(tag) + u16(typ) + u32(cnt) + val4
    ents = [entry(0x010F, 2, 4, b"ABCD"),            # Make
            entry(0x011A, 3, 1, u16(72) + b"\x00\x00")]  # XResolution
    ori = (entry(0x0112, 3, 1, u16(orientation) + b"\x00\x00")
           if include_ori else entry(0x0131, 2, 4, b"soft"))
    ents.insert(ori_slot, ori)
    ifd = u16(len(ents)) + b"".join(ents) + u32(0)
    return (b"II" if le else b"MM") + u16(magic) + u32(8) + ifd


def _exif_jpeg(tiff, pre=b""):
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xFF\xE1" + (len(payload) + 2).to_bytes(2, "big") + payload
    return b"\xFF\xD8" + _JFIF + pre + app1 + _jsof(10, 20)


class TestExifOrientation:
    def test_both_endians_and_slots(self, spark):
        from xcrawl3r_spark.operators.images import exif_orientation

        df = spark.createDataFrame(
            [("ii-first", _exif_jpeg(_tiff_block(True, 6, ori_slot=0))),
             ("mm-last", _exif_jpeg(_tiff_block(False, 8, ori_slot=2))),
             ("ii-upright", _exif_jpeg(_tiff_block(True, 1))),
             ("com-before-app1",
              _exif_jpeg(_tiff_block(False, 3),
                         pre=b"\xFF\xFE\x00\x04\x00\x00")),
             ("no-ori-tag",
              _exif_jpeg(_tiff_block(True, include_ori=False))),
             ("bad-tiff-magic",
              _exif_jpeg(_tiff_block(True, 6, magic=43))),
             ("no-app1", b"\xFF\xD8" + _JFIF + _jsof(10, 20)),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["exif_orientation"],
                               r["needs_transpose"])
               for r in exif_orientation(df).collect()}
        assert got["ii-first"] == (6, True)
        assert got["mm-last"] == (8, True)
        assert got["ii-upright"] == (1, False)
        assert got["com-before-app1"] == (3, False)
        for k in ("no-ori-tag", "bad-tiff-magic", "no-app1", "nulls"):
            assert got[k] == (None, None)

    def test_entry_budget_and_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import exif_orientation

        jp = _exif_jpeg(_tiff_block(True, 6, ori_slot=2))
        df = spark.createDataFrame(
            [("a", jp)], "image_id string, bytes binary")
        # orientation is the 3rd entry: budget 3 finds it, 2 does not
        assert exif_orientation(df, max_entries=3).collect()[0][
            "exif_orientation"] == 6
        assert exif_orientation(df, max_entries=2).collect()[0][
            "exif_orientation"] is None
        plan = exif_orientation(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestDisplayDims:
    def test_transpose_swaps(self, spark):
        from xcrawl3r_spark.operators.images import display_dims

        df = spark.createDataFrame(
            # _jsof stores 10 wide x 20 tall
            [("rot90", _exif_jpeg(_tiff_block(True, 6))),
             ("upright", _exif_jpeg(_tiff_block(True, 1))),
             ("no-exif", b"\xFF\xD8" + _JFIF + _jsof(10, 20)),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["display_w"], r["display_h"])
               for r in display_dims(df).collect()}
        assert got["rot90"] == (20, 10)          # swapped
        assert got["upright"] == (10, 20)
        assert got["no-exif"] == (10, 20)        # absent EXIF = upright
        assert got["nulls"] == (None, None)

    def test_composite_stays_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import display_dims

        df = spark.createDataFrame(
            [("a", _exif_jpeg(_tiff_block(True, 6)))],
            "image_id string, bytes binary")
        plan = display_dims(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def _png_chunk(typ, data):
    import zlib
    return (len(data).to_bytes(4, "big") + typ
            + data + zlib.crc32(typ + data).to_bytes(4, "big"))


def _png_file(*chunks, ihdr_dims=(8, 8)):
    w, h = ihdr_dims
    ihdr = _png_chunk(
        b"IHDR", w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0]))
    idat = _png_chunk(b"IDAT", b"\x00" * 4)
    return (bytes.fromhex("89504E470D0A1A0A") + ihdr
            + b"".join(chunks) + idat)


_PHYS = _png_chunk(b"pHYs", (2835).to_bytes(4, "big")
                   + (5670).to_bytes(4, "big") + b"\x01")
_ACTL = _png_chunk(b"acTL", (24).to_bytes(4, "big")
                   + (0).to_bytes(4, "big"))
_ICCP = _png_chunk(b"iCCP", b"icc\x00\x00" + b"\x00" * 6)


class TestPngChunkScan:
    def test_signals(self, spark):
        from xcrawl3r_spark.operators.images import png_chunk_scan

        df = spark.createDataFrame(
            [("phys", _png_file(_PHYS)),
             ("apng-icc", _png_file(_ICCP, _ACTL)),
             ("plain", _png_file()),
             ("all", _png_file(_ICCP, _PHYS, _ACTL)),
             ("not-png", b"\xFF\xD8" + _JFIF),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: r for r in png_chunk_scan(df).collect()}
        assert (got["phys"]["phys_x_ppu"], got["phys"]["phys_y_ppu"],
                got["phys"]["phys_unit"]) == (2835, 5670, 1)
        assert got["phys"]["apng_frames"] is None
        assert got["phys"]["has_icc"] is False
        assert (got["apng-icc"]["apng_frames"],
                got["apng-icc"]["has_icc"]) == (24, True)
        assert (got["plain"]["phys_x_ppu"], got["plain"]["apng_frames"],
                got["plain"]["has_icc"]) == (None, None, False)
        assert (got["all"]["phys_x_ppu"], got["all"]["apng_frames"],
                got["all"]["has_icc"]) == (2835, 24, True)
        for k in ("not-png", "nulls"):
            assert (got[k]["phys_x_ppu"], got[k]["apng_frames"],
                    got[k]["has_icc"]) == (None, None, None)

    def test_walk_stops_at_idat(self, spark):
        from xcrawl3r_spark.operators.images import png_chunk_scan

        # pHYs placed AFTER IDAT (spec-invalid) must not be found —
        # the walk stops at the first IDAT
        body = _png_file() + _PHYS
        df = spark.createDataFrame(
            [("late", body)], "image_id string, bytes binary")
        out = png_chunk_scan(df).collect()[0]
        assert out["phys_x_ppu"] is None

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import png_chunk_scan

        df = spark.createDataFrame(
            [("a", _png_file(_PHYS))], "image_id string, bytes binary")
        plan = png_chunk_scan(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


_GIF_GCE = b"\x21\xF9\x04\x00\x00\x00\x00\x00"      # graphic control
_GIF_COMMENT = b"\x21\xFE\x03abc\x00"               # 3-byte comment ext


def _gif_file(w=10, h=10, gct_n=None, anim=None, app=b"NETSCAPE2.0",
              pre=b""):
    le16 = lambda v: v.to_bytes(2, "little")
    packed = 0
    body = b""
    if gct_n is not None:
        packed = 0x80 | gct_n
        body += b"\x00" * (3 * 2 ** (gct_n + 1))
    head = (b"GIF89a" + le16(w) + le16(h) + bytes([packed]) + b"\x00\x00"
            + body + pre)
    if anim is not None:
        head += (b"\x21\xFF\x0B" + app + b"\x03\x01" + le16(anim)
                 + b"\x00")
    # an image descriptor stub so static files still have a block
    head += b"\x2C" + le16(0) * 2 + le16(w) + le16(h) + b"\x00"
    return head


class TestGifAnimProbe:
    def test_detection_and_loop_count(self, spark):
        from xcrawl3r_spark.operators.images import gif_anim_probe

        df = spark.createDataFrame(
            [("anim-nogct", _gif_file(anim=7)),
             ("anim-gct0", _gif_file(gct_n=0, anim=0)),     # 6-byte GCT
             ("anim-gct7", _gif_file(gct_n=7, anim=65535)),  # 768-byte
             ("animexts", _gif_file(gct_n=2, anim=3,
                                    app=b"ANIMEXTS1.0")),
             ("static", _gif_file()),
             ("static-gct", _gif_file(gct_n=4)),
             ("not-gif", b"\x89PNG\r\n\x1a\n" + b"\x00" * 20),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["gif_animated"], r["gif_loop_count"])
               for r in gif_anim_probe(df).collect()}
        assert got["anim-nogct"] == (True, 7)
        assert got["anim-gct0"] == (True, 0)
        assert got["anim-gct7"] == (True, 65535)
        assert got["animexts"] == (True, 3)
        assert got["static"] == (False, None)
        assert got["static-gct"] == (False, None)
        assert got["not-gif"] == (None, None)
        assert got["nulls"] == (None, None)

    def test_block_walk_past_leading_extensions(self, spark):
        """r4 ADVICE: wild encoders put a graphic-control or comment
        block BEFORE the loop extension — the bounded walk must skip
        them generically (one step per sub-block) and still find
        NETSCAPE; a GIF whose walk hits the image descriptor first
        stays false, loop-ext-after-frames GIFs included."""
        from xcrawl3r_spark.operators.images import gif_anim_probe

        df = spark.createDataFrame(
            [("gce-first", _gif_file(anim=7, pre=_GIF_GCE)),
             ("comment-first", _gif_file(anim=9, pre=_GIF_COMMENT)),
             ("gce-comment", _gif_file(gct_n=1, anim=0,
                                       pre=_GIF_GCE + _GIF_COMMENT)),
             ("static-gce", _gif_file(pre=_GIF_GCE)),
             # a frame before any loop ext: walk stops at 2C -> still
             ("frames-first", _gif_file() + b"\x21\xFF\x0B"
              + b"NETSCAPE2.0" + b"\x03\x01\x07\x00\x00")],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["gif_animated"], r["gif_loop_count"])
               for r in gif_anim_probe(df).collect()}
        assert got["gce-first"] == (True, 7)
        assert got["comment-first"] == (True, 9)
        assert got["gce-comment"] == (True, 0)
        assert got["static-gce"] == (False, None)
        assert got["frames-first"] == (False, None)

    def test_walk_out_of_steps_is_unknown(self, spark):
        """A walk that uses up max_steps still positioned on a block
        answers NULL, never still: a graphic-control block plus a
        comment cost 6 steps, so at 6 the NETSCAPE block behind them is
        never checked (animation_probe's budget) and at 8 it is found.
        A still GIF whose walk ends inside the budget stays false."""
        from xcrawl3r_spark.operators.images import (
            animation_probe, gif_anim_probe)

        df = spark.createDataFrame(
            [("gce-comment", _gif_file(anim=5, pre=_GIF_GCE + _GIF_COMMENT)),
             ("static-gce", _gif_file(pre=_GIF_GCE)),
             ("static-gce-comment",
              _gif_file(pre=_GIF_GCE + _GIF_COMMENT))],
            "image_id string, bytes binary")

        def probe(steps):
            return {r["image_id"]: (r["gif_animated"], r["gif_loop_count"])
                    for r in gif_anim_probe(df, max_steps=steps).collect()}

        assert probe(6) == {"gce-comment": (None, None),
                            "static-gce": (False, None),
                            "static-gce-comment": (None, None)}
        assert probe(8) == {"gce-comment": (True, 5),
                            "static-gce": (False, None),
                            "static-gce-comment": (False, None)}
        got = {r["image_id"]: r["is_animated"]
               for r in animation_probe(df).collect()}
        assert got == {"gce-comment": None, "static-gce": False,
                       "static-gce-comment": None}

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import gif_anim_probe

        df = spark.createDataFrame(
            [("a", _gif_file(anim=1))], "image_id string, bytes binary")
        plan = gif_anim_probe(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestAdmissionGate:
    def test_verdict_chain(self, spark):
        from xcrawl3r_spark.operators.images import admission_gate

        jfif = bytes.fromhex("FFD8FFE000104A464946") + b"\x00" * 20
        rows = [
            ("admit", "png", 300, 200, "a cat photo", _png_hdr(300, 200)),
            ("gone", "png", 300, 200, "a cat photo", None),
            ("lie", "png", 300, 200, "a cat photo", jfif),
            ("poison", "png", 300, 200, "ok caption", b"<html>oops"),
            # bomb also mismatches the declared dims: bomb wins
            ("bomb", "png", 300, 200, "ok caption",
             _png_hdr(60000, 60000)),
            ("drift", "png", 640, 480, "ok caption", _png_hdr(300, 200)),
            ("icon", "png", 32, 32, "ok caption", _png_hdr(32, 32)),
            ("blank-cap", "png", 300, 200, "   ", _png_hdr(300, 200)),
            # jpeg: header unparseable here -> declared dims carry the
            # too_small check, caption fine -> admit
            ("jpeg-admit", "jpeg", 300, 200, "fine caption", jfif),
            # r4 ADVICE: NULL declared metadata must NOT slip past the
            # NULL-propagating comparisons and admit
            ("no-fmt", None, 300, 200, "ok caption", _png_hdr(300, 200)),
            ("no-dims", "png", None, None, "ok caption",
             _png_hdr(300, 200)),
            # ...but a byte-level failure still outranks the missing
            # declaration (the checks that CAN run, run first)
            ("no-fmt-bomb", None, 300, 200, "ok caption",
             _png_hdr(60000, 60000)),
            ("half-dims-drift", "png", None, 480, "ok caption",
             _png_hdr(300, 200)),
        ]
        df = spark.createDataFrame(
            rows, "image_id string, fmt string, w int, h int, "
                  "caption string, bytes binary")
        got = {r["image_id"]: r["verdict"]
               for r in admission_gate(df, min_side=64).collect()}
        assert got == {
            "admit": "admit", "gone": "no_payload", "lie": "format_lie",
            "poison": "format_lie", "bomb": "bomb",
            "drift": "dims_mismatch", "icon": "too_small",
            "blank-cap": "no_caption", "jpeg-admit": "admit",
            "no-fmt": "no_declaration", "no-dims": "no_declaration",
            "no-fmt-bomb": "bomb", "half-dims-drift": "dims_mismatch",
        }

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import admission_gate

        df = spark.createDataFrame(
            [("a", "png", 8, 8, "caption!", _png_hdr(8, 8))],
            "image_id string, fmt string, w int, h int, "
            "caption string, bytes binary")
        plan = admission_gate(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestAdmissionFunnel:
    def test_groups_and_dim_envelope(self, spark):
        from xcrawl3r_spark.operators.images import admission_funnel

        df = spark.createDataFrame(
            [("a", "png", "png", 100, 80, "admit"),
             ("b", "webp", "png", 300, 200, "admit"),
             ("c", "png", None, None, None, "format_lie"),
             ("d", "jpeg", "jpeg", None, None, "admit")],
            "image_id string, fmt string, sniffed_fmt string, "
            "header_w long, header_h long, verdict string")
        got = {(r["verdict"], r["sniffed_fmt"]): r
               for r in admission_funnel(df).collect()}
        png_admit = got[("admit", "png")]
        assert (png_admit["n_rows"], png_admit["n_declared_fmts"],
                png_admit["min_header_w"], png_admit["max_header_w"]) \
            == (2, 2, 100, 300)
        assert got[("format_lie", "none")]["n_rows"] == 1
        # group with no parsed header: envelope is the -1 sentinel
        assert got[("admit", "jpeg")]["min_header_w"] == -1


class TestByteParserFuzz:
    """Seeded-random round-trips: payloads built INDEPENDENTLY with
    Python struct/int.to_bytes (not the SQL synthesis) must parse back
    to exactly the dims/orientation they encode — one Spark run per
    parser family over a few hundred cases."""

    def test_header_dims_roundtrip(self, spark):
        from xcrawl3r_spark.operators.images import parse_header_dims

        rng = np.random.default_rng(42)
        cases, expect = [], {}
        # pinned extremes land on png/gif/bmp (i % 7 = 0,1,2) — the
        # formats whose fields hold 16-bit+ values; webp rows stay in
        # the random range, which fits every format's field width
        pinned = [(1, 1), (16383, 16383), (65535, 1)]
        for i in range(160):
            w, h = (pinned[i] if i < len(pinned) else
                    (int(rng.integers(1, 16384)),
                     int(rng.integers(1, 16384))))
            k = i % 7
            if k == 0:
                b, f = _png_hdr(w, h), "png"
            elif k == 1:
                b, f = _gif_hdr(w, h), "gif"
            elif k == 2:
                b, f = _bmp_hdr(w, h if i % 2 else -h), "bmp"
            elif k == 3:
                b, f = _webp_vp8(w, h, scale_bits=i % 4), "webp"
            elif k == 4:
                b, f = _webp_vp8l(w, h), "webp"
            elif k == 5:
                b, f = _webp_vp8x(w, h), "webp"
            else:
                # garbage: first byte 0x00 matches no magic
                b = b"\x00" + bytes(rng.integers(0, 256, 29,
                                                 dtype=np.uint8))
                f, w, h = None, None, None
            cid = f"c{i}"
            cases.append((cid, b))
            expect[cid] = (f, w, h)
        df = spark.createDataFrame(cases, "image_id string, bytes binary")
        for r in parse_header_dims(df).collect():
            assert (r["header_fmt"], r["header_w"], r["header_h"]) \
                == expect[r["image_id"]], r["image_id"]

    def test_jpeg_and_exif_roundtrip(self, spark):
        from xcrawl3r_spark.operators.images import (
            exif_orientation, jpeg_sof_dims)

        rng = np.random.default_rng(7)
        fillers = [lambda n: _jseg(0xE0, b"JFIF\x00" + b"\x00" * n),
                   lambda n: _jseg(0xDB, b"\x00" * n),
                   lambda n: _jseg(0xFE, b"\x00" * n),
                   lambda n: _jseg(0xC4, b"\x00" * n)]
        cases, expect = [], {}
        for i in range(120):
            w = int(rng.integers(1, 65536))
            h = int(rng.integers(1, 65536))
            ori = int(rng.integers(1, 9))
            le = bool(rng.integers(0, 2))
            slot = int(rng.integers(0, 3))
            n_fill = int(rng.integers(0, 4))
            body = b"\xFF\xD8"
            # EXIF APP1 within the first 2 segments (spec convention)
            body += fillers[0](int(rng.integers(0, 40)))
            tiff = _tiff_block(le, ori, ori_slot=slot)
            payload = b"Exif\x00\x00" + tiff
            body += (b"\xFF\xE1" + (len(payload) + 2).to_bytes(2, "big")
                     + payload)
            for _ in range(n_fill):
                body += fillers[int(rng.integers(1, 4))](
                    int(rng.integers(0, 50)))
            marker = [0xC0, 0xC1, 0xC2][int(rng.integers(0, 3))]
            body += _jsof(w, h, marker)
            cid = f"j{i}"
            cases.append((cid, body))
            expect[cid] = (w, h, ori)
        df = spark.createDataFrame(cases, "image_id string, bytes binary")
        out = exif_orientation(jpeg_sof_dims(df))
        for r in out.collect():
            assert (r["jpeg_w"], r["jpeg_h"], r["exif_orientation"]) \
                == expect[r["image_id"]], r["image_id"]


class TestCrossModalDups:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "image_id string, phash long, caption string")

    def test_both_reuse_directions(self, spark):
        from xcrawl3r_spark.operators.images import cross_modal_dups

        # phash 1 posted under 2 distinct captions (3 rows); caption
        # "boiler" attached to phashes 1 and 2; phash 3/caption "solo"
        # unique -> excluded from both sides.
        df = self._df(spark, [
            ("a", 1, "boiler"), ("b", 1, "boiler"), ("c", 1, "other"),
            ("d", 2, "boiler"), ("e", 3, "solo"),
        ])
        out = cross_modal_dups(df).collect()
        img = {r["key"]: r for r in out if r["kind"] == "image_reuse"}
        cap = {r["key"]: r for r in out if r["kind"] == "caption_reuse"}
        assert set(img) == {"1"}
        assert (img["1"]["n_pairs"], img["1"]["n_distinct_other"]) == (3, 2)
        assert len(cap) == 1  # only "boiler" repeats
        (k,) = cap
        assert (cap[k]["n_pairs"], cap[k]["n_distinct_other"]) == (3, 2)

    def test_caption_identity_is_trimmed(self, spark):
        from xcrawl3r_spark.operators.images import cross_modal_dups

        df = self._df(spark, [
            ("a", 1, "  pad "), ("b", 2, "pad"),
        ])
        out = cross_modal_dups(df).collect()
        assert [r["kind"] for r in out] == ["caption_reuse"]
        assert out[0]["n_pairs"] == 2 and out[0]["n_distinct_other"] == 2

    def test_no_dups_empty_output(self, spark):
        from xcrawl3r_spark.operators.images import cross_modal_dups

        df = self._df(spark, [("a", 1, "x"), ("b", 2, "y")])
        assert cross_modal_dups(df).count() == 0


def _ijg_scale(q):
    """libjpeg's public jpeg_quality_scaling (jcparam.c)."""
    return 5000 // q if q < 50 else 200 - 2 * q


def _dqt_seg(q=None, values=None, precision16=False):
    from xcrawl3r_spark.operators.images import DQT_ZIGZAG_BASE8

    if precision16:
        return _jseg(0xDB, bytes([0x10]) + b"\x01\x00" * 64)
    vals = values if values is not None else [
        min(255, max(1, (b * _ijg_scale(q) + 50) // 100))
        for b in DQT_ZIGZAG_BASE8]
    return _jseg(0xDB, bytes([0]) + bytes(vals) + bytes([64] * 56))


_JSOS = bytes.fromhex("FFDA000C03010002110311003F00")


class TestJpegQualityEstimate:
    def test_recovers_planted_quality(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_quality_estimate

        qs = (1, 10, 25, 30, 50, 75, 90, 95, 99)
        df = spark.createDataFrame(
            [(f"q{q}", b"\xFF\xD8" + _dqt_seg(q) + _jsof(10, 20) + _JSOS)
             for q in qs],
            "image_id string, bytes binary")
        got = {r["image_id"]: r["jpeg_quality_est"]
               for r in jpeg_quality_estimate(df).collect()}
        # accumulated per-value floor error bounds the estimate; the
        # clamp-free mid-range inverts exactly
        for q in qs:
            assert abs(got[f"q{q}"] - q) <= 3, (q, got[f"q{q}"])
        for q in (25, 30, 50, 75, 90):
            assert got[f"q{q}"] == q

    def test_three_valued_present(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_quality_estimate

        com = b"\xFF\xFE\x00\x04\xAB\xCD"
        df = spark.createDataFrame(
            [("plain", b"\xFF\xD8" + _dqt_seg(50) + _jsof(1, 1) + _JSOS),
             ("com-hop", b"\xFF\xD8" + com + _dqt_seg(50) + _JSOS),
             # SOS with no DQT before it: the only definitive false
             ("no-dqt-sos", b"\xFF\xD8" + _JFIF + _jsof(1, 1) + _JSOS),
             # stream ends before any DQT or SOS: unknown, not false
             ("no-dqt-ends", b"\xFF\xD8" + _JFIF + _jsof(1, 1)),
             ("prec16", b"\xFF\xD8" + _dqt_seg(precision16=True) + _JSOS),
             ("not-jpeg", bytes.fromhex("89504E470D0A1A0A")),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["dqt_present"], r["dqt_sum"],
                               r["jpeg_quality_est"])
               for r in jpeg_quality_estimate(df).collect()}
        assert got["plain"] == (True, 105, 50)   # q50 table sums to base
        assert got["com-hop"][0] is True and got["com-hop"][2] == 50
        assert got["no-dqt-sos"] == (False, None, None)
        assert got["no-dqt-ends"] == (None, None, None)
        assert got["prec16"] == (True, None, None)
        assert got["not-jpeg"] == (None, None, None)
        assert got["nulls"] == (None, None, None)

    def test_all_zero_table_is_null_and_valid_tables_bounded(self, spark):
        """An all-zero table (invalid per T.81) has no quality: NULL,
        not 100. Valid 8-bit tables span quality 2 (every value 255)
        to 96 (every value 1)."""
        from xcrawl3r_spark.operators.images import jpeg_quality_estimate

        df = spark.createDataFrame(
            [(name, b"\xFF\xD8" + _dqt_seg(values=[v] * 8) + _JSOS)
             for name, v in (("zeros", 0), ("all-255", 255), ("all-1", 1))],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["dqt_present"], r["dqt_sum"],
                               r["jpeg_quality_est"])
               for r in jpeg_quality_estimate(df).collect()}
        assert got["zeros"] == (True, 0, None)
        assert got["all-255"] == (True, 2040, 2)
        assert got["all-1"] == (True, 8, 96)

    def test_budget_and_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_quality_estimate

        deep = (b"\xFF\xD8" + _JFIF + _JEXIF + _JDHT + _dqt_seg(75)
                + _JSOS)
        df = spark.createDataFrame(
            [("deep", deep)], "image_id string, bytes binary")
        # DQT is the 4th segment examined: budget 4 reaches it
        assert jpeg_quality_estimate(df, max_segments=4).collect()[0][
            "jpeg_quality_est"] == 75
        # budget 3 stops short: unknown (NULL), never false
        row = jpeg_quality_estimate(df, max_segments=3).collect()[0]
        assert row["dqt_present"] is None
        plan = jpeg_quality_estimate(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def _gps_tiff_block(le, include_gps=True, gps_off=0x9C, count_lie=None):
    import struct
    fmt = "<" if le else ">"
    u16 = lambda v: struct.pack(fmt + "H", v)
    u32 = lambda v: struct.pack(fmt + "I", v)
    entry = lambda tag, typ, cnt, val4: u16(tag) + u16(typ) + u32(cnt) + val4
    ents = [entry(0x010F, 2, 4, b"ABCD"),                # Make
            entry(0x011A, 3, 1, u16(72) + b"\x00\x00")]  # XResolution
    if include_gps:
        ents.append(entry(0x8825, 4, 1, u32(gps_off)))   # GPSInfo IFD ptr
    n = len(ents) if count_lie is None else count_lie
    ifd = u16(n) + b"".join(ents) + u32(0)
    return (b"II" if le else b"MM") + u16(42) + u32(8) + ifd


class TestExifGps:
    def test_three_valued_privacy_semantics(self, spark):
        from xcrawl3r_spark.operators.images import exif_gps

        df = spark.createDataFrame(
            [("ii-gps", _exif_jpeg(_gps_tiff_block(True, gps_off=0xA6))),
             ("mm-gps", _exif_jpeg(_gps_tiff_block(False, gps_off=0x44))),
             # full IFD scanned, no GPS entry: definitive clean
             ("clean", _exif_jpeg(_gps_tiff_block(True, include_gps=False))),
             # entry count lies (50 > scan budget): truncated scan must
             # report unknown, never clean
             ("lying-count", _exif_jpeg(_gps_tiff_block(
                 True, include_gps=False, count_lie=50))),
             ("com-before", _exif_jpeg(_gps_tiff_block(False),
                                       pre=b"\xFF\xFE\x00\x04\x00\x00")),
             ("no-app1", b"\xFF\xD8" + _JFIF + _jsof(10, 20)),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["has_gps"], r["gps_ifd_offset"])
               for r in exif_gps(df).collect()}
        assert got["ii-gps"] == (True, 0xA6)
        assert got["mm-gps"] == (True, 0x44)
        assert got["clean"] == (False, None)
        assert got["lying-count"] == (None, None)
        assert got["com-before"] == (True, 0x9C)
        assert got["no-app1"] == (None, None)
        assert got["nulls"] == (None, None)

    def test_entry_budget_and_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import exif_gps

        jp = _exif_jpeg(_gps_tiff_block(True))  # GPS is the 3rd entry
        df = spark.createDataFrame(
            [("a", jp)], "image_id string, bytes binary")
        assert exif_gps(df, max_entries=3).collect()[0]["has_gps"] is True
        # budget 2 truncates a 3-entry IFD: unknown, not false
        assert exif_gps(df, max_entries=2).collect()[0]["has_gps"] is None
        plan = exif_gps(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def _webp_file(fourcc=b"VP8X", flags=0x00):
    if fourcc == b"VP8X":
        chunk = fourcc + (10).to_bytes(4, "little") \
            + bytes([flags]) + b"\x00" * 3 \
            + (15).to_bytes(3, "little") + (15).to_bytes(3, "little")
    else:
        chunk = fourcc + (16).to_bytes(4, "little") + b"\x00" * 16
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" \
        + chunk


class TestAnimationProbe:
    def test_dispatch_across_formats(self, spark):
        from xcrawl3r_spark.operators.images import animation_probe

        df = spark.createDataFrame(
            [("gif-anim", _gif_file(anim=7)),
             ("gif-still", _gif_file(gct_n=2)),
             ("apng", _png_file(_ACTL)),
             ("png-still", _png_file(_PHYS)),
             # VP8X animation bit (0x02) per the WebP container spec
             ("webp-anim", _webp_file(flags=0x02)),
             # alpha/ICC bits set but NOT the animation bit
             ("webp-still-flags", _webp_file(flags=0x30)),
             ("webp-vp8", _webp_file(fourcc=b"VP8 ")),
             ("jpeg", b"\xFF\xD8" + _JFIF + _jsof(4, 4)),
             ("bmp", b"BM" + b"\x00" * 24),
             ("garbage", b"\x00\x11\x22\x33\x44"),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["anim_format"], r["is_animated"],
                               r["anim_frames"], r["anim_loop_count"])
               for r in animation_probe(df).collect()}
        assert got["gif-anim"] == ("gif", True, None, 7)
        assert got["gif-still"] == ("gif", False, None, None)
        assert got["apng"] == ("png", True, 24, None)
        assert got["png-still"] == ("png", False, None, None)
        assert got["webp-anim"] == ("webp", True, None, None)
        assert got["webp-still-flags"] == ("webp", False, None, None)
        assert got["webp-vp8"] == ("webp", False, None, None)
        assert got["jpeg"] == ("jpeg", False, None, None)
        assert got["bmp"] == ("bmp", False, None, None)
        # unsniffable / absent payloads are UNKNOWN, not still
        assert got["garbage"] == (None, None, None, None)
        assert got["nulls"] == (None, None, None, None)

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import animation_probe

        df = spark.createDataFrame(
            [("a", _webp_file(flags=0x02))],
            "image_id string, bytes binary")
        plan = animation_probe(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


_JICC = _jseg(0xE2, b"ICC_PROFILE\x00" + b"\x01\x01" + b"\x00" * 6)
_JAPP2_OTHER = _jseg(0xE2, b"MPF\x00" + b"\x00" * 8)  # APP2, not ICC


class TestJpegProfile:
    def test_profile_fields(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_profile

        def sof(marker, ncomp):
            comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ncomp))
            return _jseg(marker, bytes([8]) + (100).to_bytes(2, "big")
                         + (100).to_bytes(2, "big") + bytes([ncomp])
                         + comps)

        df = spark.createDataFrame(
            [("baseline", b"\xFF\xD8" + _JFIF + sof(0xC0, 3)),
             ("progressive-icc",
              b"\xFF\xD8" + _JICC + sof(0xC2, 3)),
             ("gray", b"\xFF\xD8" + _JFIF + sof(0xC0, 1)),
             ("cmyk-arith", b"\xFF\xD8" + sof(0xCA, 4)),
             # APP2 that is NOT an ICC profile must not flag
             ("app2-other", b"\xFF\xD8" + _JAPP2_OTHER + sof(0xC1, 3)),
             # walk dies on garbage right after SOI: everything unknown
             ("garbage", b"\xFF\xD8" + b"\xAB\xCD\x00\x00"),
             ("not-jpeg", bytes.fromhex("89504E470D0A1A0A")),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["sof_marker"], r["is_progressive"],
                               r["n_components"], r["color_mode"],
                               r["has_icc"], r["decode_cost_est"])
               for r in jpeg_profile(df).collect()}
        # all SOFs store 100x100; cost = w*h*ncomp*(2 if progressive)
        assert got["baseline"] == (0xC0, False, 3, "ycbcr", False, 30000)
        assert got["progressive-icc"] == (0xC2, True, 3, "ycbcr", True,
                                          60000)
        assert got["gray"] == (0xC0, False, 1, "gray", False, 10000)
        assert got["cmyk-arith"] == (0xCA, True, 4, "cmyk", False, 80000)
        assert got["app2-other"] == (0xC1, False, 3, "ycbcr", False,
                                     30000)
        for k in ("garbage", "not-jpeg", "nulls"):
            assert got[k] == (None, None, None, None, None, None)
        # dims surfaced alongside
        rows = {r["image_id"]: (r["sof_w"], r["sof_h"])
                for r in jpeg_profile(df).collect()}
        assert rows["baseline"] == (100, 100)
        assert rows["nulls"] == (None, None)

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import jpeg_profile

        df = spark.createDataFrame(
            [("a", b"\xFF\xD8" + _JFIF)], "image_id string, bytes binary")
        plan = jpeg_profile(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def _tiff_file(le, w=640, h=480, w_type=3, h_type=3, include_w=True):
    import struct
    fmt = "<" if le else ">"
    u16 = lambda v: struct.pack(fmt + "H", v)
    u32 = lambda v: struct.pack(fmt + "I", v)
    def entry(tag, typ, v):
        val = u16(v) + b"\x00\x00" if typ == 3 else u32(v)
        return u16(tag) + u16(typ) + u32(1) + val
    ents = []
    if include_w:
        ents.append(entry(256, w_type, w))
    ents.append(entry(257, h_type, h))
    ents.append(u16(0x010F) + u16(2) + u32(4) + b"ABCD")
    ifd = u16(len(ents)) + b"".join(ents) + u32(0)
    return (b"II" if le else b"MM") + u16(42) + u32(8) + ifd


class TestTiffDims:
    def test_both_orders_and_types(self, spark):
        from xcrawl3r_spark.operators.images import tiff_dims

        df = spark.createDataFrame(
            [("ii-short", _tiff_file(True, 640, 480)),
             ("mm-short", _tiff_file(False, 1920, 1080)),
             ("ii-long", _tiff_file(True, 300, 200, w_type=4, h_type=4)),
             ("mm-mixed", _tiff_file(False, 12, 34, w_type=4, h_type=3)),
             ("no-width", _tiff_file(True, include_w=False)),
             ("not-tiff", b"\xFF\xD8" + _JFIF),
             ("nulls", None)],
            "image_id string, bytes binary")
        got = {r["image_id"]: (r["is_tiff"], r["tiff_w"], r["tiff_h"])
               for r in tiff_dims(df).collect()}
        assert got["ii-short"] == (True, 640, 480)
        assert got["mm-short"] == (True, 1920, 1080)
        assert got["ii-long"] == (True, 300, 200)
        assert got["mm-mixed"] == (True, 12, 34)
        assert got["no-width"] == (True, None, 480)
        assert got["not-tiff"] == (False, None, None)
        assert got["nulls"] == (False, None, None)

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.images import tiff_dims

        df = spark.createDataFrame(
            [("a", _tiff_file(True))], "image_id string, bytes binary")
        plan = tiff_dims(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
