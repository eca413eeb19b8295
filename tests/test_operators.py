"""Operator-level tests: extraction kernel (E1-E4), politeness window (A1),
robots enforcement, sinks, seed frontier."""

from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions.extraction import extract_occurrences
from xcrawl3r_spark.operators.extract import extract_links
from xcrawl3r_spark.operators.politeness import (
    politeness_select,
    robots_filter,
)
from xcrawl3r_spark.plans.crawl import Crawler


class TestExtractionKernel:
    def test_html_href_then_src(self):
        body = ('<a href="/x">a</a><img src="https://h.test/i.png">'
                '<link href="https://h.test/s.css">')
        got = list(extract_occurrences("https://h.test/p", "text/html", body, False))
        assert got == [
            ("https://h.test/x", "href"),
            ("https://h.test/s.css", "href"),
            ("https://h.test/i.png", "src"),
        ]

    def test_file_regex_branch(self):
        body = "url(https://a.h.test/x) /* https://b.h.test/y */"
        got = list(extract_occurrences("https://h.test/a.css", "text/css", body, True))
        assert [k for _, k in got] == ["regex", "regex"]

    def test_file_branch_cleanup(self):
        # /-escaped URL only extractable after body cleanup (F7)
        body = r"x https://a.h.test/p y"
        got = list(extract_occurrences("https://h.test/a.js", "text/plain", body, True))
        assert ("https://a.h.test/p", "regex") in got

    def test_non_html_non_file_extracts_nothing(self):
        body = '<a href="/x">a</a>'
        assert list(extract_occurrences("https://h.test/p", "application/pdf",
                                        body, False)) == []


class TestExtractOperator:
    def test_min_variant_rows(self, spark):
        fetched = spark.createDataFrame(
            [("s0", "https://h.test/p", 1, "text/html",
              '<script src="https://h.test/a.min.js"></script>', False)],
            "seed_id string, url string, depth int, content_type string, "
            "body string, is_file boolean",
        )
        rows = extract_links(fetched).collect()
        kinds = {(r["url"], r["kind"]) for r in rows}
        assert ("https://h.test/a.min.js", "src") in kinds
        assert ("https://h.test/a.js", "minvisit") in kinds


class TestPoliteness:
    def test_topk_and_overflow(self, spark):
        rows = [("s", f"h{i % 2}", j, 1) for i in range(2) for j in range(10)]
        df = spark.createDataFrame(
            [(s, h, 100 * hash(h) % 7 + j, d) for (s, h, j, d) in rows],
            "seed_id string, host string, url_hash long, depth int")
        sel, ovf = politeness_select(df, budget=3)
        assert sel.count() == 6 and ovf.count() == 14
        # selected are the 3 smallest (depth, url_hash) per host
        for h in ("h0", "h1"):
            got = sorted(r["url_hash"] for r in sel.filter(F.col("host") == h).collect())
            want = sorted(r["url_hash"] for r in df.filter(F.col("host") == h).collect())[:3]
            assert got == want

    def test_robots_filter(self, spark):
        frontier = spark.createDataFrame(
            [("h0.test", "https://h0.test/private/x"),
             ("h0.test", "https://h0.test/p/1"),
             ("h1.test", "https://h1.test/private/x")],
            "host string, url string")
        robots = spark.createDataFrame(
            [("h0.test", ["/p/"], ["/private/"])],
            "host string, allow array<string>, deny array<string>")
        got = {r["url"] for r in robots_filter(frontier, robots).collect()}
        # h0 /private denied, /p allowed; h1 has no robots row -> allowed
        assert got == {"https://h0.test/p/1", "https://h1.test/private/x"}

    def test_robots_allow_overrides_deny(self, spark):
        frontier = spark.createDataFrame(
            [("h.test", "https://h.test/a/public/x"),
             ("h.test", "https://h.test/a/y")],
            "host string, url string")
        robots = spark.createDataFrame(
            [("h.test", ["/a/public/"], ["/a/"])],
            "host string, allow array<string>, deny array<string>")
        got = {r["url"] for r in robots_filter(frontier, robots).collect()}
        assert got == {"https://h.test/a/public/x"}

    def test_robots_wildcard_and_anchor_patterns(self, spark):
        """RFC 9309 matching subset (r3): '*' spans any chars, trailing
        '$' anchors the end, regex specials in paths stay literal."""
        frontier = spark.createDataFrame(
            [("h.test", f"https://h.test{p}") for p in [
                "/doc.pdf",          # *.pdf$ denied
                "/a/b/doc.pdf",      # denied at any depth
                "/doc.pdfx",         # NOT denied ($ anchor)
                "/tmp/a",            # /tmp/* denied
                "/tmp/keep/b",       # allow /tmp/keep* beats /tmp/*
                "/x+y/(z)/f",        # specials literal -> /x+y/* denies
                "/ok",               # untouched
            ]], "host string, url string")
        robots = spark.createDataFrame(
            [("h.test", ["/tmp/keep*"],
              ["/*.pdf$", "/tmp/*", "/x+y/*"])],
            "host string, allow array<string>, deny array<string>")
        got = {r["url"].split("h.test")[1]
               for r in robots_filter(frontier, robots).collect()}
        assert got == {"/doc.pdfx", "/tmp/keep/b", "/ok"}


class TestSeedFrontier:
    def test_expansion_counts(self, spark):
        seeds = spark.createDataFrame(
            [("s0", "h.test/p/0"), ("s1", ""), ("s2", "h.test/a.min.js")],
            "seed_id string, url string")
        crawler = Crawler(spark, CrawlConfig(domains=["test"],
                                             include_subdomains=True))
        rows = crawler.seed_frontier(seeds).collect()
        by_seed = {}
        for r in rows:
            by_seed.setdefault(r["seed_id"], []).append(r["url"])
        assert len(by_seed["s0"]) == 14      # seed + robots + 12 sitemaps
        assert "s1" not in by_seed           # blank dropped (F5)
        assert len(by_seed["s2"]) == 15      # + .min. variant
        assert "https://h.test/a.js" in by_seed["s2"]
        assert all(r["depth"] == 1 for r in rows)


class TestRobotsMining:
    def test_parse_robots_rules_native(self, spark):
        from xcrawl3r_spark.operators.politeness import parse_robots_rules

        body = ("User-agent: *\n"
                "Disallow: /private/\n"
                "disallow: /tmp/\n"
                "Allow: /private/ok/\n"
                "Disallow:\n"          # empty = allow-all, dropped
                "Sitemap: https://h0.test/sitemap.xml\n")
        df = spark.createDataFrame([("h0.test", body)], "host string, body string")
        rules = {r["host"]: r for r in parse_robots_rules(df).collect()}
        assert sorted(rules["h0.test"]["deny"]) == ["/private/", "/tmp/"]
        assert rules["h0.test"]["allow"] == ["/private/ok/"]

    def test_collapse_robots_rules_one_row_per_host(self, spark):
        """Regression (r2 advice): union-merged mined rules can carry
        duplicate host rows; collapse merges them to one sorted row."""
        from xcrawl3r_spark.operators.politeness import collapse_robots_rules

        dup = spark.createDataFrame(
            [("h0.test", ["/ok/"], ["/private/"]),
             ("h0.test", ["/ok2/", "/ok/"], ["/tmp/"]),
             ("h1.test", [], ["/x/"])],
            "host string, allow array<string>, deny array<string>")
        rows = {r["host"]: r for r in collapse_robots_rules(dup).collect()}
        assert len(rows) == 2
        assert rows["h0.test"]["allow"] == ["/ok/", "/ok2/"]
        assert rows["h0.test"]["deny"] == ["/private/", "/tmp/"]
        assert rows["h1.test"]["deny"] == ["/x/"]

    def test_remined_host_does_not_fan_out_frontier(self, spark):
        """Regression (r2 advice): when iteration-1 mining re-mines a host
        already present in the rules table (per-seed scope / resume), the
        duplicate host row used to fan out every frontier row for that
        host through robots_filter's join — duplicate fetches and edges.
        Edge multisets with and without pre-seeded rules must be equal."""
        from collections import Counter

        from xcrawl3r_spark.config import CrawlConfig
        from xcrawl3r_spark.plans.crawl import Crawler

        pages = [
            ("https://h0.test/robots.txt", "text/plain",
             "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n", 200),
            ("https://h0.test/p/0", "text/html",
             '<a href="https://h0.test/private/x">a</a>'
             '<a href="https://h0.test/p/1">c</a>', 200),
            ("https://h0.test/p/1", "text/html",
             '<a href="https://h0.test/p/0">back</a>', 200),
        ]
        pages_df = spark.createDataFrame(
            pages, "url string, content_type string, body string, status int")
        seeds = spark.createDataFrame(
            [("s0", "https://h0.test/p/0")], "seed_id string, url string")
        cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=3,
                          obey_robots=True, expand_seeds=True, parallelism=0)

        def ms(res):
            return Counter((r["src_url"], r["url"], r["kind"])
                           for r in res.edges.collect())

        plain = ms(Crawler(spark, cfg).crawl(seeds, pages_df))
        pre = spark.createDataFrame(
            [("h0.test", ["/private/ok/"], ["/private/"])],
            "host string, allow array<string>, deny array<string>")
        seeded = ms(Crawler(spark, cfg).crawl(
            seeds, pages_df, initial_robots_rules=pre))
        assert seeded == plain

    def test_crawl_mines_and_enforces_robots(self, spark):
        """obey_robots with no rules table: rules mined from the fetched
        robots.txt (Disallow: /private/) keep /private/ URLs out of the
        seen set from iteration 2 on, while an explicitly allowed
        sub-prefix survives."""
        from xcrawl3r_spark.config import CrawlConfig
        from xcrawl3r_spark.plans.crawl import Crawler

        pages = [
            ("https://h0.test/robots.txt", "text/plain",
             "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n", 200),
            ("https://h0.test/p/0", "text/html",
             '<a href="https://h0.test/private/x">a</a>'
             '<a href="https://h0.test/private/ok/y">b</a>'
             '<a href="https://h0.test/p/1">c</a>', 200),
            ("https://h0.test/private/x", "text/html", "<a></a>", 200),
            ("https://h0.test/private/ok/y", "text/html", "<a></a>", 200),
            ("https://h0.test/p/1", "text/html", "<a></a>", 200),
        ]
        pages_df = spark.createDataFrame(
            pages, "url string, content_type string, body string, status int")
        seeds = spark.createDataFrame(
            [("s0", "https://h0.test/p/0")], "seed_id string, url string")
        cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=3,
                          obey_robots=True, expand_seeds=True, parallelism=0)
        res = Crawler(spark, cfg).crawl(seeds, pages_df)
        seen = {r["url"] for r in res.seen.collect()}
        assert "https://h0.test/private/x" not in seen
        assert "https://h0.test/private/ok/y" in seen
        assert "https://h0.test/p/1" in seen
        # without enforcement the denied URL IS crawled (control)
        cfg_off = CrawlConfig(domains=["test"], include_subdomains=True,
                              depth=3, obey_robots=False, parallelism=0)
        seen_off = {r["url"] for r in
                    Crawler(spark, cfg_off).crawl(seeds, pages_df).seen.collect()}
        assert "https://h0.test/private/x" in seen_off


class TestGopherQuality:
    def test_each_rule_gates(self, spark):
        """One synthetic doc per Gopher rule violation; only the clean
        doc passes."""
        from xcrawl3r_spark.operators.textops import gopher_quality

        # 60 words, stopword-rich, mean word length 4.4 (within [3, 10])
        good = "the quick brown fox jumps over the lazy sleeping dogs " * 6
        rows = [
            (0, good),                                      # passes
            (1, "short text only"),                         # < min_words
            (2, "ab " * 60),                                # mean wlen < 3
            (3, good + "#" * 60 + " x"),                    # symbol ratio
            (4, ("12345 " * 55) + "the of"),                # alpha ratio
            (5, "zebra quartz " * 30),                      # < 2 stopwords
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
        assert got[0]["passes"] is True
        for d in range(1, 6):
            assert got[d]["passes"] is False, (d, got[d])
        assert got[1]["n_words"] == 3
        assert got[5]["n_stopwords"] == 0

    def test_repetition_rules_gate(self, spark):
        """Gopher repetition rules: duplicate lines and a dominating
        2-gram each trip their filter; varied text passes."""
        from xcrawl3r_spark.operators.textops import repetition_filters

        varied = "\n".join(
            f"alpha{i} beta{i} gamma{i} delta{i} omega{i * 7}"
            for i in range(10))
        dup_lines = "\n".join(["the same line again here"] * 8
                              + ["one unique line"])
        loop_gram = "spam ham " * 40
        docs = spark.createDataFrame(
            [(0, varied), (1, dup_lines), (2, loop_gram)],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_filters(docs).collect()}
        assert got[0]["passes"] is True
        assert got[1]["passes"] is False
        assert got[1]["dup_line_frac"] > 0.7
        assert got[2]["passes"] is False
        assert got[2]["top_2gram_char_frac"] > 0.2

    def test_c4_rules_gate(self, spark):
        from xcrawl3r_spark.operators.textops import c4_filters

        rows = [
            (0, "First sentence here. Second one too! A third? Yes."),
            (1, "Contains Lorem Ipsum filler. More text. And more."),
            (2, "Code block { return 1; } here. Sentences. Three."),
            (3, "only one sentence."),
            (4, "line without punct\nanother one.\nthird line here."),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in c4_filters(docs).collect()}
        assert got[0]["passes"] is True and got[0]["n_sentences"] == 4
        assert got[1]["passes"] is False and got[1]["has_lorem"]
        assert got[2]["passes"] is False and got[2]["has_brace"]
        assert got[3]["passes"] is False          # < 3 sentences
        assert got[4]["n_lines"] == 3
        assert abs(got[4]["terminal_line_frac"] - 2 / 3) < 1e-6


class TestSentenceStats:
    def test_segmentation_and_fixed_point(self, spark):
        from xcrawl3r_spark.operators.textops import sentence_stats

        rows = [
            (0, "One two three. Four five! Six?"),
            (1, "NoTerminator here"),          # whole doc = one sentence
            (2, "!!!"),                        # no sentence content
            (3, "  A.  B.  "),                 # padding + empty tail
            (4, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in sentence_stats(docs).collect()}
        assert (got[0]["n_sentences"], got[0]["n_sentence_words"]) == (3, 6)
        assert got[0]["mean_sentence_words_x100"] == 200   # 600 div 3
        assert got[0]["max_sentence_words"] == 3
        assert (got[1]["n_sentences"], got[1]["max_sentence_words"]) == (1, 2)
        for d in (2, 4):
            assert got[d]["n_sentences"] == 0
            assert got[d]["n_sentence_words"] == 0
            assert got[d]["mean_sentence_words_x100"] is None
            assert got[d]["max_sentence_words"] is None
        assert (got[3]["n_sentences"], got[3]["max_sentence_words"]) == (2, 1)

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.textops import sentence_stats

        docs = spark.createDataFrame(
            [(1, "a. b.")], "doc_id long, text string")
        plan = sentence_stats(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def test_normalize_text_forms(spark):
    """NFC composes combining sequences; NFKC additionally folds
    compatibility forms (ligature, full-width); ascii is untouched."""
    import pytest

    from xcrawl3r_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "cafe\u0301"),               # decomposed e + acute
         (2, "\ufb01le f\uff4f\uff52m"),  # fi-ligature + full-width o,r
         (3, "plain")],
        "doc_id long, text string")
    nfc = {r["doc_id"]: r["text_norm"]
           for r in textops.normalize_text(docs).collect()}
    assert nfc[1] == "caf\u00e9"          # composed under NFC
    assert nfc[2] == "\ufb01le f\uff4f\uff52m"  # NFC keeps compatibility
    assert nfc[3] == "plain"
    nfkc = {r["doc_id"]: r["text_norm"]
            for r in textops.normalize_text(docs, form="NFKC").collect()}
    assert nfkc[1] == "caf\u00e9"
    assert nfkc[2] == "file form"          # ligature + width folded
    with pytest.raises(ValueError):
        textops.normalize_text(docs, form="NFX")


class TestPagesToDocuments:
    SCHEMA = "url string, content_type string, body string, status int"

    def test_strip_chain(self, spark):
        """Scripts, styles, and comments vanish; tags strip; the six
        common entities decode; whitespace collapses to single spaces."""
        from xcrawl3r_spark.operators.extract import pages_to_documents

        body = ('<html><head><script>var a = "<p>not text</p>";</script>'
                '<STYLE media="x">td.c</STYLE></head><body>\n'
                '<!-- secret -->\n<h1>Title</h1>\n'
                '<p>alpha &amp; beta &lt;x&gt; &quot;q&quot;&nbsp;'
                "&#39;s&#39;</p>\n</body></html>")
        pages = spark.createDataFrame(
            [("https://Host.Example.test/p/1", "text/html", body, 200)],
            self.SCHEMA)
        out = pages_to_documents(pages).collect()
        assert len(out) == 1
        r = out[0]
        assert r["text"] == "Title alpha & beta <x> \"q\" 's'"
        assert r["source"] == "host.example.test"       # lowered host
        assert r["doc_id"] is not None

    def test_filters_non_html_and_failures(self, spark):
        """Non-200, null-body, non-HTML content types, and pages whose
        visible text is empty never become documents."""
        from xcrawl3r_spark.operators.extract import pages_to_documents

        pages = spark.createDataFrame([
            ("https://a.test/ok", "text/html", "<p>fine</p>", 200),
            ("https://a.test/404", "text/html", "<p>gone</p>", 404),
            ("https://a.test/null", "text/html", None, 200),
            ("https://a.test/json", "application/json", '{"k": 1}', 200),
            ("https://a.test/empty", "text/html",
             "<script>x()</script><!-- only -->", 200),
            ("https://a.test/xhtml", "application/xhtml+xml",
             "<p>xhtml counts</p>", 200),
        ], self.SCHEMA)
        got = {r["url"].rsplit("/", 1)[1]: r["text"]
               for r in pages_to_documents(pages).collect()}
        assert got == {"ok": "fine", "xhtml": "xhtml counts"}

    def test_doc_id_deterministic(self, spark):
        from xcrawl3r_spark.operators.extract import pages_to_documents

        pages = spark.createDataFrame(
            [("https://a.test/p", "text/html", "<p>t</p>", 200)],
            self.SCHEMA)
        a = pages_to_documents(pages).collect()[0]["doc_id"]
        b = pages_to_documents(pages).collect()[0]["doc_id"]
        assert a == b


def test_crawl_to_corpus_integration(spark):
    """End-to-end engine story: crawl the synthetic web (table double),
    restrict the pages table to what the crawl actually VISITED, bridge
    the visited HTML to documents, and run corpus observability over it
    — crawl output feeds the training-data operators with no glue code."""
    from pyspark.sql import functions as F

    from xcrawl3r_spark.config import CrawlConfig
    from xcrawl3r_spark.operators.extract import pages_to_documents
    from xcrawl3r_spark.operators.pipeline import corpus_stats
    from xcrawl3r_spark.plans.crawl import Crawler
    from xcrawl3r_spark.sources import datagen as G

    p = G.GraphParams(hosts=3, pages_per_host=5)
    pages = G.pages_df(spark, p, distributed=False)
    cfg = CrawlConfig(domains=["test"], include_subdomains=True, depth=2,
                      expand_seeds=False, parallelism=0)
    res = Crawler(spark, cfg).crawl(G.seeds_df(spark, p, 2), pages)

    visited = pages.join(res.seen.select("url").distinct(), "url")
    docs = pages_to_documents(visited)
    # every visited 200-HTML page with visible text became a document
    n_expect = visited.filter(
        (F.col("status") == 200)
        & F.col("content_type").rlike("(?i)html")).count()
    assert docs.count() == n_expect > 0
    assert docs.filter(F.col("text").rlike("<|>")).count() == 0  # no tags
    stats = {r["source"]: r for r in corpus_stats(docs).collect()}
    assert stats  # per-host rows
    assert sum(r["n_docs"] for r in stats.values()) == n_expect
    assert all(r["n_tokens"] > 0 for r in stats.values())


class TestReadability:
    def test_flesch_fixed_point(self, spark):
        from xcrawl3r_spark.operators.textops import readability

        rows = [
            # 2 sentences, 6 words, syllables: the=1 cat=1 sat=1 it=1
            # was=1 happy=2 -> 7
            (0, "The cat sat. It was happy."),
            (1, "Dr X 123"),     # vowel-less tokens count 1 each -> 3
            (2, "!!!"),          # no sentences/words -> unscorable
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in readability(docs).collect()}
        r0 = got[0]
        assert (r0["n_sentences"], r0["n_words"], r0["n_syllables"]) \
            == (2, 6, 7)
        # 206835 - 1015*6//2 - 84600*7//6 = 206835 - 3045 - 98700
        assert r0["flesch_x1000"] == 105090
        # 390*6//2 + 11800*7//6 - 15590 = 1170 + 13766 - 15590
        assert r0["fk_grade_x1000"] == -654
        r1 = got[1]
        # "dr" and "123" have no vowels (min-1 each), "x" none -> 3
        assert (r1["n_words"], r1["n_syllables"]) == (3, 3)
        assert got[2]["flesch_x1000"] is None
        assert got[2]["fk_grade_x1000"] is None

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.textops import readability

        docs = spark.createDataFrame(
            [(1, "a. b.")], "doc_id long, text string")
        plan = readability(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestLexicalDiversity:
    def test_ttr_and_hapax(self, spark):
        from xcrawl3r_spark.operators.textops import lexical_diversity

        rows = [
            (0, "the cat and the dog and the bird"),  # 8 toks, 5 types
            (1, "all unique words here"),             # all hapax
            (2, "same same same"),                    # zero hapax
            (3, "one"),                               # single token
            (4, ""),                                  # empty
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in lexical_diversity(docs).collect()}
        r0 = got[0]
        assert (r0["n_tokens"], r0["n_types"]) == (8, 5)
        assert r0["ttr_x1e6"] == 5000000 // 8
        # hapax in doc 0: cat, dog, bird -> 3 of 8
        assert r0["hapax_ratio_x1e6"] == 3000000 // 8
        assert got[1]["hapax_ratio_x1e6"] == 1000000
        assert got[2]["hapax_ratio_x1e6"] == 0
        assert got[3]["hapax_ratio_x1e6"] == 1000000
        assert got[4]["n_tokens"] == 0
        assert got[4]["ttr_x1e6"] is None
        assert got[4]["hapax_ratio_x1e6"] is None

    def test_zero_shuffle(self, spark):
        from xcrawl3r_spark.operators.textops import lexical_diversity

        docs = spark.createDataFrame(
            [(1, "a b a")], "doc_id long, text string")
        plan = lexical_diversity(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
