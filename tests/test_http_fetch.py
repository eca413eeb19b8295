"""S4/F9: the real flag-gated HTTP fetch stage (operators/fetch.py) against
a localhost fixture server — edge/seen parity with the pages-join test
double, header injection, proxy round-robin, and timeout error capture."""

import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.operators.fetch import parse_header_lines
from xcrawl3r_spark.plans.crawl import Crawler


class _Handler(BaseHTTPRequestHandler):
    site: dict = {}
    requests: list = []

    def do_GET(self):
        _Handler.requests.append((self.path, dict(self.headers)))
        if self.path == "/slow":
            time.sleep(3)
        ct, body, status = _Handler.site.get(
            self.path, ("text/plain", "not found", 404))
        data = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", ct)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture
def http_site():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    server.daemon_threads = True
    import threading

    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_port}"
    _Handler.site = {}
    _Handler.requests = []
    yield base
    server.shutdown()


@pytest.fixture
def https_site(tmp_path):
    """TLS twin of http_site: the same fixture handler behind a
    SELF-SIGNED cert — the case the reference's InsecureSkipVerify: true
    transport (xcrawl3r.go:319) fetches and a verifying client rejects."""
    import datetime
    import ipaddress
    import ssl

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    start = datetime.datetime(2020, 1, 1)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name)
        .public_key(key.public_key()).serial_number(1)
        .not_valid_before(start)
        .not_valid_after(start + datetime.timedelta(days=36500))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]),
            critical=False)
        .sign(key, hashes.SHA256())
    )
    certfile, keyfile = tmp_path / "cert.pem", tmp_path / "key.pem"
    certfile.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    keyfile.write_bytes(key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.TraditionalOpenSSL,
        serialization.NoEncryption()))

    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    server.daemon_threads = True
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile, keyfile)
    server.socket = ctx.wrap_socket(server.socket, server_side=True)
    import threading

    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"https://127.0.0.1:{server.server_port}"
    _Handler.site = {}
    _Handler.requests = []
    yield base
    server.shutdown()


def _cfg(**kw):
    base = dict(domains=["127.0.0.1"], depth=3, expand_seeds=False,
                parallelism=0, fetch_mode="http")
    base.update(kw)
    return CrawlConfig(**base)


def _chain_site(base):
    return {
        "/p/0": ("text/html",
                 f'<a href="{base}/p/1">a</a><a href="{base}/p/2">b</a>', 200),
        "/p/1": ("text/html", f'<a href="{base}/p/2">c</a>', 200),
        "/p/2": ("text/html", "<p>leaf</p>", 200),
    }


def _edges_ms(res):
    return Counter((r["src_url"], r["url"], r["kind"], r["depth"])
                   for r in res.edges.collect())


def test_http_fetch_parity_with_pages_join(spark, http_site):
    """The real fetch stage and the pages-join double must produce
    identical edges and seen sets on the same content."""
    _Handler.site = _chain_site(http_site)
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")

    res_http = Crawler(spark, _cfg()).crawl(seeds)
    pages_rows = [
        (f"{http_site}{path}", ct, body, status)
        for path, (ct, body, status) in _chain_site(http_site).items()
    ]
    pages_df = spark.createDataFrame(
        pages_rows, "url string, content_type string, body string, status int")
    res_tbl = Crawler(spark, _cfg(fetch_mode="table")).crawl(seeds, pages_df)

    assert _edges_ms(res_http) == _edges_ms(res_tbl)
    seen_http = {(r["url"], r["depth"]) for r in res_http.seen.collect()}
    seen_tbl = {(r["url"], r["depth"]) for r in res_tbl.seen.collect()}
    assert seen_http == seen_tbl
    assert len(seen_http) == 3
    assert res_http.errors.count() == 0


def test_http_fetch_injects_headers(spark, http_site):
    """F9: cfg.headers "Name: value" strings reach every request
    (xcrawl3r.go:285-305)."""
    _Handler.site = _chain_site(http_site)
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    cfg = _cfg(headers=["X-Crawl-Test: tok123", "User-Agent: xcrawl3r-spark"])
    Crawler(spark, cfg).crawl(seeds)
    assert len(_Handler.requests) == 3
    for path, hdrs in _Handler.requests:
        assert hdrs.get("X-Crawl-Test") == "tok123"
        assert hdrs.get("User-Agent") == "xcrawl3r-spark"


def test_http_fetch_referer_and_default_ua(spark, http_site):
    """extensions.Referer (xcrawl3r.go:307) + the CLI's default identity
    UA (main.go:259-265): followed links carry the discovering page as
    Referer; seeds (no discovering page) send none; with no configured
    User-Agent the default one is sent."""
    from xcrawl3r_spark.operators.fetch import DEFAULT_USER_AGENT

    _Handler.site = _chain_site(http_site)
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    Crawler(spark, _cfg()).crawl(seeds)
    by_path = {p: h for p, h in _Handler.requests}
    assert "Referer" not in by_path["/p/0"]            # seed: no source page
    assert by_path["/p/1"]["Referer"] == f"{http_site}/p/0"
    # /p/2 is discovered from BOTH /p/0 and /p/1 but dedups to its first
    # (depth-min, deterministic) discovery — referer is the depth-1 page
    assert by_path["/p/2"]["Referer"] == f"{http_site}/p/0"
    for hdrs in by_path.values():
        assert hdrs["User-Agent"] == DEFAULT_USER_AGENT


def test_http_fetch_timeout_becomes_error_row(spark, http_site):
    """Timeouts are per-row error captures (never task failures): /slow
    sleeps past cfg.timeout, lands in errors, and the crawl continues."""
    _Handler.site = {
        "/p/0": ("text/html",
                 f'<a href="{http_site}/slow">s</a>'
                 f'<a href="{http_site}/p/2">b</a>', 200),
        "/slow": ("text/html", "<p>slow</p>", 200),
        "/p/2": ("text/html", "<p>leaf</p>", 200),
    }
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg(timeout=1)).crawl(seeds)
    errs = {(r["url"], r["error"]) for r in res.errors.collect()}
    assert (f"{http_site}/slow", "fetch failed") in errs
    seen = {r["url"] for r in res.seen.collect()}
    assert f"{http_site}/p/2" in seen  # crawl survived the timeout


def test_http_fetch_404_keeps_status_code(spark, http_site):
    _Handler.site = {
        "/p/0": ("text/html", f'<a href="{http_site}/gone">x</a>', 200),
    }
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg()).crawl(seeds)
    errs = {(r["url"], r["error"]) for r in res.errors.collect()}
    assert (f"{http_site}/gone", "status 404") in errs


def test_http_fetch_proxy_round_robin(spark, http_site):
    """cfg.proxies routes requests through the proxy (xcrawl3r.go:332-341):
    point the proxy at the fixture server and fetch an unroutable host —
    the server sees absolute-URI request lines, proving proxy routing."""
    target = "http://unroutable.invalid/p/0"
    _Handler.site = {target: ("text/html", "<p>via proxy</p>", 200)}
    seeds = spark.createDataFrame(
        [("s0", target)], "seed_id string, url string")
    cfg = _cfg(domains=["unroutable.invalid"], proxies=[http_site])
    res = Crawler(spark, cfg).crawl(seeds)
    assert res.errors.count() == 0
    assert {r["url"] for r in res.seen.collect()} == {target}
    assert _Handler.requests and _Handler.requests[0][0] == target


def test_tls_skip_verify_fetches_self_signed(spark, https_site):
    """Default transport posture matches the reference's
    InsecureSkipVerify: true (xcrawl3r.go:319): a self-signed-cert host
    crawls clean — identical edges/seen to the plaintext path."""
    _Handler.site = _chain_site(https_site)
    seeds = spark.createDataFrame(
        [("s0", f"{https_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg()).crawl(seeds)
    assert res.errors.count() == 0
    assert {r["url"] for r in res.seen.collect()} == {
        f"{https_site}/p/{i}" for i in range(3)}


def test_tls_verify_rejects_self_signed(spark, https_site):
    """cfg.tls_skip_verify=False restores certificate verification: the
    self-signed host becomes a per-row fetch error (no status — the TLS
    handshake fails before any HTTP response), never a task failure."""
    _Handler.site = _chain_site(https_site)
    seeds = spark.createDataFrame(
        [("s0", f"{https_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg(tls_skip_verify=False)).crawl(seeds)
    errs = {(r["url"], r["error"]) for r in res.errors.collect()}
    assert (f"{https_site}/p/0", "fetch failed") in errs
    assert res.seen.count() == 1  # the seed was scheduled, nothing followed


def test_parse_header_lines():
    assert parse_header_lines(
        ["A: 1", "B:2 ", "bad", " : x", "C: a:b"]
    ) == [("A", "1"), ("B", "2"), ("C", "a:b")]


def test_http_image_payload_branch(spark, http_site):
    """fetch_mode="http" + ingest_images: a discovered image URL GETs its
    REAL binary payload (no charset decode) and the characterize stage
    recovers exact dims + phash of the served pixels; a 404 image
    surfaces as decoded_ok=false, never a drop."""
    from xcrawl3r_spark.functions.imagecodec import (
        encode_png, phash64, synth_pixels)

    px = synth_pixels("served-img", 24, 16)
    png = encode_png(px)

    # extend the fixture handler: binary route for the png
    orig_do_get = _Handler.do_GET

    def do_GET(self):
        if self.path == "/i/x.png":
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.send_header("Content-Length", str(len(png)))
            self.end_headers()
            self.wfile.write(png)
            return
        orig_do_get(self)

    _Handler.do_GET = do_GET
    try:
        _Handler.site = {
            "/p/0": ("text/html",
                     f'<img src="{http_site}/i/x.png">'
                     f'<img src="{http_site}/i/missing.png">', 200),
        }
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/0")], "seed_id string, url string")
        res = Crawler(spark, _cfg()).crawl(seeds)
        rows = {r["url"]: r for r in res.images.collect()}
        got = rows[f"{http_site}/i/x.png"]
        assert got["decoded_ok"] and got["fmt"] == "png"
        assert (got["decoded_w"], got["decoded_h"]) == (24, 16)
        assert got["phash"] == phash64(px)
        missing = rows[f"{http_site}/i/missing.png"]
        assert missing["decoded_ok"] is False and missing["phash"] is None
    finally:
        _Handler.do_GET = orig_do_get


def _png_route(path_prefix="/i/"):
    """Patch _Handler to serve a deterministic PNG for any /i/*.png path;
    returns (restore_fn, pixels_by_name)."""
    from xcrawl3r_spark.functions.imagecodec import encode_png, synth_pixels

    orig = _Handler.do_GET
    cache = {}

    def do_GET(self):
        if self.path.startswith(path_prefix) and self.path.endswith(".png"):
            _Handler.requests.append((self.path, dict(self.headers)))
            name = self.path.rsplit("/", 1)[1]
            if name not in cache:
                cache[name] = encode_png(synth_pixels(name, 16, 16))
            data = cache[name]
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return
        orig(self)

    _Handler.do_GET = do_GET
    return lambda: setattr(_Handler, "do_GET", orig), cache


def test_payload_fetch_respects_robots(spark, http_site):
    """With obey_robots on, a robots-denied image URL is never GET — it
    lands in errors (stage=payload, robots denied) and stays marked seen
    (scheduled-and-refused); allowed images fetch normally."""
    restore, _ = _png_route()
    try:
        _Handler.site = {
            "/robots.txt": ("text/plain",
                            "User-agent: *\nDisallow: /i/private\n", 200),
            "/p/0": ("text/html",
                     f'<img src="{http_site}/i/ok.png">'
                     f'<img src="{http_site}/i/private.png">', 200),
        }
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/0")], "seed_id string, url string")
        cfg = _cfg(obey_robots=True, expand_seeds=True)
        res = Crawler(spark, cfg).crawl(seeds)
        rows = {r["url"].rsplit("/", 1)[1]: r for r in res.images.collect()}
        assert rows["ok.png"]["decoded_ok"]
        assert "private.png" not in rows            # never fetched
        errs = {(r["url"].rsplit("/", 1)[1], r["stage"], r["error"])
                for r in res.errors.collect()}
        assert ("private.png", "payload", "robots denied") in errs
        assert not any("/i/private.png" in p for p, _ in _Handler.requests)
        seen = {r["url"] for r in res.seen.collect()}
        assert f"{http_site}/i/private.png" in seen  # refused, not retried
    finally:
        restore()


def test_payload_fetch_budget_defers_to_next_iteration(spark, http_site):
    """Live image GETs honor the per-(seed,host) budget: with budget 2
    and 5 images on one host, at most 2 fetch per iteration, deferred
    rows requeue (unseen) and ALL images fetch exactly once by the end."""
    restore, _ = _png_route()
    try:
        imgs = "".join(f'<img src="{http_site}/i/n{i}.png">' for i in range(5))
        _Handler.site = {"/p/0": ("text/html", imgs, 200)}
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/0")], "seed_id string, url string")
        res = Crawler(spark, _cfg(parallelism=2)).crawl(seeds)
        rows = [r for r in res.images.collect()]
        assert {r["url"].rsplit("/", 1)[1] for r in rows} == {
            f"n{i}.png" for i in range(5)}
        assert all(r["decoded_ok"] for r in rows)
        by_iter = {}
        for r in rows:
            by_iter.setdefault(r["iter"], []).append(r)
        assert all(len(v) <= 2 for v in by_iter.values())   # budget held
        assert len(by_iter) >= 3                            # spread out
        fetched_paths = [p for p, _ in _Handler.requests if p.startswith("/i/")]
        assert len(fetched_paths) == 5                      # exactly once
        # deferred GETs count as overflow, not as seen, in the metrics
        assert sum(m["rows_seen"] for m in res.metrics) == res.seen.count()
        assert sum(m["rows_overflow"] for m in res.metrics) > 0
    finally:
        restore()


def test_payload_budget_resume_fetches_each_image_once(
        spark, http_site, tmp_path):
    """A checkpointed live crawl with deferred image GETs, interrupted
    after wave 2 and resumed: every image is GET exactly once across both
    runs, and seen/images/errors equal an uninterrupted run's. An image
    deferred in wave 2 and fetched in wave 3 is seen in wave 3: the
    committed deferrals key on (iter, dedup_key), not on the URL alone."""
    restore, _ = _png_route()

    def rows(df):
        return Counter(tuple(sorted((k, v) for k, v in r.asDict().items()
                                    if k != "part_id"))
                       for r in df.collect())

    def image_gets():
        return sorted(p for p, _ in _Handler.requests if p.startswith("/i/"))

    try:
        imgs = "".join(f'<img src="{http_site}/i/n{i}.png">' for i in range(5))
        _Handler.site = {"/p/0": ("text/html", imgs, 200)}
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/0")], "seed_id string, url string")
        full = Crawler(spark, _cfg(parallelism=2)).crawl(seeds)
        assert full.iterations > 3
        want = {part: rows(getattr(full, part))
                for part in ("seen", "images", "errors")}
        assert image_gets() == [f"/i/n{i}.png" for i in range(5)]

        _Handler.requests = []
        cfg = _cfg(parallelism=2, checkpoint_dir=str(tmp_path / "ckpt"))
        Crawler(spark, cfg).crawl(seeds, max_iterations=2)
        assert len(image_gets()) == 2                 # wave 2's budget
        res = Crawler(spark, cfg).resume(seeds, None)
        assert image_gets() == [f"/i/n{i}.png" for i in range(5)]
        for part, got in want.items():
            assert rows(getattr(res, part)) == got, part
    finally:
        restore()


def test_payload_deferral_keeps_other_seeds_copy_seen(spark, http_site):
    """Per-seed dedup: when one seed's GET of an image is deferred by the
    payload budget, another seed's fetched copy of the same URL is still
    marked seen (the deferral is per row, not per URL)."""
    from pyspark.sql import functions as F

    restore, _ = _png_route()
    try:
        urls = [f"{http_site}/i/n{i}.png" for i in range(4)]
        # s1 may fetch one image per wave, lowest url_hash first: the
        # highest-hash image is deferred for s1 while s0 fetches it
        ranked = spark.createDataFrame([(u,) for u in urls], "url string") \
            .orderBy(F.xxhash64("url")).collect()
        shared = ranked[-1]["url"]
        _Handler.site = {
            "/p/a": ("text/html", f'<img src="{shared}">', 200),
            "/p/b": ("text/html", "".join(f'<img src="{u}">' for u in urls),
                     200),
        }
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/a"), ("s1", f"{http_site}/p/b")],
            "seed_id string, url string")
        res = Crawler(spark, _cfg(parallelism=1)).crawl(seeds)
        seen = {(r["seed_id"], r["url"]) for r in res.seen.collect()}
        assert ("s0", shared) in seen
        assert {("s1", u) for u in urls} <= seen
        assert sum(m["rows_seen"] for m in res.metrics) == len(seen)
    finally:
        restore()


def test_payload_over_cap_gets_own_error_string(spark, http_site):
    """cfg.max_payload_bytes truncation is classified by the transport's
    explicit outcome marker, not inferred from null-patterns: the row
    lands in errors as "payload too large (status 200)" — distinguishable
    from both a dead host and fetched-but-undecodable bytes."""
    restore, _ = _png_route()
    try:
        _Handler.site = {
            "/p/0": ("text/html", f'<img src="{http_site}/i/big.png">', 200),
        }
        seeds = spark.createDataFrame(
            [("s0", f"{http_site}/p/0")], "seed_id string, url string")
        res = Crawler(spark, _cfg(max_payload_bytes=10)).crawl(seeds)
        errs = {(r["url"].rsplit("/", 1)[1], r["stage"], r["error"])
                for r in res.errors.collect()}
        assert ("big.png", "payload", "payload too large (status 200)") in errs
        row = {r["url"].rsplit("/", 1)[1]: r for r in res.images.collect()}
        assert row["big.png"]["payload_outcome"] == "truncated"
        assert row["big.png"]["decoded_ok"] is False
    finally:
        restore()


def test_payload_completed_nonimage_fetch_is_not_an_error(spark, http_site):
    """A 200 GET whose body is not an image is a COMPLETED fetch: it must
    NOT be mislabeled "status 200" in errors (the pre-r4 bug); its record
    is decoded_ok=false + outcome "fetched" in the images output."""
    _Handler.site = {
        "/p/0": ("text/html", f'<img src="{http_site}/i/not-an-img.png">', 200),
        "/i/not-an-img.png": ("text/html", "<p>actually html</p>", 200),
    }
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg()).crawl(seeds)
    assert res.errors.count() == 0
    row = {r["url"].rsplit("/", 1)[1]: r for r in res.images.collect()}
    got = row["not-an-img.png"]
    assert got["payload_outcome"] == "fetched"
    assert got["decoded_ok"] is False and got["fmt"] is None
    assert got["payload_status"] == 200


def test_http_resume_never_refetches_committed_iterations(
        spark, http_site, tmp_path):
    """Checkpointed live crawls resume WITHOUT re-firing requests: after
    an interrupted run (max_iterations=1) resumes, every page was GET
    exactly once across both runs and the stitched output equals an
    uninterrupted crawl's."""
    _Handler.site = _chain_site(http_site)
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    cfg = _cfg(checkpoint_dir=str(tmp_path / "ckpt"))
    crawler = Crawler(spark, cfg)
    crawler.crawl(seeds, max_iterations=1)      # fetches only /p/0
    first = [p for p, _ in _Handler.requests]
    assert first == ["/p/0"]
    res = crawler.resume(seeds, None)           # continues at iteration 2
    all_reqs = [p for p, _ in _Handler.requests]
    assert sorted(all_reqs) == ["/p/0", "/p/1", "/p/2"]  # each ONCE
    assert {r["url"] for r in res.seen.collect()} == {
        f"{http_site}/p/{i}" for i in range(3)}
    edges = Counter((r["src_url"], r["url"]) for r in res.edges.collect())
    assert edges == Counter({
        (f"{http_site}/p/0", f"{http_site}/p/1"): 1,
        (f"{http_site}/p/0", f"{http_site}/p/2"): 1,
        (f"{http_site}/p/1", f"{http_site}/p/2"): 1,
    })


def test_payload_fetch_failure_lands_in_errors(spark, http_site):
    """A failed image GET surfaces in res.errors with its status
    (stage=payload), mirroring page-fetch error capture."""
    _Handler.site = {
        "/p/0": ("text/html", f'<img src="{http_site}/i/gone.png">', 200),
    }
    seeds = spark.createDataFrame(
        [("s0", f"{http_site}/p/0")], "seed_id string, url string")
    res = Crawler(spark, _cfg()).crawl(seeds)
    errs = {(r["url"].rsplit("/", 1)[1], r["stage"], r["error"])
            for r in res.errors.collect()}
    assert ("gone.png", "payload", "status 404") in errs
