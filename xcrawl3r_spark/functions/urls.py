"""URL scalar functions: canonicalization, extension gates, hashing, scope.

The single-URL Python helpers here are the *shared semantics kernel*: the
Spark operators (via vectorized pandas UDFs) and the pure-Python reference
simulator (tests/simulator parity oracle) both call these, so engine/oracle
parity is by construction.

Reference behavior captured:
- default-https canonicalization: hq-go-url parser ``WithDefaultScheme``
  (pkg/xcrawl3r/xcrawl3r.go:378-380)
- ext gates match ``path.Ext(request.URL.Path)`` — the final ".ext" of the
  URL *path* (query/fragment excluded) (xcrawl3r.go:68-81)
- deny/file ext lists verbatim from xcrawl3r.go:419-420
- body cleanup replacer (xcrawl3r.go:100-106)
- absolute-URL resolution = urljoin vs the page URL (colly AbsoluteURL,
  xcrawl3r.go:111,142,172)
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from xcrawl3r_spark.functions.tlds import TLDS  # generated: tools/gen_tlds.py

# verbatim ext lists from pkg/xcrawl3r/xcrawl3r.go:419-420
FILE_EXTS = "css|csv|js|json|map|txt|xml|yaml|yml"
MEDIA_EXTS = (
    "apng|bpm|png|bmp|gif|heif|ico|cur|jpg|jpeg|jfif|pjp|pjpeg|psd|raw|svg|"
    "tif|tiff|webp|xbm|3gp|aac|flac|mpg|mpeg|mp3|mp4|m4a|m4v|m4p|oga|ogg|"
    "ogv|mov|wav|webm|eot|woff|woff2|ttf|otf"
)
IMAGE_EXTS = (
    "apng|png|bmp|gif|heif|ico|cur|jpg|jpeg|jfif|pjp|pjpeg|psd|raw|svg|"
    "tif|tiff|webp|xbm"
)

_FILE_RE = re.compile(rf"\.({FILE_EXTS})$")
_MEDIA_RE = re.compile(rf"\.({MEDIA_EXTS})$")
_IMAGE_RE = re.compile(rf"\.({IMAGE_EXTS})$")

# E1 URL-extractor regex, tracking hq-go-url's extractor behavior
# (compiled by the reference at xcrawl3r.go:417): scheme-ful http(s) URLs
# (hostname or IPv4 literal), PLUS the scheme-less host.tld[/path] forms
# the Go extractor finds in css/js/robots bodies. Scheme-less matches are
# resolved downstream exactly like the reference resolves them —
# colly's Request.AbsoluteURL (xcrawl3r.go:111) treats a scheme-less
# token as a relative reference against the page URL, and our kernel's
# urljoin does the same, so parity holds through resolution.
#
# The scheme-less branch gates on a public-TLD alternation, tracking
# hq-go-url's embedded IANA list (compiled by the reference at
# xcrawl3r.go:417). Since r5 the alternation is GENERATED from the full
# public IANA root-zone dump (functions/tlds.py, written by
# tools/gen_tlds.py from tlds-alpha-by-domain.txt — all 1445 entries
# incl. brand and IDN xn-- TLDs), closing the curated-subset divergence
# flagged since r2. The RFC 2606 reserved names (.test etc., used by the
# synthetic graph) are appended on top — they are reserved, not
# delegated, so the root zone doesn't carry them.
# Non-http schemes are not extracted: the reference's validate()
# (xcrawl3r.go:392 `https?://...` URLFilter) drops them immediately after
# extraction, so the observable output matches.
_URL_HOSTNAME = r"(?:[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+"
_URL_IPV4 = r"(?:\d{1,3}\.){3}\d{1,3}"
_URL_PORT = r"(?::\d+)?"
# brackets/parens excluded from path+query: extracted tokens come from
# css url(...) / js string contexts where the closer is not part of the URL
_URL_TAIL = r"(?:/[^?\s\"'<>#()\[\]{}]*)?(?:\?[^#\s\"'<>()\[\]{}]*)?"
_RESERVED_TLDS = "test example invalid localhost"  # RFC 2606
_TLD_ALTERNATION = "|".join(sorted(
    set(TLDS) | set(_RESERVED_TLDS.split())
))
URL_EXTRACT_PATTERN = (
    rf"(?:https?://(?:{_URL_HOSTNAME}[a-zA-Z]{{2,}}|{_URL_IPV4})"
    rf"{_URL_PORT}{_URL_TAIL}"
    rf"|(?<![\w.@/-]){_URL_HOSTNAME}(?:{_TLD_ALTERNATION})\b"
    rf"{_URL_PORT}{_URL_TAIL})"
)
_URL_EXTRACT_RE = re.compile(URL_EXTRACT_PATTERN)


# ---------------------------------------------------------------------------
# single-URL kernel (shared with the simulator)
# ---------------------------------------------------------------------------

def canonicalize(url: str) -> str | None:
    """Parse + canonicalize one URL; scheme defaults to https.

    Mirrors hq-go-url parse with WithDefaultScheme("https")
    (xcrawl3r.go:230-235,378-380): scheme/host lowercased, default scheme
    applied to scheme-less input. Invalid/empty -> None.
    """
    url = (url or "").strip()
    if not url:
        return None
    if "://" not in url:
        url = "https://" + url
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    if not parts.netloc:
        return None
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    return urlunsplit((scheme, netloc, parts.path, parts.query, parts.fragment))


def url_path_ext(url: str) -> str:
    """Final extension of the URL path, like Go's path.Ext (with dot)."""
    try:
        path = urlsplit(url).path
    except ValueError:
        return ""
    return posixpath.splitext(path)[1]


def is_file_url(url: str) -> bool:
    return bool(_FILE_RE.search(url_path_ext(url)))


def is_media_url(url: str) -> bool:
    return bool(_MEDIA_RE.search(url_path_ext(url)))


def is_image_url(url: str) -> bool:
    return bool(_IMAGE_RE.search(url_path_ext(url)))


def clean_body(body: str) -> str:
    """Body cleanup before regex extraction (xcrawl3r.go:100-106)."""
    return (
        body.replace("*", "")
        .replace("\\u002f", "/")
        .replace("\\u0026", "&")
    )


def absolute_url(base: str, link: str) -> str | None:
    """Resolve link against page URL (colly AbsoluteURL semantics)."""
    link = (link or "").strip()
    if not link:
        return None
    try:
        return urljoin(base, link)
    except ValueError:
        return None


def extract_urls_regex(body: str) -> list[str]:
    """E1: find ALL URL-regex matches in a (cleaned) text body
    (xcrawl3r.go:108 FindAllString)."""
    return _URL_EXTRACT_RE.findall(clean_body(body))


def min_variant(url: str) -> str | None:
    """E4: `.min.`-stripped visit-only variant (xcrawl3r.go:194-205)."""
    if ".min." in url:
        return url.replace(".min.", ".")
    return None


SITEMAP_PATHS = [
    # verbatim list from pkg/xcrawl3r/xcrawl3r.go:245-258
    "/sitemap.xml",
    "/sitemap_news.xml",
    "/sitemap_index.xml",
    "/sitemap-index.xml",
    "/sitemapindex.xml",
    "/sitemap-news.xml",
    "/post-sitemap.xml",
    "/page-sitemap.xml",
    "/portfolio-sitemap.xml",
    "/home_slider-sitemap.xml",
    "/category-sitemap.xml",
    "/author-sitemap.xml",
]


def expand_seed_targets(url: str) -> list[str]:
    """Seed -> visit targets: seed, .min. variant, robots.txt, 12 sitemaps
    (xcrawl3r.go:225-267). Input must already be canonical."""
    targets = [url]
    mv = min_variant(url)
    if mv:
        targets.append(mv)
    parts = urlsplit(url)
    root = f"{parts.scheme}://{parts.netloc}"
    targets.append(root + "/robots.txt")
    targets.extend(root + p for p in SITEMAP_PATHS)
    return targets


# ---------------------------------------------------------------------------
# Spark column builders (native Catalyst expressions — JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def path_ext_col(url: Column) -> Column:
    """path.Ext equivalent: final '.ext' of parse_url(url,'PATH'), '' if none."""
    path = F.try_parse_url(url, F.lit("PATH"))
    base = F.element_at(F.split(path, "/"), -1)
    return F.when(
        base.contains("."), F.concat(F.lit("."), F.element_at(F.split(base, r"\."), -1))
    ).otherwise(F.lit(""))


def is_file_col(url: Column) -> Column:
    return path_ext_col(url).rlike(rf"\.({FILE_EXTS})$")


def is_media_col(url: Column) -> Column:
    return path_ext_col(url).rlike(rf"\.({MEDIA_EXTS})$")


def is_image_col(url: Column) -> Column:
    return path_ext_col(url).rlike(rf"\.({IMAGE_EXTS})$")


def host_col(url: Column) -> Column:
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


def clean_body_col(body: Column) -> Column:
    """F7 body cleanup as native (codegen'd) expressions — the column
    twin of ``clean_body`` (xcrawl3r.go:100-106): strip ``*``, unescape
    ``\\u002f`` -> ``/`` and ``\\u0026`` -> ``&``."""
    out = F.replace(body, F.lit("*"), F.lit(""))
    out = F.replace(out, F.lit("\\u002f"), F.lit("/"))
    return F.replace(out, F.lit("\\u0026"), F.lit("&"))


# ---------------------------------------------------------------------------
# vectorized canonicalize (Arrow batch; never per-row Python UDF)
# ---------------------------------------------------------------------------

def canonicalize_series(s: pd.Series) -> pd.Series:
    return s.map(canonicalize)


def canonicalize_udf():
    """pandas UDF string->string canonicalizer (F6)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _canon(s: pd.Series) -> pd.Series:
        return canonicalize_series(s)

    return _canon
