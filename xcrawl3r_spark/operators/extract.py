"""E1-E4: link extraction as an Arrow-batched ``mapInPandas`` operator.

UDTF-shaped: each fetched page row fans out to N occurrence rows
(src_url, url, kind). This is the one genuinely non-relational hot-path
stage (HTML/regex parsing), so it runs as a vectorized pandas stage; all
filtering around it stays JVM-side so Catalyst can push scope/ext
predicates below the shuffle.

Emits per-occurrence (never deduped here) to preserve the reference's
emit-before-visit multiset semantics (pkg/xcrawl3r/xcrawl3r.go:117-122,
148-153, 178-183; SURVEY §2.4 D3). The '.min.'-stripped variants of src
URLs are returned as kind='minvisit' rows — visit-only: they feed the next
frontier but are excluded from the edges output (xcrawl3r.go:194-205).
A failed fetch (an input row with a non-NULL ``error``) passes through as
one kind='error' row with NULL src_url, so a crawl's fetch output feeds
this one stage for its links and its errors alike.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.functions.extraction import extract_occurrences

EXTRACT_SCHEMA = (
    "seed_id string, src_url string, url string, kind string, depth int"
)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["seed_id", "src_url", "url", "kind", "depth", "error"]
    for pdf in batches:
        rows = []
        errors = pdf["error"] if "error" in pdf else [None] * len(pdf)
        for seed_id, url, depth, ctype, body, is_file, error in zip(
            pdf["seed_id"], pdf["url"], pdf["depth"], pdf["content_type"],
            pdf["body"], pdf["is_file"], errors,
        ):
            if isinstance(error, str):
                rows.append((seed_id, None, url, "error", depth, error))
                continue
            if body is None:
                continue
            for absu, kind in extract_occurrences(url, ctype, body, bool(is_file)):
                rows.append((seed_id, url, absu, kind, depth, None))
                if kind == "src":
                    mv = U.min_variant(absu)
                    if mv:
                        rows.append((seed_id, url, mv, "minvisit", depth, None))
        out = pd.DataFrame(rows, columns=cols)
        yield out if "error" in pdf else out.drop(columns="error")


def extract_links(fetched: DataFrame) -> DataFrame:
    """fetched(seed_id, url, depth, content_type, body, is_file[, error])
    -> occurrences(seed_id, src_url, url, kind, depth[, error])."""
    cols = ["seed_id", "url", "depth", "content_type", "body", "is_file"]
    schema = EXTRACT_SCHEMA
    if "error" in fetched.columns:
        cols.append("error")
        schema += ", error string"
    return fetched.select(*cols).mapInPandas(_extract_batches, schema)


def pages_to_documents(pages: DataFrame) -> DataFrame:
    """The crawl -> corpus bridge: fetched HTML pages become
    documents-shaped rows ready for the §2.10 training-data operators
    (dedup, quality gates, packing all consume (doc_id, source, text)).

    Extraction is a 100% native regexp/replace chain (whole-stage
    codegen, no UDF — unlike link extraction, text stripping needs no
    real parser):
      1. keep 200-status rows with an HTML content type and a body;
      2. drop <script>/<style> blocks (content is never prose) and
         HTML comments;
      3. strip the remaining tags;
      4. decode the six common entities (&amp; last, so staged
         encodings don't double-decode);
      5. collapse whitespace to single spaces and trim; drop rows whose
         visible text is empty.

    doc_id = md5_long(url) and source = the URL's host, both
    cross-engine deterministic, so downstream corpus runs are resumable
    and oracle-checkable. Scale posture: map-side only — zero shuffles;
    at 100 TB this is a scan-transform that rides whatever partitioning
    the pages table already has.

    Backreference-free regexes by design: the DuckDB oracle twin uses
    RE2, which lacks backrefs, so script/style close-tags are matched
    explicitly instead of via ``</\\1>``.
    """
    from pyspark.sql import functions as F

    from xcrawl3r_spark.functions.hashing import md5_long

    t = F.col("body")
    t = F.regexp_replace(t, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return (
        pages.filter(
            (F.col("status") == 200) & F.col("body").isNotNull()
            & F.col("content_type").rlike("(?i)html"))
        .select(
            md5_long(F.col("url")).alias("doc_id"),
            "url",
            F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("source"),
            t.alias("text"),
        )
        .filter(F.length("text") > 0)
    )
